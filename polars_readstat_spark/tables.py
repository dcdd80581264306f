"""Loaders for the driver-provided parquet test tables (TESTDATA.md).

All tables load with the plain JVM parquet scan (columnar, predicate /
projection pushdown intact). The one wrinkle is ``events``: depending
on generator version the file stores ts as TIMESTAMP(NANOS) — which
Spark's vectorized reader rejects, handled via
``spark.sql.legacy.parquet.nanosAsLong=true`` + in-plan ns→µs — or
TIMESTAMP(MICROS) not-UTC-adjusted, handled by disabling NTZ inference
so the stored value arrives as tz-independent epoch-µs TIMESTAMP.
Both conversions stay inside WholeStageCodegen; no Python involved.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # The events file has stored ts as TIMESTAMP(NANOS) (older
        # generator) or TIMESTAMP(MICROS, not-UTC-adjusted) (current).
        # Read it with NTZ inference off so a micros column arrives as
        # TIMESTAMP carrying the raw stored value as epoch-µs — the
        # same semantics DuckDB's naive read gives the oracle, and
        # independent of the session timezone (an NTZ→LTZ cast would
        # shift by the session offset; this path never does).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        df = spark.read.parquet(path)
        # ts arrives as long ns-since-epoch under the legacy conf.
        if dict(df.dtypes).get("ts") == "bigint":
            # integer division: ns values (~1.7e18) overflow double precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow-scan input across the cluster before per-row
    compute that dwarfs the input bytes (explode/shingle/hash: a text
    corpus expands 100-1000× into grams).

    A small parquet file scans as ONE task (one row-group is
    unsplittable), which serializes the whole downstream stage; the
    fix is one repartition whose shuffle moves only the tiny input —
    measured 3.5 → 1.2 s on the boilerplate gram pipeline at sf0.1
    (594 KB input, single row-group). When the scan already covers
    ≥ half the cores (the 100 TB many-files shape) this is a no-op
    decision: a corpus-wide reshuffle is never paid at scale.

    Apply ONLY ahead of per-row-heavy stages. For join/agg-shaped
    pipelines (the embeddings ANN suite) the first exchange already
    fans the work out and the extra repartition is a measured
    regression (ann_lsh_recall 2.4 → 3.3 s, r7) — those loads stay
    plain."""
    sess = df.sparkSession
    try:
        cores = int(sess.sparkContext.defaultParallelism)
        if df.rdd.getNumPartitions() * 2 >= cores:
            return df
    except Exception:
        return df
    return df.repartition(cores)
