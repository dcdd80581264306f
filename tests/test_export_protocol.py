"""Single-file exports are protocol-invariant.

``writers.export_chunks`` picks one of two arms by row count — the
narrow ``iter_packed_chunks`` below the format's ``wide_min_rows``,
the ordered ``iter_ordered_packed`` from it upward. Each case here
writes the same multi-partition frame through both arms (forced by
patching the threshold table, with chunk sizes small enough that the
two arms cut the rows differently) and requires byte-identical files.
The header creation time of sav/xpt/por is pinned to a fixed clock.
A skewed layout (empty partitions, one partition with ~90% of the
rows, more partitions than cores) checks the ordered arm's chunk
routing from per-partition counts.

Three more properties of the driver: a single-file export reads its
input exactly twice on the ordered arm (the pre-pass, then the
shuffle map); an input whose rows change between those reads raises
instead of writing a header that disagrees with the data; and the
pre-pass's per-partition statistics merge to Spark's own global
aggregate.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

import polars_readstat_spark.writers as writers
from polars_readstat_spark.writers import dta, por, sas7bdat, sav, xpt
from polars_readstat_spark.writers.dta import write_dta
from polars_readstat_spark.writers.por import write_por
from polars_readstat_spark.writers.sas7bdat import write_sas7bdat
from polars_readstat_spark.writers.sav import write_sav
from polars_readstat_spark.writers.xpt import write_xpt


class _FixedClock:
    """Stands in for the ``datetime`` module of the writers that stamp
    a creation time into their header."""

    class datetime(datetime.datetime):
        @classmethod
        def now(cls, tz=None):
            return cls(2021, 2, 3, 4, 5, 6)


def _frame(spark, tagged: bool, skewed: bool = False):
    exprs = [
        "id",
        "CASE WHEN id % 7 = 0 THEN NULL "
        "ELSE CAST(id AS DOUBLE) * 0.25 - 100 END AS x",
        "CASE WHEN id % 11 = 0 THEN NULL "
        "ELSE repeat(concat('s', id % 97), 1 + id % 3) END AS s",
        "CASE WHEN id % 13 = 0 THEN NULL "
        "ELSE date_add(DATE'1955-01-01', CAST(id * 5 AS INT)) END AS d",
        "CASE WHEN id % 17 = 0 THEN NULL "
        "ELSE timestamp_micros(-150000000000000 + id * 3600000123) END AS t",
    ]
    if tagged:
        exprs.append(
            "CASE WHEN id % 14 = 0 THEN '.a' "
            "WHEN id % 21 = 0 THEN '.b' END AS x_tag"
        )
    if not skewed:
        return spark.range(0, 3000, 1, 4).selectExpr(*exprs)
    # 9 partitions of 1531 ids: 0, 5 and 8 (the last) empty, 3 whole,
    # the rest 34 rows each — 1701 rows, 90% in one partition
    src = spark.range(0, 9 * 1531, 1, 9).where(
        "spark_partition_id() = 3 OR "
        "(spark_partition_id() IN (1, 2, 4, 6, 7) AND id % 45 = 0)"
    )
    return src.selectExpr(*exprs)


_TAGGED = {"tagged_missing": {"x": "x_tag"}}

# (case id, format key in EXPORT_THRESHOLDS, writer, extension, kwargs)
_CASES = [
    ("dta_tagged", "dta", write_dta, "dta", _TAGGED),
    ("sav", "sav", write_sav, "sav", {}),
    ("sav_compress", "sav", write_sav, "sav", {"compress": True}),
    ("zsav", "sav", write_sav, "zsav", {}),
    ("xpt_v5", "xpt", write_xpt, "xpt", {}),
    ("xpt_v8_tagged", "xpt", write_xpt, "xpt", {"version": 8, **_TAGGED}),
    ("por", "por", write_por, "por", {}),
    ("sas7bdat", "sas7bdat", write_sas7bdat, "sas7bdat", {}),
    ("sas7bdat_rle", "sas7bdat", write_sas7bdat, "sas7bdat",
     {"compress": "rle"}),
    ("sas7bdat_numeric_lengths", "sas7bdat", write_sas7bdat, "sas7bdat",
     {"numeric_lengths": {"id": 4}}),
]


def _force_arm(monkeypatch, fmt, arm):
    wide_min_rows = 0 if arm == "ordered" else 1 << 62
    monkeypatch.setitem(
        writers.EXPORT_THRESHOLDS, fmt, (wide_min_rows, 700, 300)
    )


# the skewed layout, routed as on 4 cores
_SKEWED = ["sav", "xpt_v8_tagged", "sas7bdat_rle"]
_ARM_CASES = [(*c[1:], False) for c in _CASES] + [
    (*c[1:], True) for c in _CASES if c[0] in _SKEWED
]
_ARM_IDS = [c[0] for c in _CASES] + [f"skewed_{c}" for c in _SKEWED]


@pytest.mark.parametrize(
    "fmt,writer,ext,kwargs,skewed", _ARM_CASES, ids=_ARM_IDS
)
def test_both_arms_write_identical_bytes(
    spark, tmp_path, monkeypatch, fmt, writer, ext, kwargs, skewed
):
    for mod in (sav, xpt, por):
        monkeypatch.setattr(mod, "datetime", _FixedClock)
    df = _frame(spark, "tagged_missing" in kwargs, skewed)
    if skewed:
        n = df.count()
        assert n == 1701 and n % 300 and n % 700
        monkeypatch.setattr(
            SparkContext, "defaultParallelism", property(lambda sc: 4)
        )
    out = {}
    for arm in ("narrow", "ordered"):
        _force_arm(monkeypatch, fmt, arm)
        path = str(tmp_path / f"{arm}.{ext}")
        writer(df, path, **kwargs)
        with open(path, "rb") as fh:
            out[arm] = fh.read()
    assert out["narrow"] and out["narrow"] == out["ordered"]


# (case id, writer module, format key, writer, arm, rows the pre-pass
# sees → rows the export sees)
_FLIP_CASES = [
    ("sav_narrow", sav, "sav", write_sav, "narrow", "fewer"),
    ("sav_ordered", sav, "sav", write_sav, "ordered", "fewer"),
    ("sav_ordered_more", sav, "sav", write_sav, "ordered", "more"),
    ("dta_narrow", dta, "dta", write_dta, "narrow", "fewer"),
    ("dta_ordered", dta, "dta", write_dta, "ordered", "fewer"),
    ("xpt_ordered", xpt, "xpt", write_xpt, "ordered", "fewer"),
    ("por_ordered", por, "por", write_por, "ordered", "fewer"),
    ("sas7bdat_ordered", sas7bdat, "sas7bdat", write_sas7bdat, "ordered",
     "more"),
]


@pytest.mark.parametrize(
    "mod,fmt,writer,arm,change", [c[1:] for c in _FLIP_CASES],
    ids=[c[0] for c in _FLIP_CASES],
)
def test_input_that_changes_between_reads_raises(
    spark, tmp_path, monkeypatch, mod, fmt, writer, arm, change
):
    # a non-deterministic filter whose coin flips once the pre-pass is
    # done: every odd row is kept only before ("fewer") or only after
    # ("more") it, so the header's row count cannot match the data
    flag = tmp_path / "after_prepass"
    keep_odd_after = change == "more"

    def coin(i):
        import os

        return i % 2 == 0 or os.path.exists(str(flag)) == keep_odd_after

    real = writers.prepass

    def prepass_then_flip(*args):
        stats = real(*args)
        flag.touch()
        return stats

    monkeypatch.setattr(mod, "prepass", prepass_then_flip)
    _force_arm(monkeypatch, fmt, arm)
    df = (
        spark.range(0, 2000, 1, 4)
        .where(F.udf(coin, "boolean").asNondeterministic()("id"))
        .selectExpr("id", "CAST(id AS DOUBLE) / 3 AS x", "concat('s', id) AS s")
    )
    with pytest.raises(RuntimeError, match="pre-pass counted"):
        writer(df, str(tmp_path / f"out.{fmt}"))


@pytest.mark.parametrize(
    "writer,kwargs", [(write_sav, {}), (write_sas7bdat, {"compress": "rle"})],
    ids=["sav", "sas7bdat_rle"],
)
def test_ordered_export_reads_input_twice(
    spark, tmp_path, monkeypatch, writer, kwargs
):
    # an always-true Python UDF in a filter (which column pruning
    # cannot drop) counts the rows each read of the input evaluates
    rows = 3000
    seen = spark.sparkContext.accumulator(0)

    def keep(i):
        seen.add(1)
        return True

    df = (
        spark.range(0, rows, 1, 4)
        .where(F.udf(keep, "boolean")("id"))
        .selectExpr("id", "CAST(id AS DOUBLE) / 3 AS x", "concat('s', id) AS s")
    )
    fmt = "sas7bdat" if writer is write_sas7bdat else "sav"
    _force_arm(monkeypatch, fmt, "ordered")
    writer(df, str(tmp_path / f"out.{fmt}"), **kwargs)
    # the pre-pass, then the shuffle map: no third read
    assert seen.value == 2 * rows


def test_prepass_matches_one_global_aggregate(spark):
    # per-partition results merged on the driver must equal Spark's own
    # global aggregate: NaN above every number, nulls skipped, exact
    # decimals, an all-null partition, empty partitions, and columns
    # named like the pre-pass's own aggregates
    df = spark.range(0, 1000, 1, 6).where("spark_partition_id() != 4").selectExpr(
        "CASE WHEN id = 250 THEN DOUBLE('NaN') WHEN id >= 500 THEN NULL "
        "ELSE id * -0.5 END AS x",
        "CASE WHEN id BETWEEN 167 AND 333 THEN NULL "
        "ELSE CAST(id AS DECIMAL(12, 3)) / 7 END AS dec",
        "CAST(id % 300 AS SMALLINT) AS n",
        "CASE WHEN id < 700 THEN repeat('é', CAST(id % 9 AS INT)) END AS pid",
    )
    ranges = ["x", "dec", "n"]
    got = writers.prepass(df, ["pid"], ranges)
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.max(F.octet_length("pid")).alias("__w_pid"),
    ]
    for c in ranges:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    want = df.agg(*aggs).collect()[0].asDict()
    counts = got.pop("__counts")
    assert counts[4] == 0 and sum(counts) == want["__n"]
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert repr(got[k]) == repr(v), k
