"""iter_ordered_packed (JVM-tagged wide packing protocol).

Rows are tagged in the JVM with a global chunk id derived from the
pre-pass's per-partition row counts, routed to cores by chunk id,
packed in one Python crossing, and drained in exact input order.
These tests pin the ordering contract and byte-equality between the
wide and narrow protocols — the two arms writers.export_chunks
switches between on row count for every single-file writer.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from polars_readstat_spark.writers import (
    iter_ordered_packed,
    iter_packed_chunks,
    prepass,
)


def _counts(df):
    return prepass(df)["__counts"]


def _ids_pack(pdf) -> bytes:
    # payload = the row ids in the order the pack fn saw them
    return b",".join(str(int(v)).encode() for v in pdf["id"]) + b";"


def test_ordered_packed_exact_input_order(spark):
    # 10 input partitions, rows strictly increasing across them — the
    # drained payload stream must reproduce the exact global order
    # after the shuffle by chunk id
    df = (
        spark.range(0, 25_000, 1, 10)
        .select(F.col("id"), (F.col("id") % 7).alias("v"))
    )
    got = b"".join(
        payload
        for payload, _n in iter_ordered_packed(
            df, _ids_pack, _counts(df), max_rows=512
        )
    )
    ids = [int(x) for chunk in got.split(b";") if chunk for x in chunk.split(b",")]
    assert ids == list(range(25_000))


def test_ordered_packed_matches_narrow_protocol(spark):
    df = spark.range(0, 9_999, 1, 4).select(
        F.col("id"), F.concat(F.lit("s"), F.col("id")).alias("s")
    )

    def pack(pdf):
        return ("|".join(f"{i}:{s}" for i, s in zip(pdf["id"], pdf["s"])) + "\n").encode()

    wide = b"".join(p for p, _ in iter_ordered_packed(df, pack, _counts(df), max_rows=1000))
    narrow = b"".join(p for p, _ in iter_packed_chunks(df, pack, 1000))
    # chunk boundaries differ; the concatenated per-row stream must not
    assert wide.replace(b"\n", b"|") == narrow.replace(b"\n", b"|")


def test_ordered_packed_row_totals_and_chunks(spark):
    df = spark.range(0, 5_000, 1, 3)
    rows = 0
    chunks = 0
    for payload, n in iter_ordered_packed(
        df.select(F.col("id")), _ids_pack, _counts(df), max_rows=1024
    ):
        assert payload
        rows += n
        chunks += 1
    assert rows == 5_000
    # chunk ids are per-partition: each of the 3 partitions rounds up
    assert chunks >= 5


def test_ordered_packed_empty_frame(spark):
    df = spark.range(0, 0).select(F.col("id"))
    assert list(iter_ordered_packed(df, _ids_pack, _counts(df), max_rows=64)) == []


def test_ordered_packed_reserved_columns(spark):
    df = spark.range(3).select(F.col("id").alias("__prs_mid"))
    with pytest.raises(ValueError, match="reserved"):
        list(iter_ordered_packed(df, _ids_pack, _counts(df)))


def test_ordered_packed_cast_after_shuffle(spark):
    # cast hook runs post-shuffle and must see the tag columns intact
    df = spark.range(0, 4_000, 1, 5).select(F.col("id"))

    def cast(shuffled):
        return shuffled.select(
            (F.col("id") * 2).alias("id"),
            F.col("__prs_mid"),
            F.col("__prs_cid"),
        )

    got = b"".join(
        p for p, _ in iter_ordered_packed(
            df, _ids_pack, _counts(df), max_rows=600, cast=cast
        )
    )
    ids = [int(x) for chunk in got.split(b";") if chunk for x in chunk.split(b",")]
    assert ids == [2 * i for i in range(4_000)]


@pytest.mark.parametrize(
    "counts",
    [[0, 128, 256, 0], [256, 128], [0, 0, 0, 0, 384], [384], []],
    ids=["other_layout", "fewer_partitions", "later_partition", "one_partition", "none"],
)
def test_ordered_packed_counts_of_another_layout(spark, counts):
    # the export can lay df out differently from the pre-pass (adaptive
    # execution may coalesce an upstream shuffle another way); counts
    # that do not describe df's partitions cost load balance, not order.
    # df's layout is [128, 128, 128, 0] rows: two 64-row chunks in each
    # of the first three partitions
    df = spark.range(0, 512, 1, 4).where("id < 384")
    got = b"".join(
        p for p, _ in iter_ordered_packed(df, _ids_pack, counts, max_rows=64)
    )
    ids = [int(x) for chunk in got.split(b";") if chunk for x in chunk.split(b",")]
    assert ids == list(range(384))
