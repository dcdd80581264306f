"""Single-file exports are protocol-invariant.

``writers.export_chunks`` picks one of two arms by row count — the
narrow ``iter_packed_chunks`` below the format's ``wide_min_rows``,
the ordered ``iter_ordered_packed`` from it upward. Each case here
writes the same multi-partition frame through both arms (forced by
patching the threshold table, with chunk sizes small enough that the
two arms cut the rows differently) and requires byte-identical files.
The header creation time of sav/xpt/por is pinned to a fixed clock.
"""

from __future__ import annotations

import datetime

import pytest

import polars_readstat_spark.writers as writers
from polars_readstat_spark.writers import por, sav, xpt
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


def _frame(spark, tagged: bool):
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
    return spark.range(0, 3000, 1, 4).selectExpr(*exprs)


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


@pytest.mark.parametrize(
    "fmt,writer,ext,kwargs", [c[1:] for c in _CASES], ids=[c[0] for c in _CASES]
)
def test_both_arms_write_identical_bytes(
    spark, tmp_path, monkeypatch, fmt, writer, ext, kwargs
):
    for mod in (sav, xpt, por):
        monkeypatch.setattr(mod, "datetime", _FixedClock)
    df = _frame(spark, "tagged_missing" in kwargs)
    out = {}
    for arm, wide_min_rows in (("narrow", 1 << 62), ("ordered", 0)):
        monkeypatch.setitem(
            writers.EXPORT_THRESHOLDS, fmt, (wide_min_rows, 700, 300)
        )
        path = str(tmp_path / f"{arm}.{ext}")
        writer(df, path, **kwargs)
        with open(path, "rb") as fh:
            out[arm] = fh.read()
    assert out["narrow"] and out["narrow"] == out["ordered"]
