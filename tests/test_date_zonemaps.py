"""Date zone maps (round 13): DATE columns participate in file- and
stripe-level skipping. Soundness basis: every format stores a date as
an exact integer day count (dta int32 days; sas/xpt float days; sav
float seconds in whole-day multiples — all exact in float64 ≤ 2^53),
so the reader hands back exactly the written date and min/max over
epoch days bounds the output domain. Stats carry ``"t": "date"`` and
only datetime.date operands coerce against them; datetime/time kinds
stay excluded (sub-second storage rounds, and a rounded value can
cross a range bound)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pytest

from polars_readstat_spark.writers.spark_sink import (
    ZoneMapStats,
    _merge_col,
    _publishable_cols,
)

EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - EPOCH).days


def _acc(fmt="dta", stripe_rows=0):
    return ZoneMapStats(["d"], ["date"], fmt, stripe_rows=stripe_rows)


def _b(arr):
    return pa.RecordBatch.from_arrays([arr], names=["d"])


# ----------------------------------------------------------- accumulation

def test_date32_accumulates_days():
    acc = _acc()
    acc.add(_b(pa.array(
        [dt.date(1994, 1, 1), None, dt.date(1994, 6, 1)],
        type=pa.date32(),
    )))
    st = acc.stats["d"]
    assert st[:4] == [_days(dt.date(1994, 1, 1)),
                      _days(dt.date(1994, 6, 1)), 2, 3]
    assert st[5] == "date"
    pub = _publishable_cols(acc.stats)["d"]
    assert pub["t"] == "date" and isinstance(pub["min"], int)


def test_midnight_timestamp_accumulates_nonmidnight_poisons():
    ok = _acc()
    ok.add(_b(pa.array(
        [dt.datetime(2000, 1, 2, 0, 0, 0)], type=pa.timestamp("us"),
    )))
    assert ok.stats["d"][:2] == [_days(dt.date(2000, 1, 2))] * 2
    bad = _acc()
    bad.add(_b(pa.array(
        [dt.datetime(2000, 1, 2, 12, 30)], type=pa.timestamp("us"),
    )))
    assert bad.stats["d"][4] is True
    assert "d" not in _publishable_cols(bad.stats)


def test_date64_subday_millis_poison():
    ok = _acc()
    ok.add(_b(pa.array([86400000 * 3], type=pa.date64())))
    assert ok.stats["d"][:2] == [3, 3]
    bad = _acc()
    bad.add(_b(pa.array([86400000 * 3 + 500], type=pa.date64())))
    assert bad.stats["d"][4] is True


def test_fractional_day_float_poisons():
    acc = _acc("sas7bdat")
    acc.add(_b(pa.array([3.5], type=pa.float64())))
    assert acc.stats["d"][4] is True


def test_unknown_format_float_poisons():
    # fmt dta never hands floats for dates; if one appears, refuse
    acc = _acc("dta")
    acc.add(_b(pa.array([3.0], type=pa.float64())))
    assert acc.stats["d"][4] is True


def test_merge_preserves_date_tag():
    m = _merge_col([1, 5, 2, 2, False, "date"], [7, 9, 2, 2, False, "date"])
    assert m == [1, 9, 4, 4, False, "date"]
    p = _merge_col([1, 5, 2, 2, False, "date"],
                   [None, None, 1, 1, True, "date"])
    assert p == [None, None, 3, 3, True, "date"]


def test_all_null_dates_publish_null_accounting():
    acc = _acc()
    acc.add(_b(pa.array([None, None], type=pa.date32())))
    pub = _publishable_cols(acc.stats)["d"]
    assert pub["nn"] == 0 and pub["n"] == 2 and pub["t"] == "date"


# ------------------------------------------------------------- refutation

def _st(mn, mx, nn=10, n=10):
    return {"d": {"min": mn, "max": mx, "nn": nn, "n": n, "t": "date"}}


def test_date_range_refutation_shapes():
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        LessThan,
        Not,
    )

    from polars_readstat_spark.sources.filters import _refutes

    lo, hi = _days(dt.date(1994, 1, 1)), _days(dt.date(1994, 3, 31))
    cols = _st(lo, hi)
    d = dt.date
    assert _refutes(EqualTo(("d",), d(1995, 1, 1)), cols)
    assert not _refutes(EqualTo(("d",), d(1994, 2, 1)), cols)
    assert _refutes(GreaterThan(("d",), d(1994, 3, 31)), cols)
    assert _refutes(LessThan(("d",), d(1994, 1, 1)), cols)
    assert _refutes(In(("d",), (d(1990, 1, 1), d(1999, 9, 9))), cols)
    assert not _refutes(In(("d",), (d(1990, 1, 1), d(1994, 2, 2))), cols)
    # Not(Eq) on a constant date file
    const = _st(lo, lo)
    assert _refutes(Not(EqualTo(("d",), d(1994, 1, 1))), const)
    assert not _refutes(Not(EqualTo(("d",), d(1994, 1, 2))), const)
    # Not(ordered) complement
    assert _refutes(Not(GreaterThan(("d",), d(1993, 12, 31))), cols)


def test_non_date_operands_never_refute_date_stats():
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, Not

    from polars_readstat_spark.sources.filters import _refutes

    cols = _st(100, 200)
    # the INT equal to the day number must not refute...
    assert not _refutes(EqualTo(("d",), 300), cols)
    assert not _refutes(GreaterThan(("d",), 200), cols)
    assert not _refutes(In(("d",), (999,)), cols)
    # ...nor a datetime (subclasses date but compares by instant)...
    assert not _refutes(
        EqualTo(("d",), dt.datetime(2100, 1, 1, 0, 0)), cols
    )
    # ...nor a string; and the negated forms stay silent too
    assert not _refutes(EqualTo(("d",), "2100-01-01"), cols)
    const = _st(100, 100)
    assert not _refutes(Not(EqualTo(("d",), 100)), const)


def test_date_null_accounting_refutes():
    from pyspark.sql.datasource import IsNotNull, IsNull

    from polars_readstat_spark.sources.filters import _refutes

    assert _refutes(IsNotNull(("d",)), _st(None, None, nn=0, n=5))
    assert _refutes(IsNull(("d",)), _st(1, 2, nn=5, n=5))
    assert not _refutes(IsNull(("d",)), _st(1, 2, nn=4, n=5))


# ---------------------------------------------------------------- grammar

def test_parse_where_date_literals():
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In

    from polars_readstat_spark.sources.filters import parse_where

    got = parse_where(
        "d >= DATE '1994-06-01' AND d IN (DATE '1994-01-01', "
        "date '1995-01-01') AND d = DATE '2020-02-29'"
    )
    assert got == [
        GreaterThanOrEqual(("d",), dt.date(1994, 6, 1)),
        In(("d",), (dt.date(1994, 1, 1), dt.date(1995, 1, 1))),
        EqualTo(("d",), dt.date(2020, 2, 29)),
    ]


def test_parse_where_bad_date_literal():
    from polars_readstat_spark.sources.filters import parse_where

    with pytest.raises(ValueError, match="invalid date literal"):
        parse_where("d = DATE '1994-13-77'")
    with pytest.raises(ValueError):
        parse_where("d = DATE 5")  # DATE must be followed by a string


# ------------------------------------------------- cross-format soundness

TORTURE = [
    dt.date(1, 1, 1),
    dt.date(1582, 10, 15),
    dt.date(1900, 1, 1),
    dt.date(1959, 12, 31),
    dt.date(1970, 1, 1),
    dt.date(2020, 2, 29),
    dt.date(9999, 12, 31),
    None,
    dt.date(1994, 6, 1),
]


@pytest.mark.parametrize("fmt", ["dta", "sav", "zsav", "xpt", "sas7bdat"])
def test_date_refutation_soundness_battery(spark, tmp_path, fmt):
    """The r12 invariant for dates, per format: every refutation
    claimed from the PUBLISHED manifest (file level and stripe level)
    must exclude ZERO matching read-back rows — extremes (year 1,
    9999), pre-epoch, leap day, and nulls included."""
    import polars_readstat_spark as prs
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
    )

    from polars_readstat_spark.sources.datasource import ReadstatDataSource
    from polars_readstat_spark.sources.filters import _compile, _refutes

    prs.register(spark)
    d = str(tmp_path / fmt)
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(TORTURE)], "rid int, d date"
    )
    (
        sdf.coalesce(1)
        .write.format("readstat")
        .option("format", fmt)
        .option("zonemap_stripe_rows", "4")
        .mode("overwrite")
        .save(d)
    )
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    (entry,) = m["files"].values()
    dcol = "d" if fmt not in ("xpt",) else "D"
    assert entry["cols"][dcol]["t"] == "date"
    # read-back truth through the real reader
    ds = ReadstatDataSource({"path": d})
    r = ds.reader(ds._schema_uncompressed())
    back = []
    for p in r.partitions():
        for b in r.read(p):
            idx = b.schema.names.index(dcol)
            back.extend(b.column(idx).to_pylist())
    assert sorted(
        x for x in back if x is not None
    ) == sorted(x for x in TORTURE if x is not None)

    operands = [x for x in TORTURE if x is not None] + [
        dt.date(1994, 5, 31), dt.date(2100, 1, 1), dt.date(100, 7, 4),
    ]
    shapes = [
        lambda a, o: EqualTo(a, o),
        lambda a, o: GreaterThan(a, o),
        lambda a, o: GreaterThanOrEqual(a, o),
        lambda a, o: LessThan(a, o),
        lambda a, o: LessThanOrEqual(a, o),
        lambda a, o: In(a, (o,)),
        lambda a, o: Not(EqualTo(a, o)),
        lambda a, o: Not(LessThanOrEqual(a, o)),
        lambda a, o: IsNull(a),
        lambda a, o: IsNotNull(a),
    ]
    stripe_sets = [("file", entry["cols"], back)]
    st = entry.get("stripes")
    if st:
        for i, cols in enumerate(st["cols"]):
            span = back[i * st["rows"]: (i + 1) * st["rows"]]
            stripe_sets.append((f"stripe{i}", cols, span))
    checked = fired = 0
    for label, cols, rows in stripe_sets:
        for mk in shapes:
            for o in operands:
                f = mk((dcol,), o)
                fn = _compile(f)
                if fn is None or not _refutes(f, cols):
                    continue
                fired += 1
                batch = pa.RecordBatch.from_arrays(
                    [pa.array(rows, type=pa.date32())], names=[dcol]
                )
                kept = batch.filter(fn(batch))
                assert kept.num_rows == 0, (
                    f"UNSOUND date refutation [{fmt}/{label}]: {f} "
                    f"kept {kept.column(0).to_pylist()}"
                )
            checked += 1
    assert fired > 10  # the net actually fired


# ------------------------------------------------------------- end-to-end

def test_date_prune_matches_catalyst_filter(spark, tmp_path):
    """Public-API equivalence on a date-partitioned layout: the
    where-option scan (files pruned + stripes trimmed) must equal the
    unfiltered scan filtered by Catalyst."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    prs.register(spark)
    d = str(tmp_path / "lake")
    (
        spark.sql(
            "select id, date_add(date'1994-01-01', "
            "cast(id / 50 as int)) as d, cast(id % 9 as double) as v "
            "from range(20000)"
        )
        .repartitionByRange(4, "d")
        .sortWithinPartitions("d")
        .write.format("readstat")
        .option("format", "dta")
        .option("zonemap_stripe_rows", "1024")
        .mode("overwrite")
        .save(d)
    )
    w = "d >= DATE '1994-06-01' AND d < DATE '1994-07-01'"
    a = (
        spark.read.format("readstat").option("where", w).load(d)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("id").cast("long")).alias("s"),
        )
        .collect()[0]
    )
    b = (
        spark.read.format("readstat").load(d)
        .filter(
            (F.col("d") >= "1994-06-01") & (F.col("d") < "1994-07-01")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("id").cast("long")).alias("s"),
        )
        .collect()[0]
    )
    assert a == b and a.n > 0
