"""Distributed partitioned export: dir-write -> dir-read roundtrips,
parts share one schema from the global pre-pass, and tasks (not the
driver) write the files."""

from __future__ import annotations

import glob
import os

import pytest


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    import polars_readstat_spark as prs

    prs.register(spark)


def _src(spark, n=10_000, parts=6):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2.5).alias("v"),
            F.concat(F.lit("row"), F.col("id")).alias("s"),
            F.to_date(F.lit("2020-01-01")).alias("d"),
        )
    )


def test_roundtrip_dir_write_dir_read(spark, tmp_path):
    import polars_readstat_spark as prs

    d = str(tmp_path / "out_dta")
    res = prs.write_readstat_partitioned(_src(spark), d)
    files = sorted(glob.glob(os.path.join(d, "part-*.dta")))
    assert len(files) == len(res) >= 2  # actually parallel, many files
    assert sum(r["n_rows"] for r in res) == 10_000
    assert not glob.glob(os.path.join(d, "*.tmp*"))  # atomic renames

    back = spark.read.format("readstat").load(d)
    assert back.count() == 10_000
    rows = {r.k: r for r in back.collect()}
    assert rows[9999].s == "row9999" and rows[9999].v == 9999 * 2.5
    assert str(rows[0].d) == "2020-01-01"


def test_parts_share_global_schema(spark, tmp_path):
    """A bigint column that is int-ranged overall must downcast the
    same way in every part even if one part holds only small values."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.dta.meta import parse_dta_meta

    df = (
        spark.range(1000)
        .select((F.col("id") + 2_200_000_000).alias("big"))
        .repartition(4)
    )
    d = str(tmp_path / "big")
    prs.write_readstat_partitioned(df, d)
    kinds = set()
    for f in glob.glob(os.path.join(d, "part-*.dta")):
        meta = parse_dta_meta(f)
        kinds.add(meta.variables[0].kind)
    assert kinds == {"double"}  # out-of-int32 range ⇒ double everywhere
    total = spark.read.format("readstat").load(d).count()
    assert total == 1000


def test_empty_partitions_skipped(spark, tmp_path):
    import polars_readstat_spark as prs

    df = _src(spark, n=3, parts=8)  # more partitions than rows
    d = str(tmp_path / "sparse")
    res = prs.write_readstat_partitioned(df, d)
    assert sum(r["n_rows"] for r in res) == 3
    assert len(glob.glob(os.path.join(d, "part-*.dta"))) == len(res) <= 3
    assert spark.read.format("readstat").load(d).count() == 3


def test_unsupported_format_raises(spark, tmp_path):
    import polars_readstat_spark as prs

    with pytest.raises(NotImplementedError):
        prs.write_readstat_partitioned(_src(spark, 10, 1), str(tmp_path), ext="por")


def test_sav_roundtrip_dir_write_dir_read(spark, tmp_path):
    import polars_readstat_spark as prs

    d = str(tmp_path / "out_sav")
    res = prs.write_readstat_partitioned(_src(spark), d, ext="sav")
    files = sorted(glob.glob(os.path.join(d, "part-*.sav")))
    assert len(files) == len(res) >= 2
    assert sum(r["n_rows"] for r in res) == 10_000

    back = spark.read.format("readstat").load(d)
    assert back.count() == 10_000
    rows = {int(r.k): r for r in back.collect()}
    assert rows[9999].s == "row9999" and rows[9999].v == 9999 * 2.5
    assert str(rows[0].d) == "2020-01-01"


def test_sav_parts_share_string_width(spark, tmp_path):
    """String width must come from the global pre-pass: a part that
    only holds short strings still declares the corpus-wide width."""
    from pyspark.sql import functions as F

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.sav.meta import parse_sav_meta

    df = (
        spark.range(100)
        .select(F.concat(F.lit("x"), F.expr("repeat('y', cast(id % 40 as int))")).alias("s"))
        .repartition(4)
    )
    d = str(tmp_path / "w")
    prs.write_readstat_partitioned(df, d, ext="sav")
    widths = set()
    for f in glob.glob(os.path.join(d, "part-*.sav")):
        m = parse_sav_meta(f)
        widths.add(m.variables[0].string_len or 0)
    assert len(widths) == 1  # one global width everywhere
    assert spark.read.format("readstat").load(d).count() == 100


def test_xpt_roundtrip_dir_write_dir_read(spark, tmp_path):
    import polars_readstat_spark as prs

    d = str(tmp_path / "out_xpt")
    res = prs.write_readstat_partitioned(_src(spark), d, ext="xpt")
    assert len(res) >= 2 and sum(r["n_rows"] for r in res) == 10_000

    back = spark.read.format("readstat").load(d)
    assert back.count() == 10_000
    rows = {int(r.K): r for r in back.collect()}
    assert rows[9999].S == "row9999" and rows[9999].V == 9999 * 2.5
    assert str(rows[0].D) == "2020-01-01"


def _typed_src(spark):
    """3000 rows over 4 partitions: nulls in every non-key column,
    dates on both sides of the 1960 SAS/Stata epoch, and timestamps
    with a sub-second part."""
    return spark.range(0, 3000, 1, 4).selectExpr(
        "id as k",
        "case when id % 7 = 0 then null else cast(id * 0.5 as double) end as v",
        "case when id % 5 = 0 then null "
        "else concat('row', cast(id as string)) end as s",
        "case when id % 6 = 0 then null "
        "else date_add(date'1959-12-20', cast(id * 37 as int)) end as d",
        "case when id % 9 = 0 then null "
        "else timestamp_micros(946684800000000 + id * 86400123457) end as ts",
    )


# timestamp precision the reader hands back per format, in µs: dta
# stores %tc milliseconds, sav/zsav whole seconds
_TS_TOL_US = {"dta": 1000, "sav": 1_000_000, "zsav": 1_000_000, "xpt": 1, "sas7bdat": 1}


@pytest.mark.parametrize("fmt", ["dta", "sav", "zsav", "xpt", "sas7bdat"])
def test_roundtrip_matrix_non_utc_session(spark, tmp_path, fmt):
    """Every distributed format roundtrips nulls, dates and sub-second
    timestamps under a non-UTC session timezone: timestamps keep the
    session's wall clock, null strings read back blank."""
    import datetime as dt

    import polars_readstat_spark as prs

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        src = _typed_src(spark)
        d = str(tmp_path / fmt)
        res = prs.write_readstat_partitioned(src, d, ext=fmt)
        assert len(res) == 4 and sum(r["n_rows"] for r in res) == 3000
        back = spark.read.format("readstat").load(d)
        name = {c.lower(): c for c in back.columns}
        pat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

        def rows(df, col):
            return {
                int(r[0]): tuple(r[1:])
                for r in df.selectExpr(
                    *(f"`{col(c)}`" for c in ("k", "v", "s", "d")),
                    f"date_format(`{col('ts')}`, '{pat}')",
                ).collect()
            }

        want = rows(src, lambda c: c)
        got = rows(back, name.get)
    finally:
        spark.conf.set(key, prev)
    assert sorted(got) == sorted(want)

    def us(text):
        return dt.datetime.strptime(text, "%Y-%m-%d %H:%M:%S.%f")

    for k, (v, s, day, ts) in want.items():
        gv, gs, gday, gts = got[k]
        assert (gv, gs, gday) == (v, s or "", day), k
        if ts is None:
            assert gts is None, k
        else:
            lag = abs((us(gts) - us(ts)) / dt.timedelta(microseconds=1))
            assert lag < _TS_TOL_US[fmt], (k, ts, gts)


@pytest.mark.parametrize("fmt", ["dta", "sav", "zsav", "xpt", "sas7bdat"])
def test_partitioned_export_keeps_labels(spark, tmp_path, fmt):
    """The single-file writers' labels survive the distributed path in
    every part: data and value labels (dta, sav), variable labels (all
    formats), sav measures, and xpt version-8 long names — read back
    through the metadata surface."""
    import polars_readstat_spark as prs

    df = spark.range(0, 300, 1, 3).selectExpr(
        "id as k",
        "cast(id % 3 as int) as code",
        "concat('r', cast(id as string)) as a_long_variable_name",
    )
    var_labels = {
        "k": "Row key",
        "code": "Answer code",
        "a_long_variable_name": "Free text",
    }
    kw = {"variable_labels": var_labels}
    if fmt in ("dta", "sav", "zsav"):
        kw["data_label"] = "Survey wave 1"
        kw["value_labels"] = {"code": {1: "yes", 2: "no"}}
    if fmt in ("sav", "zsav"):
        kw["measures"] = {"code": "nominal"}
    if fmt == "xpt":
        kw["version"] = 8
    d = str(tmp_path / fmt)
    res = prs.write_readstat_partitioned(df, d, ext=fmt, **kw)
    assert len(res) == 3
    # xpt: names up to 8 characters read back as upper-case short
    # names; the v8 LABELV8 record carries the long one
    reader_name = (
        {"k": "K", "code": "CODE"} if fmt == "xpt" else {}
    )
    for r in res:
        md = prs.read_metadata(r["path"])
        got = {v["name"]: v for v in md["variables"]}
        for col, label in var_labels.items():
            assert got[reader_name.get(col, col)]["label"] == label, col
        if fmt in ("dta", "sav", "zsav"):
            assert md["file_label"] == "Survey wave 1"
            codes = {
                float(c): lab
                for c, lab in got["code"]["value_labels"].items()
            }
            assert codes == {1.0: "yes", 2.0: "no"}
        if fmt in ("sav", "zsav"):
            assert got["code"]["measure"] == "nominal"
