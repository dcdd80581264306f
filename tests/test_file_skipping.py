"""Zone-map file skipping: the sink publishes _prs_stats.json
(per-part numeric min/max + null accounting + size), and the reader's
filter pushdown uses it to skip whole part-files whose ranges refute
accepted predicates — Delta/Iceberg-style data skipping, with stale
manifests degrading to no-skip, never wrong rows."""

from __future__ import annotations

import json
import os

import pytest


@pytest.fixture(scope="module")
def sink_dir(spark, tmp_path_factory):
    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path_factory.mktemp("zonemap") / "out")
    sdf = spark.range(4000).selectExpr(
        "cast(id as long) as id", "cast(id * 0.5 as double) as v"
    )
    # range partitioning gives each part a tight disjoint id range —
    # the layout where zone maps actually skip
    (
        sdf.repartitionByRange(4, "id")
        .write.format("readstat")
        .option("format", "dta")
        .mode("overwrite")
        .save(d)
    )
    return d


def test_manifest_published(sink_dir):
    m = json.load(open(os.path.join(sink_dir, "_prs_stats.json")))
    files = m["files"]
    parts = [f for f in sorted(os.listdir(sink_dir)) if f.endswith(".dta")]
    assert sorted(files) == parts and len(parts) == 4
    for e in files.values():
        assert e["size"] == os.path.getsize(
            os.path.join(sink_dir, [k for k, v in files.items() if v is e][0])
        )
        c = e["cols"]["id"]
        assert c["nn"] == c["n"] == e["n"]
        assert c["min"] <= c["max"]


def _plan_parts(sink_dir, filters):
    """Partitions surviving pushFilters on the real reader chain.
    The manifest load is gated on pushdown enablement (it is only
    consumable by BatchFilterReader), so the unit-level plan opts in
    via the class snapshot the registered path uses."""
    from polars_readstat_spark.sources.datasource import ReadstatDataSource
    from polars_readstat_spark.sources.filters import BatchFilterReader

    cls = type(
        "ReadstatDataSource",
        (ReadstatDataSource,),
        {"_registered_filter_pushdown": True},
    )
    ds = cls({"path": sink_dir})
    r = BatchFilterReader(ds.reader(ds._schema_uncompressed()))
    declined = r.pushFilters(filters)
    return r, list(r.partitions()), declined


def test_refuting_filter_skips_files(sink_dir):
    from pyspark.sql.datasource import GreaterThan

    _, all_parts, _ = _plan_parts(sink_dir, [])
    r, pruned, declined = _plan_parts(sink_dir, [GreaterThan(("id",), 2999)])
    assert not declined
    assert len(pruned) < len(all_parts)
    # the surviving partitions still contain every matching row
    rows = []
    for p in pruned:
        for b in r.read(p):
            rows.extend(b.column(0).to_pylist())
    assert sorted(rows) == list(range(3000, 4000))


def test_equal_to_prunes_to_one_file(sink_dir):
    from pyspark.sql.datasource import EqualTo

    r, pruned, _ = _plan_parts(sink_dir, [EqualTo(("id",), 1500)])
    assert len(pruned) >= 1
    rows = []
    for p in pruned:
        for b in r.read(p):
            rows.extend(b.column(0).to_pylist())
    assert 1500 in rows
    # at most one part can contain id=1500 under range partitioning
    _, all_parts, _ = _plan_parts(sink_dir, [])
    assert len(pruned) < len(all_parts)


def test_stale_manifest_never_drops_rows(sink_dir, spark):
    """Corrupt the manifest's size for one part: refuted-but-stale
    files must be KEPT (validation), so results stay complete."""
    from pyspark.sql.datasource import GreaterThan

    mp = os.path.join(sink_dir, "_prs_stats.json")
    doc = json.load(open(mp))
    orig = json.dumps(doc)
    try:
        for e in doc["files"].values():
            e["size"] += 1  # every entry stale
        json.dump(doc, open(mp, "w"))
        r, pruned, _ = _plan_parts(sink_dir, [GreaterThan(("id",), 2999)])
        rows = []
        for p in pruned:
            for b in r.read(p):
                rows.extend(b.column(0).to_pylist())
        # batch-level filtering still applies; no file was pruned
        assert sorted(x for x in rows if x > 2999) == list(range(3000, 4000))
    finally:
        open(mp, "w").write(orig)


def test_same_size_rewrite_never_pruned(sink_dir):
    """A same-size in-place rewrite of a part must defeat the
    staleness check too: the manifest records mtime_ns alongside size
    and a refutation is only trusted when BOTH still match (ADVICE
    r11 — size alone can't see a byte-for-byte-length rewrite)."""
    from pyspark.sql.datasource import GreaterThan

    mp = os.path.join(sink_dir, "_prs_stats.json")
    doc = json.load(open(mp))
    for e in doc["files"].values():
        assert isinstance(e["mtime_ns"], int) and e["mtime_ns"] > 0
    # simulate: contents changed, size identical → live mtime no
    # longer matches the manifest's recorded stamp
    orig = json.dumps(doc)
    try:
        for e in doc["files"].values():
            e["mtime_ns"] -= 1
        json.dump(doc, open(mp, "w"))
        r, pruned, _ = _plan_parts(sink_dir, [GreaterThan(("id",), 2999)])
        rows = []
        for p in pruned:
            for b in r.read(p):
                rows.extend(b.column(0).to_pylist())
        # no file pruned; batch filter still yields exact rows
        assert sorted(x for x in rows if x > 2999) == list(range(3000, 4000))
    finally:
        open(mp, "w").write(orig)


def test_end_to_end_dataframe_matches(spark, sink_dir):
    """Through the full session path with pushdown opted in (fresh
    relation per action — the pattern Spark 4.1's pushed-plan reuse
    hazard cannot touch): the filtered scan over the manifest dir
    returns exactly the matching rows, and a fresh unfiltered scan
    the full table."""
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    prs.register(spark)
    try:
        got = sorted(
            r.id
            for r in spark.read.format("readstat")
            .load(sink_dir)
            .filter(F.col("id") >= 3500)
            .select("id")
            .collect()
        )
        assert got == list(range(3500, 4000))
        assert spark.read.format("readstat").load(sink_dir).count() == 4000
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
        prs.register(spark)


def test_all_files_refuted_yields_empty_not_crash(sink_dir, spark):
    """Pruning may refute EVERY file; pyspark substitutes [None] for
    an empty partitions list, so read(None) must yield zero batches —
    and the full DataFrame path must return an empty result."""
    from pyspark.sql.datasource import GreaterThan

    r, pruned, _ = _plan_parts(sink_dir, [GreaterThan(("id",), 10_000_000)])
    assert pruned == []
    assert list(r.read(None)) == []
    # end-to-end with pushdown opted in
    import polars_readstat_spark as prs
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    prs.register(spark)
    try:
        got = (
            spark.read.format("readstat")
            .load(sink_dir)
            .filter(F.col("id") > 10_000_000)
            .collect()
        )
        assert got == []
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
        prs.register(spark)


def test_nan_counts_as_null_in_manifest(spark, tmp_path):
    """NaN doubles become missing sentinels on disk (read back as
    NULL): the manifest must count them as nulls and keep them out of
    min/max, or IsNull pruning would skip files containing NaN-origin
    null rows."""
    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path / "nan_out")
    spark.sql(
        "SELECT * FROM VALUES "
        "(CAST(1 AS LONG), CAST('nan' AS DOUBLE)),"
        "(CAST(2 AS LONG), CAST(5.0 AS DOUBLE)),"
        "(CAST(3 AS LONG), CAST(NULL AS DOUBLE)) AS t(id, v)"
    ).coalesce(1).write.format("readstat").option("format", "dta").mode(
        "overwrite"
    ).save(d)
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    e = list(m["files"].values())[0]
    c = e["cols"]["v"]
    assert c["n"] == 3 and c["nn"] == 1  # NaN and NULL both "null"
    assert c["min"] == 5.0 and c["max"] == 5.0  # NaN out of the range
    # and the reader agrees: two nulls
    back = spark.read.format("readstat").load(d)
    assert back.filter("v IS NULL").count() == 2


@pytest.fixture(scope="module")
def str_sink_dir(spark, tmp_path_factory):
    """String-keyed range-partitioned sink: each part holds a tight
    lexicographic key range, the layout where string zone maps skip."""
    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path_factory.mktemp("zonemap_str") / "out")
    sdf = spark.range(400).selectExpr(
        "cast(id as long) as id",
        "concat('user_', lpad(cast(id as string), 4, '0')) as key",
    )
    (
        sdf.repartitionByRange(4, "key")
        .write.format("readstat")
        .option("format", "dta")
        .mode("overwrite")
        .save(d)
    )
    return d


def test_string_zone_maps_published(str_sink_dir):
    m = json.load(open(os.path.join(str_sink_dir, "_prs_stats.json")))
    for e in m["files"].values():
        c = e["cols"]["key"]
        assert isinstance(c["min"], str) and c["min"] <= c["max"]
        assert c["nn"] == c["n"] == e["n"]


def test_string_equal_prunes_files(str_sink_dir):
    from pyspark.sql.datasource import EqualTo, StringStartsWith

    _, all_parts, _ = _plan_parts(str_sink_dir, [])
    r, pruned, declined = _plan_parts(
        str_sink_dir, [EqualTo(("key",), "user_0371")]
    )
    assert not declined and len(pruned) < len(all_parts)
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(1).to_pylist()
    ]
    assert rows == ["user_0371"]
    # prefix-window refutation: only the part covering user_03xx keys
    r, pruned, _ = _plan_parts(
        str_sink_dir, [StringStartsWith(("key",), "user_039")]
    )
    assert len(pruned) < len(all_parts)
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(1).to_pylist()
    ]
    assert sorted(rows) == [f"user_{i:04d}" for i in range(390, 400)]


def test_string_stats_poisoned_by_normalization(spark, tmp_path):
    """A single trailing-space (or NUL) value must drop the column's
    string stats for that part: the formats rewrite such values on
    disk (sav strips, dta NUL-truncates), so a recorded range would
    bound the INPUT, not what the reader hands back — an unsound
    refutation. Numeric columns in the same part keep their stats,
    and queries stay exact with no pruning."""
    import polars_readstat_spark as prs
    from pyspark.sql.datasource import EqualTo

    prs.register(spark)
    d = str(tmp_path / "poison")
    sdf = spark.createDataFrame(
        [(0, "alpha"), (1, "beta "), (2, "gamma")], "id long, key string"
    )
    (
        sdf.coalesce(1)
        .write.format("readstat")
        .option("format", "dta")
        .mode("overwrite")
        .save(d)
    )
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    (e,) = m["files"].values()
    assert "key" not in e["cols"]  # poisoned: no unsound range
    assert "id" in e["cols"]  # numeric stats unaffected
    # dta preserves the trailing space on disk: the exact-value query
    # must find the row — which it could NOT if a range computed from
    # the (differently normalized) input had pruned the file
    r, pruned, _ = _plan_parts(d, [EqualTo(("key",), "beta ")])
    assert len(pruned) == 1
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(1).to_pylist()
    ]
    assert rows == ["beta "]


def test_null_strings_poison_stats(spark, tmp_path):
    """Nulls are NOT fix-points of the string write→read round trip:
    the writers blank-fill them and the default read hands back ''
    (non-null) — so any null must poison the column's string stats
    (review r12: min/max over non-null input unsoundly refuted
    ''-probes, and an all-null string column unsoundly refuted
    IsNotNull via the nn==0 branch)."""
    import polars_readstat_spark as prs
    from pyspark.sql.datasource import EqualTo

    prs.register(spark)
    d = str(tmp_path / "nullpoison")
    sdf = spark.createDataFrame(
        [(0, "alpha"), (1, None), (2, "zulu")], "id long, key string"
    )
    (
        sdf.coalesce(1)
        .write.format("readstat")
        .option("format", "dta")
        .mode("overwrite")
        .save(d)
    )
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    (e,) = m["files"].values()
    assert "key" not in e["cols"]  # poisoned by the null
    # the null-origin row reads back as '' — the probe must find it
    r, pruned, _ = _plan_parts(d, [EqualTo(("key",), "")])
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(1).to_pylist()
    ]
    assert rows == [""]


def test_all_null_string_column_never_refutes_isnotnull(spark, tmp_path):
    import polars_readstat_spark as prs
    from pyspark.sql.datasource import IsNotNull

    prs.register(spark)
    d = str(tmp_path / "allnull")
    sdf = spark.createDataFrame(
        [(0, None), (1, None)], "id long, key string"
    )
    (
        sdf.coalesce(1)
        .write.format("readstat")
        .option("format", "dta")
        .mode("overwrite")
        .save(d)
    )
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    (e,) = m["files"].values()
    assert "key" not in e["cols"]  # poisoned, not admitted via nn==0
    r, pruned, _ = _plan_parts(d, [IsNotNull(("key",))])
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(1).to_pylist()
    ]
    # default read un-nulls the blank-filled rows: both must survive
    assert rows == ["", ""]


def test_string_stats_never_refute_null_accounting():
    """Even a clean all-non-null string entry must not drive
    IsNull/IsNotNull refutation: under missing_string_as_null=true
    the reader NULLS '' values, so nn/n describe the input, not the
    output (review r12)."""
    from pyspark.sql.datasource import EqualTo, IsNotNull, IsNull

    from polars_readstat_spark.sources.filters import _refutes

    cols = {"key": {"min": "", "max": "x", "nn": 2, "n": 2}}
    assert not _refutes(IsNull(("key",)), cols)  # nn==n, but strings
    assert not _refutes(IsNotNull(("key",)), cols)
    # range refutation still works on the same entry
    assert _refutes(EqualTo(("key",), "zz"), cols)
    # numeric entries keep their null-accounting refutations
    ncols = {"v": {"min": None, "max": None, "nn": 0, "n": 5}}
    assert _refutes(IsNotNull(("v",)), ncols)


@pytest.mark.parametrize("fmt", ["dta", "sav", "sas7bdat", "xpt"])
def test_partitioned_export_publishes_zone_maps(spark, tmp_path, fmt):
    """write_readstat_partitioned (the bulk path) publishes the same
    _prs_stats.json the distributed sink does, so its outputs are
    skippable too — round 12 closed the gap where only the
    df.write.format path produced manifests."""
    import polars_readstat_spark as prs
    from polars_readstat_spark.writers.partitioned import (
        write_readstat_partitioned,
    )

    prs.register(spark)
    d = str(tmp_path / f"bulk_{fmt}")
    sdf = spark.range(2000).selectExpr(
        "cast(id as long) as id",
        "concat('g', cast(cast(id / 500 as int) as string)) as grp",
        "cast(id * 0.5 as double) as v",
    )
    write_readstat_partitioned(
        sdf.repartitionByRange(4, "id"), d, ext=fmt
    )
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    assert len(m["files"]) == 4
    tot = 0
    for e in m["files"].values():
        cid = [k for k in e["cols"] if k.lower() == "id"][0]
        cgrp = [k for k in e["cols"] if k.lower() == "grp"][0]
        assert e["cols"][cid]["min"] <= e["cols"][cid]["max"]
        assert isinstance(e["cols"][cgrp]["min"], str)
        assert e["mtime_ns"] > 0 and e["size"] > 0
        tot += e["n"]
    assert tot == 2000


def test_partitioned_export_prunes_on_read(spark, tmp_path):
    """End to end: a bulk-exported directory's manifest drives file
    skipping through the reader chain, rows exact."""
    from pyspark.sql.datasource import GreaterThan

    import polars_readstat_spark as prs
    from polars_readstat_spark.writers.partitioned import (
        write_readstat_partitioned,
    )

    prs.register(spark)
    d = str(tmp_path / "bulk_prune")
    sdf = spark.range(4000).selectExpr(
        "cast(id as long) as id", "cast(id * 2 as double) as v"
    )
    write_readstat_partitioned(sdf.repartitionByRange(4, "id"), d)
    _, all_parts, _ = _plan_parts(d, [])
    r, pruned, _ = _plan_parts(d, [GreaterThan(("id",), 2999)])
    assert len(pruned) < len(all_parts)
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(0).to_pylist()
    ]
    assert sorted(rows) == list(range(3000, 4000))


def test_xpt_manifest_keys_match_reader_names(spark, tmp_path):
    """XPT truncates/uppercases variable names, and the scan's pushed
    filters carry the READER's names — the manifest must be keyed by
    the short names or refutation lookups never match (found by the
    round-12 partitioned-manifest tests)."""
    from pyspark.sql.datasource import GreaterThan

    import polars_readstat_spark as prs
    from polars_readstat_spark.writers.partitioned import (
        write_readstat_partitioned,
    )

    prs.register(spark)
    d = str(tmp_path / "bulk_xpt_prune")
    sdf = spark.range(4000).selectExpr(
        "cast(id as long) as row_identifier",
        "cast(id * 2 as double) as v",
    )
    write_readstat_partitioned(
        sdf.repartitionByRange(4, "row_identifier"), d, ext="xpt"
    )
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    for e in m["files"].values():
        assert "ROW_IDEN" in e["cols"]  # 8-char uppercase short
    _, all_parts, _ = _plan_parts(d, [])
    r, pruned, _ = _plan_parts(d, [GreaterThan(("ROW_IDEN",), 2999.0)])
    assert len(pruned) < len(all_parts)
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(0).to_pylist()
    ]
    assert sorted(rows) == [float(x) for x in range(3000, 4000)]

    # version 8: LABELV8 hands the long name back, the short one stays
    # for a name that fits
    d8 = str(tmp_path / "bulk_xpt8_prune")
    write_readstat_partitioned(
        sdf.repartitionByRange(4, "row_identifier"), d8, ext="xpt",
        version=8,
    )
    m = json.load(open(os.path.join(d8, "_prs_stats.json")))
    for e in m["files"].values():
        assert {"row_identifier", "V"} <= set(e["cols"])
    _, all_parts, _ = _plan_parts(d8, [])
    r, pruned, _ = _plan_parts(d8, [GreaterThan(("row_identifier",), 2999.0)])
    assert len(pruned) < len(all_parts)
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(0).to_pylist()
    ]
    assert sorted(rows) == [float(x) for x in range(3000, 4000)]


def test_numeric_extremes_poison_stats(spark, tmp_path):
    """Numeric values in the formats' missing-sentinel range read
    back as NULL (dta codes missing as doubles >= ~8.99e307; SPSS
    sysmis is -DBL_MAX) — such values must poison the column's stats
    or the recorded range unsoundly refutes probes for the values the
    reader actually returns (review r12)."""
    import json as _json

    from polars_readstat_spark.writers.spark_sink import ZoneMapStats

    import pyarrow as pa

    acc = ZoneMapStats(["v", "w"], ["num", "num"], "dta")
    acc.add(
        pa.RecordBatch.from_arrays(
            [
                pa.array([1.0, 1.7e308], type=pa.float64()),
                pa.array([1.0, 2.0], type=pa.float64()),
            ],
            names=["v", "w"],
        )
    )
    assert acc.stats["v"][4] is True  # poisoned by the near-DBL_MAX
    assert acc.stats["w"][4] is False and acc.stats["w"][1] == 2.0
    _json.dumps(acc.stats)  # still manifest-serializable


def test_xpt_small_magnitudes_poison_stats():
    """xpt's IBM floats flush |v| < 16^-65 (and inf) to 0.0 on disk;
    stats recording the logical value would unsoundly refute probes
    for the 0.0 the reader returns."""
    import pyarrow as pa

    from polars_readstat_spark.writers.spark_sink import ZoneMapStats

    tiny = ZoneMapStats(["v"], ["num"], "xpt")
    tiny.add(
        pa.RecordBatch.from_arrays(
            [pa.array([1e-100, 5.0], type=pa.float64())], names=["v"]
        )
    )
    assert tiny.stats["v"][4] is True
    inf = ZoneMapStats(["v"], ["num"], "xpt")
    inf.add(
        pa.RecordBatch.from_arrays(
            [pa.array([5.0, float("inf")], type=pa.float64())], names=["v"]
        )
    )
    assert inf.stats["v"][4] is True
    # the same values are fine on formats that store IEEE verbatim
    ok = ZoneMapStats(["v"], ["num"], "sas7bdat")
    ok.add(
        pa.RecordBatch.from_arrays(
            [pa.array([1e-100, 5.0], type=pa.float64())], names=["v"]
        )
    )
    assert ok.stats["v"][4] is False


def test_duplicate_column_names_never_publish_phantom_stats():
    """pyarrow's get_field_index returns -1 for duplicated names, so
    the stats entry stays zeroed — the manifest must NOT publish it
    through the all-null branch (nn==0 with n==0 means 'never seen',
    not 'all null'; publishing it refuted IsNotNull on files full of
    non-null data — review r12)."""
    import pyarrow as pa

    from polars_readstat_spark.writers.spark_sink import ZoneMapStats

    acc = ZoneMapStats(["id"], ["num"], "dta")
    acc.add(
        pa.RecordBatch.from_arrays(
            [
                pa.array([1.0], type=pa.float64()),
                pa.array([2.0], type=pa.float64()),
            ],
            names=["id", "id"],  # duplicate: lookup returns -1
        )
    )
    v = acc.stats["id"]
    assert v[2] == 0 and v[3] == 0  # never accumulated
    # the publish filter requires rows to have been SEEN (v[3] > 0)
    publishable = (not v[4]) and (
        isinstance(v[0], (int, float, str)) or (v[2] == 0 and v[3] > 0)
    )
    assert not publishable


def test_zone_map_refutation_soundness_battery(spark, tmp_path):
    """Exhaustive soundness net: write a torture battery of string and
    numeric values through the real sink, read them back through the
    real reader, and for EVERY (column, predicate shape, operand)
    combination assert that a refutation claimed from the published
    manifest excludes ZERO read-back rows (SQL match semantics). This
    is the invariant every zone-map change must preserve; the round-12
    poisoning rules all exist because some value class violated it."""
    import math

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
        StringStartsWith,
    )

    import polars_readstat_spark as prs
    from polars_readstat_spark.sources.filters import _refutes

    prs.register(spark)
    strs = ["a", "a ", " b", "", "ü", "zz", "Z", "0", None, "café",
            "a\tb", "x" * 20, "user_01", "user_02"]
    nums = [0.0, -1.5, 3.0, 1e10, -0.0, 1e-300, None, float("nan"),
            123456789.5, -7.25, 42.0, 8.0, 1.5, 2.5]
    assert len(strs) == len(nums)
    # t: a CLEAN string column (all fix-points) so string range
    # refutations actually fire and get checked, not just the
    # poisoned-never-refutes trivial case
    clean = [f"k{i:02d}" for i in range(len(strs))]
    d = str(tmp_path / "battery")
    sdf = spark.createDataFrame(
        list(zip(range(len(strs)), strs, clean, nums)),
        "rid long, s string, t string, v double",
    )
    (
        sdf.coalesce(1)
        .write.format("readstat")
        .option("format", "dta")
        .mode("overwrite")
        .save(d)
    )
    # read-back truth through the real reader chain, no filters
    r, parts, _ = _plan_parts(d, [])
    back_s, back_t, back_v = [], [], []
    for p in parts:
        for b in r.read(p):
            back_s.extend(b.column(1).to_pylist())
            back_t.extend(b.column(2).to_pylist())
            back_v.extend(b.column(3).to_pylist())
    m = json.load(open(os.path.join(d, "_prs_stats.json")))
    (entry,) = m["files"].values()
    cols = entry["cols"]

    def matches(f, val):
        """SQL predicate semantics on one read-back value."""
        if isinstance(f, Not):
            # Kleene: NOT NULL is NULL -> row dropped
            return val is not None and not matches(f.child, val)
        if isinstance(f, IsNull):
            return val is None
        if isinstance(f, IsNotNull):
            return val is not None
        if val is None:
            return False
        if isinstance(val, float) and math.isnan(val):
            return False  # NaN compares false to everything in SQL
        if isinstance(f, In):
            return val in f.value
        v = f.value
        if isinstance(f, EqualTo):
            return val == v
        if isinstance(f, GreaterThan):
            return val > v
        if isinstance(f, GreaterThanOrEqual):
            return val >= v
        if isinstance(f, LessThan):
            return val < v
        if isinstance(f, LessThanOrEqual):
            return val <= v
        if isinstance(f, StringStartsWith):
            return isinstance(val, str) and val.startswith(v)
        raise AssertionError(f)

    def battery(col, back, operands):
        preds = [IsNull((col,)), IsNotNull((col,))]
        for op in operands:
            preds += [
                EqualTo((col,), op),
                GreaterThan((col,), op),
                GreaterThanOrEqual((col,), op),
                LessThan((col,), op),
                LessThanOrEqual((col,), op),
            ]
            if isinstance(op, str):
                preds.append(StringStartsWith((col,), op))
        ops = [o for o in operands]
        for i in range(0, len(ops) - 1, 2):
            preds.append(In((col,), (ops[i], ops[i + 1])))
        preds += [
            Not(p)
            for p in list(preds)
            if not isinstance(p, (IsNull, IsNotNull))
        ]
        unsound = []
        for f in preds:
            if _refutes(f, cols) and any(matches(f, x) for x in back):
                unsound.append(f)
        assert not unsound, unsound

    str_ops = [x for x in strs if x is not None] + [
        x for x in back_s if x is not None
    ] + ["", "user_0", "zzz", "A"]
    num_ops = [
        x
        for x in nums
        if x is not None and not (isinstance(x, float) and math.isnan(x))
    ] + [1e-301, 2e308 / 2, -1e10, 0.5]
    battery("s", back_s, sorted(set(str_ops)))
    assert "t" in cols and isinstance(cols["t"]["min"], str)
    t_refuted = [
        f
        for f in (
            EqualTo(("t",), "zzz"),
            LessThan(("t",), "k00"),
            StringStartsWith(("t",), "q"),
        )
        if _refutes(f, cols)
    ]
    assert len(t_refuted) == 3  # the clean column genuinely refutes
    battery("t", back_t, sorted(set(str_ops + clean)))
    battery("v", back_v, sorted(set(num_ops)))


def test_not_equal_prunes_constant_file(spark, tmp_path):
    """Range-partitioned-by-key part files are often single-valued,
    so `key != X` should prune the constant X file (round 12: the
    negation refutes only when the zone maps prove EVERY value
    matches the inner predicate — min == max == X)."""
    from pyspark.sql.datasource import EqualTo, Not, StringStartsWith

    import polars_readstat_spark as prs

    prs.register(spark)
    d = str(tmp_path / "notconst")
    sdf = spark.range(900).selectExpr(
        "cast(id as long) as id",
        "concat('g', cast(cast(id / 300 as int) as string)) as grp",
    )
    (
        sdf.repartitionByRange(3, "grp")
        .write.format("readstat")
        .option("format", "dta")
        .mode("overwrite")
        .save(d)
    )
    _, all_parts, _ = _plan_parts(d, [])
    assert len(all_parts) == 3
    r, pruned, declined = _plan_parts(d, [Not(EqualTo(("grp",), "g1"))])
    assert not declined and len(pruned) == 2  # the constant g1 file gone
    rows = [
        v for p in pruned for b in r.read(p) for v in b.column(1).to_pylist()
    ]
    assert sorted(set(rows)) == ["g0", "g2"] and len(rows) == 600
    # Not(StartsWith) prunes a file entirely inside the prefix window
    r, pruned, _ = _plan_parts(d, [Not(StringStartsWith(("grp",), "g1"))])
    assert len(pruned) == 2


def test_null_refutation_requires_accounting_fields():
    """r13 review: a hand-made/corrupt manifest entry lacking nn/n
    must never drive IsNull/IsNotNull refutation (None == None reads
    as 'no nulls' without the isinstance guard)."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    from polars_readstat_spark.sources.filters import _refutes

    broken = {"v": {"min": 1, "max": 2}}  # no nn/n at all
    assert not _refutes(IsNull(("v",)), broken)
    assert not _refutes(IsNotNull(("v",)), broken)
    partial = {"v": {"min": 1, "max": 2, "nn": None, "n": None}}
    assert not _refutes(IsNull(("v",)), partial)
    assert not _refutes(IsNotNull(("v",)), partial)
    good = {"v": {"min": 1, "max": 2, "nn": 5, "n": 5}}
    assert _refutes(IsNull(("v",)), good)
