"""Spark-native write surface: ``df.write.format("readstat")``.

Completes the idiomatic Spark mapping SURVEY §2.7 (W1) promises: the
same data source that reads statistical files is also a sink —

    df.write.format("readstat").option("format", "sav") \\
      .mode("overwrite").save("/lake/export_sav")

Each executor task assembles one complete part-file for its partition
(the multi-file directory layout the readers union back), staged under
a dot-prefixed name and renamed by the driver-side ``commit`` so a
failed job never leaves torn files visible; ``abort`` removes the
staging. On a real cluster the directory must be storage both the
executors and the driver can reach.

``write_part`` is the one per-partition-file path: the sink, the
stream sink, the hive layout (writers/hive.py) and
``write_readstat_partitioned`` (writers/partitioned.py) all call it.
It converts a partition's Arrow batches (the zone-map accumulator
rides along), writes the file, and re-keys the stats by the reader's
column names.

Supported formats: ``sas7bdat`` (plus ``compress=rle``), ``sav``,
``zsav`` (zlib block container), ``xpt``, and ``dta``. The first four
store all numerics as float64 on disk, so a partition-local
string-width pass yields part-files that union under one Spark
schema; ``dta`` instead uses a schema-deterministic sentinel-safe
type plan (tinyint→int, smallint→long, int/bigint→double exact to
±2^53 with a loud per-partition guard beyond) so every partition
emits identical column types. ``write_readstat_partitioned`` instead
hands ``write_part`` a plan from one global pre-pass: shared string
widths, and for dta the integer narrowing from global min/max, for
when file size matters more than schema-only planning.

Timestamps are converted executor-side from the Arrow representation:
tz-aware arrays go through ``pyarrow.compute.local_timestamp`` first,
so the wall-clock-seconds semantics match the facade writers'
``ts_epoch_seconds`` under any session timezone.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from polars_readstat_spark.sources.fs import (
    fs_open_output as _fs_open_output,
)
from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from polars_readstat_spark.writers import (
    SAS_EPOCH,
    SPSS_EPOCH,
    column_kinds,
)

# the epoch per format, as writers.epoch_cast applies it
_EPOCH = {
    "sas7bdat": SAS_EPOCH,
    "xpt": SAS_EPOCH,
    "sav": SPSS_EPOCH,
    "zsav": SPSS_EPOCH,
}
_STR_LIMIT = {"sas7bdat": 32767, "sav": 255, "zsav": 255, "xpt": 200}


@dataclass
class _PartMessage(WriterCommitMessage):
    staged: str
    final: str
    n_rows: int
    pid: int = -1
    # per-column zone maps for the _prs_stats.json manifest:
    # {col: [min, max, non_null, n_rows, poisoned]} over plain numeric
    # AND normalization-safe string columns (logical values, computed
    # on the Arrow batches before epoch conversion so they compare
    # against reader output; see convert_batches for the string
    # fix-point rule)
    stats: dict | None = None
    # per-stripe zone maps (round 13): {"rows": R, "cols": [colstats
    # per stripe]} where stripe i covers OUTPUT rows [i*R, (i+1)*R) of
    # this part in file row order — the geometry every reader's
    # row-range partitions address, so the scan can drop refuted row
    # spans INSIDE kept files
    stripes: dict | None = None
    # per-column Bloom filters (round 13, opt-in via
    # zonemap_bloom_columns): {col: {"k","m","b","d"}} — point-
    # predicate file skipping for unsorted key columns; see
    # sources/bloom.py for the canonicalization invariant
    blooms: dict | None = None


def plan_write(schema, options):
    """Driver-side column plan from the declared schema alone.

    Returns (fmt, fields, names, shorts, kinds): `shorts` is None for
    formats that keep full names (sas7bdat, dta). dta's kinds drive
    only the zone maps — its storage plan is _dta_schema_cols or a
    global ``plan`` (see module docstring)."""
    fmt = (options.get("format") or options.get("ext") or "").lstrip(".").lower()
    if not fmt:
        path = options.get("path", "")
        tail = os.path.basename(path)
        fmt = tail.rsplit(".", 1)[-1].lower() if "." in tail else ""
    if fmt != "dta" and fmt not in _EPOCH:
        raise ValueError(
            f"df.write.format('readstat'): set .option('format', ...) to "
            f"one of {sorted([*_EPOCH, 'dta'])} (got {fmt!r})"
        )
    fields = schema.fields
    names = [f.name for f in fields]
    kinds = column_kinds(fields)
    if fmt in ("sas7bdat", "dta"):
        if fmt == "sas7bdat":
            for n in names:
                if len(n.encode("utf-8")) > 32:
                    raise ValueError(
                        f"write readstat: column name {n!r} exceeds the "
                        "32-byte sas7bdat name limit"
                    )
        shorts = None
    elif fmt in ("sav", "zsav"):
        from polars_readstat_spark.writers.sav import _short_names

        shorts = _short_names(names)
    else:
        from polars_readstat_spark.writers.xpt import _short_names

        shorts = _short_names(names)
    return fmt, fields, names, shorts, kinds


def _as_float64(arr):
    """Numeric Arrow array → float64. Decimals go through their exact
    decimal strings: Arrow's direct decimal→double cast is not
    correctly rounded (it is off by an ulp on a few percent of
    values), while Spark's cast and the dta packer's float() are."""
    import pyarrow as pa

    if pa.types.is_decimal(arr.type):
        arr = arr.cast(pa.string())
    return arr.cast(pa.float64())


def _utf8_width(arr) -> int:
    """Max UTF-8 byte width of an Arrow string array (0 if empty/all-null).

    Arrow's ``binary_length`` on a utf8 array counts BYTES (not code
    points — that's ``utf8_length``), matching what the fixed-width
    readstat formats size columns by. Computed on the Arrow batch
    before any pandas conversion so the scan is a vectorized kernel,
    not a per-value Python lambda; nulls are skipped (a null cell
    occupies no bytes beyond the format's blank fill).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if not len(arr):
        return 0
    if pa.types.is_dictionary(arr.type):
        arr = arr.cast(arr.type.value_type)
    m = pc.max(pc.binary_length(arr)).as_py()
    return int(m) if m is not None else 0


def _merge_col(x, y):
    """Merge two per-column stats entries [min, max, nn, n, poisoned,
    kind?] covering disjoint row sets: ranges union, counts add,
    poisoning is sticky (a poisoned constituent makes range refutation
    unsound for the union too); the optional kind tag (element 5,
    'date') survives the merge."""
    tag = [x[5]] if len(x) > 5 else ([y[5]] if len(y) > 5 else [])
    if (len(x) > 4 and x[4]) or (len(y) > 4 and y[4]):
        return [None, None, x[2] + y[2], x[3] + y[3], True, *tag]
    mn = x[0] if y[0] is None else (y[0] if x[0] is None else min(x[0], y[0]))
    mx = x[1] if y[1] is None else (y[1] if x[1] is None else max(x[1], y[1]))
    return [mn, mx, x[2] + y[2], x[3] + y[3], False, *tag]


def _publishable_cols(stats: dict) -> dict:
    """The manifest-publication filter (shared by file-level and
    stripe-level entries): drop normalization-poisoned columns, and
    publish only real ranges — or all-null columns whose rows were
    actually SEEN (a name-lookup miss under duplicate column names
    leaves a zeroed entry whose publication would prune non-null
    data, review r12). Date columns (round 13) carry their epoch-day
    ranges plus a ``"t": "date"`` tag so the reader coerces
    datetime.date operands — and ONLY those — against them."""
    out = {}
    for c, v in stats.items():
        if len(v) > 4 and v[4]:
            continue
        if not (
            isinstance(v[0], (int, float, str))
            or (v[2] == 0 and v[3] > 0)
        ):
            continue
        e = {"min": v[0], "max": v[1], "nn": v[2], "n": v[3]}
        if len(v) > 5 and v[5]:
            e["t"] = v[5]
        out[c] = e
    return out


class ZoneMapStats:
    """Per-part zone-map accumulator over Arrow batches of LOGICAL
    (pre-epoch) values: {col: [min, max, non_null, n_rows, poisoned]}.

    Strings participate (round 12) but only while every value is a
    FIX-POINT of the formats' write normalization: no NULL cell (the
    writers blank-fill nulls and the default read hands them back as
    NON-null ''), no NUL byte, no trailing whitespace (dta preserves
    trailing spaces but sav/sas strip them, sav strips tabs, NUL
    truncates or vanishes per format — measured). A value the reader
    would hand back CHANGED makes range refutation unsound, so one
    such value poisons the column's stats for this part, sticky
    across batches. NUMERIC extremes poison too: values in the
    formats' missing-sentinel range (dta codes missing as doubles
    ≥ ~8.99e307, SPSS sysmis is -DBL_MAX) read back as NULL, ±inf
    silently lands as 0.0 in xpt's IBM floats, and xpt flushes
    magnitudes below 16^-65 (~5.4e-79) to 0.0 — each a value outside
    the recorded range (review r12). Columns are looked up BY NAME, so
    a batch may carry any subset of the columns in any order."""

    # |v| at/above this may be a missing code on disk (dta missing
    # doubles start at 0x7fe0... ≈ 8.988e307; sav sysmis = -DBL_MAX);
    # inf compares >= too, covering xpt's silent inf→0.0
    _NUM_POISON_ABS = 8.9e307
    _XPT_TINY = 16.0**-65  # IBM hex-float underflow: flushed to 0.0
    # manifest-size bound: past this many stripes, adjacent pairs
    # merge and the stripe row count doubles (stripe i always covers
    # rows [i*R, (i+1)*R), before and after a coarsen)
    MAX_STRIPES = 512

    def __init__(
        self,
        names,
        kinds,
        fmt="",
        stripe_rows=0,
        bloom_cols=(),
        bloom_max_bytes=None,
    ):
        self.fmt = fmt
        self.kind_of = dict(zip(names, kinds))
        # DATE columns participate (round 13): every format stores a
        # date as an exact integer day count (dta: int32 days; sas/
        # xpt: float days — exact to 2^53≫date32's ±2.1e9; sav:
        # float seconds, whole-day multiples of 86400, exact), so the
        # reader hands back exactly the written date and min/max over
        # epoch DAYS is sound. Stats carry a 'date' kind tag so the
        # reader coerces datetime.date operands only. datetime/time
        # stay excluded: sub-second storage rounds (sav seconds,
        # dta ms), and a rounded value can cross a range bound.
        self.stats: dict = {
            n: (
                [None, None, 0, 0, False, "date"]
                if k == "date"
                else [None, None, 0, 0, False]
            )
            for n, k in zip(names, kinds)
            if k not in ("datetime", "time")
        }
        # per-column Bloom accumulators (round 13, opt-in): file-level
        # only — stripe children never carry them (the _ctor below has
        # no bloom_cols). Domain follows the kind: membership is typed
        # exactly like the range stats it rides beside.
        from polars_readstat_spark.sources.bloom import (
            DEFAULT_MAX_BYTES,
            BloomAccumulator,
        )

        self.bloom = {
            n: BloomAccumulator(
                {"str": "str", "date": "date"}.get(self.kind_of[n], "num"),
                bloom_max_bytes or DEFAULT_MAX_BYTES,
            )
            for n in bloom_cols
            if n in self.stats
        }
        # per-stripe accumulation (round 13): same rules, same
        # poisoning, at row-chunk granularity — stripe stats are just
        # child ZoneMapStats fed stripe-aligned zero-copy batch slices
        self._ctor = (names, kinds, fmt)
        self.stripe_rows = int(stripe_rows or 0)
        self.stripes: list[ZoneMapStats] = []
        self._row = 0

    def add(self, batch) -> None:
        self._add_batch(batch)
        if self.stripe_rows <= 0:
            return
        n, off = batch.num_rows, 0
        while off < n:
            i = self._row // self.stripe_rows
            while len(self.stripes) <= i:
                self.stripes.append(ZoneMapStats(*self._ctor))
            room = self.stripe_rows - (self._row % self.stripe_rows)
            take = min(room, n - off)
            self.stripes[i]._add_batch(batch.slice(off, take))
            off += take
            self._row += take
        while len(self.stripes) > self.MAX_STRIPES:
            self._coarsen()

    def _coarsen(self) -> None:
        merged = []
        for j in range(0, len(self.stripes), 2):
            pair = self.stripes[j : j + 2]
            if len(pair) == 1:
                merged.append(pair[0])
            else:
                m = ZoneMapStats(*self._ctor)
                m.stats = {
                    c: _merge_col(pair[0].stats[c], pair[1].stats[c])
                    for c in m.stats
                }
                merged.append(m)
        self.stripes = merged
        self.stripe_rows *= 2

    def stripes_payload(self) -> dict | None:
        """Manifest fragment {"rows": R, "cols": [...]} — one
        publishable-cols dict per stripe, in row order. None when
        striping is off or the part fits in one stripe (file-level
        stats already cover that)."""
        if self.stripe_rows <= 0 or len(self.stripes) <= 1:
            return None
        return {
            "rows": self.stripe_rows,
            "cols": [_publishable_cols(s.stats) for s in self.stripes],
        }

    def bloom_payload(self) -> dict | None:
        """Manifest fragment {col: {"k","m","b","d"}} for columns whose
        Bloom accumulator survived (not dropped, not over the ndv cap)
        AND whose range stats aren't poisoned — a value the reader
        hands back CHANGED breaks membership exactly like it breaks
        ranges, so the poison flag gates both. None when empty."""
        out = {}
        for name, bl in self.bloom.items():
            st = self.stats.get(name)
            if st is None or (len(st) > 4 and st[4]):
                continue
            p = bl.payload()
            if p is not None:
                out[name] = p
        return out or None

    def _add_batch(self, batch) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        for name, st in self.stats.items():
            idx = batch.schema.get_field_index(name)
            if idx < 0:
                continue
            arr = batch.column(idx)
            st[3] += len(arr)
            if st[4]:
                continue
            valid = arr.drop_null()
            if pa.types.is_decimal(valid.type):
                # stored as doubles: range over the written values
                valid = _as_float64(valid)
            if self.kind_of[name] == "str":
                st[2] += len(valid)
                if len(valid) < len(arr):
                    # nulls poison string stats (review r12): null →
                    # blank-fill on disk → '' on default read, a value
                    # outside any min/max over the non-null inputs
                    st[0] = st[1] = None
                    st[4] = True
                    continue
                if not len(valid):
                    continue
                unsafe = pc.any(
                    pc.or_(
                        pc.not_equal(
                            pc.utf8_rtrim_whitespace(valid), valid
                        ),
                        pc.match_substring(valid, "\x00"),
                    )
                ).as_py()
                if unsafe:
                    st[0] = st[1] = None
                    st[4] = True
                    continue
            elif self.kind_of[name] == "date":
                if len(valid):
                    days = self._date_days(valid)
                    if days is None:
                        # non-midnight timestamps / non-date
                        # encodings: range refutation would be unsound
                        st[0] = st[1] = None
                        st[4] = True
                        continue
                    valid = days
            elif pa.types.is_floating(valid.type) and len(valid):
                # NaN doubles become missing sentinels on disk and
                # read back as NULL — for zone-map purposes they are
                # nulls, and they must not poison min/max either
                valid = valid.filter(pc.invert(pc.is_nan(valid)))
                if len(valid):
                    absv = pc.abs(valid)
                    unsafe = pc.greater_equal(
                        absv, pa.scalar(self._NUM_POISON_ABS)
                    )
                    if self.fmt == "xpt":
                        unsafe = pc.or_(
                            unsafe,
                            pc.and_(
                                pc.greater(absv, pa.scalar(0.0)),
                                pc.less(absv, pa.scalar(self._XPT_TINY)),
                            ),
                        )
                    if pc.any(unsafe).as_py():
                        st[0] = st[1] = None
                        st[4] = True
                        continue
            nn = len(valid)
            if nn == 0:
                continue
            bl = self.bloom.get(name)
            if bl is not None:
                # `valid` is already the domain the reader outputs:
                # fix-point-checked strings, NaN-filtered numerics,
                # exact epoch-day ints — the same array min/max ranges
                bl.add_array(valid)
            if self.kind_of[name] != "str":
                st[2] += nn
            mm = pc.min_max(valid)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if st[0] is None or mn < st[0]:
                st[0] = mn
            if st[1] is None or mx > st[1]:
                st[1] = mx

    def _date_days(self, valid):
        """Normalize a date-kind array (logical date32/64, or
        midnight timestamps) to exact epoch-day integers, or None
        when refutation over the values would be unsound (the caller
        poisons the column) — numbers in a date column always are."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = valid.type
        if pa.types.is_date32(t):
            return pc.cast(valid, pa.int32())
        if pa.types.is_date64(t):
            try:
                d = pc.cast(valid, pa.date32())
            except pa.ArrowInvalid:
                return None  # sub-day milliseconds in a date64
            if not pc.all(
                pc.equal(pc.cast(d, pa.date64()), valid)
            ).as_py():
                return None
            return pc.cast(d, pa.int32())
        if pa.types.is_timestamp(t):
            v = pc.local_timestamp(valid) if t.tz else valid
            d = pc.cast(v, pa.date32())
            back = pc.cast(d, v.type)
            if not pc.all(pc.equal(back, v)).as_py():
                return None  # non-midnight timestamp in a date column
            return pc.cast(d, pa.int32())
        return None


def convert_batches(
    batches, names, kinds, fmt, stripe_rows=0, bloom_cols=(),
    bloom_max_bytes=None,
):
    """Arrow RecordBatches → pandas frames in the format's numeric
    representation (dates/datetimes shifted to the format epoch,
    numerics float64), plus the partition-wide string byte widths.
    Returns (frames, widths, acc) — acc is the ZoneMapStats whose
    ``.stats`` is the file-level zone map and ``.stripes_payload()``
    the optional per-row-span fragment."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    widths = {n: 1 for n, k in zip(names, kinds) if k == "str"}
    frames = []
    acc = ZoneMapStats(
        names, kinds, fmt, stripe_rows=stripe_rows,
        bloom_cols=bloom_cols, bloom_max_bytes=bloom_max_bytes,
    )
    _accumulate = acc.add

    if fmt == "dta":
        # the dta packer (_pack_batch) consumes raw Arrow→pandas
        # representations (datetime64, float-with-NaN ints, strings)
        # and does its own epoch/missing-sentinel conversions — only
        # the string widths are gathered here
        for batch in batches:
            _accumulate(batch)
            for i, (name, k) in enumerate(zip(names, kinds)):
                if k == "str":
                    widths[name] = max(
                        widths[name], _utf8_width(batch.column(i))
                    )
            frames.append(batch.to_pandas())
        return frames, widths, acc
    date_mul, date_add, sec_add = _EPOCH[fmt]
    for batch in batches:
        _accumulate(batch)
        cols = {}
        for i, (name, k) in enumerate(zip(names, kinds)):
            arr = batch.column(i)
            if k == "str":
                widths[name] = max(widths[name], _utf8_width(arr))
                s = arr.to_pandas()
            elif k == "date":
                days = pc.cast(arr, pa.int32()).cast(pa.float64()).to_pandas()
                s = days * date_mul + date_add
            elif k == "datetime":
                a = arr
                if isinstance(a.type, pa.TimestampType) and a.type.tz:
                    a = pc.local_timestamp(a)
                us = pc.cast(
                    pc.cast(a, pa.timestamp("us")), pa.int64()
                ).cast(pa.float64()).to_pandas()
                s = us / 1e6 + sec_add
            elif k == "time":
                s = arr.cast(pa.float64()).to_pandas() / 1e9
            else:
                s = _as_float64(arr).to_pandas()
            cols[name] = s
        frames.append(pd.DataFrame(cols))
    return frames, widths, acc


def _stripe_rows_opt(options, default=65536) -> int:
    """zonemap_stripe_rows option: rows per intra-file zone-map
    stripe (0 disables striping; file-level stats always publish).
    65536 rows ≈ 1-10 MB for typical survey extracts — several
    stripes per ~48 MB scan partition, so a selective predicate can
    drop or trim row spans inside kept files."""
    v = options.get("zonemap_stripe_rows")
    try:
        return default if v in (None, "") else max(0, int(v))
    except (TypeError, ValueError):
        return default


def _bloom_cols_opt(options) -> tuple:
    """zonemap_bloom_columns option: comma-separated column names to
    publish per-file Bloom filters for (point-predicate skipping on
    unsorted key columns — sources/bloom.py). Off by default: blooms
    cost manifest bytes per file per column, so the user names the
    join/lookup keys worth it, like Parquet's per-column opt-in."""
    v = options.get("zonemap_bloom_columns")
    if not v:
        return ()
    if isinstance(v, (list, tuple)):
        return tuple(str(c).strip() for c in v if str(c).strip())
    return tuple(c.strip() for c in str(v).split(",") if c.strip())


def _bloom_max_bytes_opt(options) -> int | None:
    """zonemap_bloom_max_bytes option: per-column bit-table cap
    (default 16 KiB ≈ 13k distinct values/file at ~1% fp). A column
    whose distinct count outgrows the cap drops its bloom — costing
    the skip, never rows."""
    v = options.get("zonemap_bloom_max_bytes")
    try:
        return None if v in (None, "") else max(64, int(v))
    except (TypeError, ValueError):
        return None


def stats_reader_keys(stats, fmt, names, keys):
    """Re-key a ZoneMapStats.stats dict by what the READER will call
    the columns (``keys``, parallel to ``names``) — the manifest's
    keys must match the names the scan's pushed filters carry or
    refutation lookups never match. Only xpt renames (uppercase 8-char
    shorts, or a version-8 file's long names: xpt.reader_names); sav
    restores long names via the subtype-13 record and dta/sas7bdat
    keep full names."""
    if fmt != "xpt" or not keys or not stats:
        return stats
    ren = dict(zip(names, keys))
    return {ren.get(c, c): v for c, v in stats.items()}


def publish_stats_manifest(dir_path, parts, merge=True) -> None:
    """Publish _prs_stats.json: per-part zone maps (numeric + safe
    string min/max, null accounting, file size+mtime) the reader's
    filter pushdown uses to SKIP whole part-files — the Delta/Iceberg
    file-stats idea at manifest granularity. Best-effort: a missing or
    stale manifest only costs the skip, never correctness (the reader
    validates each pruned file's size AND mtime against the manifest
    before trusting a refutation).

    ``parts``: iterable of (final_path, n_rows, stats) or
    (final_path, n_rows, stats, stripes) where stats is a
    ZoneMapStats.stats dict and stripes an optional
    ``stripes_payload()`` fragment (per-row-span zone maps — the
    intra-file pruning geometry). ``merge=True`` keeps existing
    entries (append mode); shared by the distributed sink and the
    partitioned bulk exporters."""
    import json

    from polars_readstat_spark.sources.fs import (
        fs_join,
        fs_open,
        fs_open_output,
        fs_stat,
    )

    entries = {}
    mpath = fs_join(dir_path, "_prs_stats.json")
    if merge:
        try:
            with fs_open(mpath) as f:
                entries = json.loads(f.read()).get("files", {})
        except Exception:  # noqa: BLE001 — absent or unreadable
            entries = {}
    wrote = False
    for part in parts:
        final, n_rows, stats = part[0], part[1], part[2]
        stripes = part[3] if len(part) > 3 else None
        base = os.path.basename(final)
        try:
            # mtime is free in the same round trip (fs_stat) and
            # closes the same-size in-place-rewrite hole in the
            # reader's staleness check (ADVICE r11)
            size, mtime_ns = fs_stat(final)
        except OSError:
            continue
        cols = _publishable_cols(stats)
        blooms = part[4] if len(part) > 4 else None
        if isinstance(blooms, dict):
            # blooms ride inside the column entry they describe; a
            # column whose range stats didn't publish (poisoned /
            # never seen) publishes no bloom either — membership
            # breaks under the same rewrites ranges do
            for c, bf in blooms.items():
                if c in cols and isinstance(bf, dict):
                    cols[c]["bf"] = bf
        entries[base] = {
            "n": n_rows,
            "size": size,
            "mtime_ns": mtime_ns,
            "cols": cols,
        }
        if stripes:
            entries[base]["stripes"] = stripes
        wrote = True
    if not wrote:
        return
    try:
        with fs_open_output(mpath) as f:
            f.write(json.dumps({"version": 1, "files": entries}).encode())
    except Exception:  # noqa: BLE001 — manifest is an optimization
        pass


def part_rows_batch(rows):
    """Task result of the layouts whose tasks write final files (the
    hive layout and write_readstat_partitioned): one Arrow row per
    file, (path, n_rows, JSON [stats, stripes, blooms]) from
    write_part's result."""
    import json

    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.int64()),
            pa.array([json.dumps(r[2:]) for r in rows], pa.string()),
        ],
        names=["path", "n_rows", "stats"],
    )


PART_ROWS_SCHEMA = "path string, n_rows long, stats string"


def publish_part_rows(results) -> list[dict]:
    """Driver side of part_rows_batch: publish one _prs_stats.json
    per directory the collected files landed in (merge=True keeps
    valid entries from earlier exports into the same directory —
    stale ones are defused by the reader's size+mtime validation).
    Returns [{"path", "n_rows"}, ...]."""
    import json

    by_dir: dict[str, list] = {}
    for r in results:
        by_dir.setdefault(os.path.dirname(r.path), []).append(
            (r.path, r.n_rows, *json.loads(r.stats))
        )
    for d, parts in by_dir.items():
        publish_stats_manifest(d, parts, merge=True)
    return [{"path": r.path, "n_rows": r.n_rows} for r in results]


def write_part(
    batches, staged_path, fmt, fields, names, shorts, kinds, options,
    plan=None, **labels,
):
    """One partition's Arrow batches → one part-file at
    ``staged_path``: convert them (the zone-map accumulator rides
    along), write the file, and re-key stats, stripes and blooms by
    what the reader calls the columns. Returns (n_rows, stats,
    stripes, blooms); an empty partition writes nothing and returns
    n_rows 0. ``plan`` and ``labels`` pass to write_partition_file."""
    # stream straight off the iterator: holding the Arrow batches AND
    # the converted frames would double the partition's peak
    frames, widths, acc = convert_batches(
        batches, names, kinds, fmt,
        stripe_rows=_stripe_rows_opt(options),
        bloom_cols=_bloom_cols_opt(options),
        bloom_max_bytes=_bloom_max_bytes_opt(options),
    )
    if not any(len(p) for p in frames):
        return 0, None, None, None
    n = write_partition_file(
        staged_path, fmt, fields, names, shorts, kinds, frames, widths,
        options, plan, **labels,
    )

    keys = shorts
    if fmt == "xpt":
        from polars_readstat_spark.writers.xpt import reader_names

        keys = reader_names(
            fields, shorts, labels.get("variable_labels") or {},
            labels.get("version", 5),
        )

    def rekey(stats):
        return stats_reader_keys(stats, fmt, names, keys)

    stripes = acc.stripes_payload()
    if stripes is not None:
        stripes["cols"] = [rekey(c) for c in stripes["cols"]]
    return n, rekey(acc.stats), stripes, rekey(acc.bloom_payload())


def format_widths(fmt, fields, kinds, widths_map) -> list[int]:
    """Per-column storage widths for sav/zsav/xpt/sas7bdat: string
    byte widths from ``widths_map`` (checked against the format's
    char limit), numerics 8 bytes (sav/zsav: 0, one element)."""
    limit = _STR_LIMIT[fmt]
    widths = []
    for f, k in zip(fields, kinds):
        if k == "str":
            w = widths_map.get(f.name, 1)
            if w > limit:
                raise ValueError(
                    f"write readstat: column {f.name} wider than {limit} "
                    f"bytes ({fmt} char limit)"
                )
            widths.append(w)
        else:
            widths.append(0 if fmt in ("sav", "zsav") else 8)
    return widths


def write_partition_file(
    staged_path, fmt, fields, names, shorts, kinds, frames, widths_map,
    options, plan=None, variable_labels=None, value_labels=None,
    measures=None, version=5,
):
    """Assemble one part-file from converted pandas frames.

    ``plan``, when given, replaces the partition-local column plan
    with a global one so every part shares one layout: the
    format_widths list (sav/zsav/xpt/sas7bdat) or dta's column list
    from dta._finalize_cols. The label arguments mean what they mean
    in the single-file writers; ``data_label`` and ``dataset_name``
    come from ``options``."""
    variable_labels = variable_labels or {}
    n_rows = sum(len(p) for p in frames)
    if fmt == "dta":
        from polars_readstat_spark.writers.dta import (
            _assemble_dta,
            _pack_stream,
        )

        cols = plan or _dta_schema_cols(fields, frames, widths_map)
        data, strls, _ = _pack_stream(cols, frames)
        with _fs_open_output(staged_path) as fh:
            fh.write(
                _assemble_dta(
                    cols, data, strls, n_rows,
                    options.get("data_label", ""), variable_labels,
                    value_labels or {},
                )
            )
        return n_rows
    widths = plan or format_widths(fmt, fields, kinds, widths_map)

    if fmt == "sas7bdat":
        from polars_readstat_spark.writers.sas7bdat import _SasFileSink

        with _fs_open_output(staged_path) as fh:
            sink = _SasFileSink(
                fh, fields, names, kinds, widths,
                options.get("dataset_name", "DATA"), variable_labels,
                int(options["page_length"]) if options.get("page_length") else None,
                options.get("compress"),
            )
            for pdf in frames:
                if len(pdf):
                    sink.write_batch([pdf[n] for n in names])
            sink.close()
    elif fmt in ("sav", "zsav"):
        from polars_readstat_spark.writers.sav import (
            _pack_columns,
            _sav_dictionary,
            _ZlibSink,
        )

        zsav = fmt == "zsav"
        el_per = [max((w + 7) // 8, 1) if w else 1 for w in widths]
        case_size = sum(el_per)
        head = _sav_dictionary(
            fields, names, shorts, kinds, widths, el_per, case_size,
            n_rows, zsav, options.get("data_label", ""), variable_labels,
            value_labels or {}, measures or {},
        )
        with _fs_open_output(staged_path) as fh:
            fh.write(bytes(head))
            sink = _ZlibSink(fh, len(head)) if zsav else fh
            for pdf in frames:
                if len(pdf):
                    sink.write(
                        _pack_columns(
                            [pdf[n] for n in names], kinds, widths,
                            el_per, case_size,
                        )
                    )
            if zsav:
                sink.close()
    else:  # xpt
        from polars_readstat_spark.writers.xpt import _pack_xpt, _xpt_header

        record_width = sum(widths)
        head = bytes(
            _xpt_header(
                fields, shorts, kinds, widths,
                options.get("dataset_name", "DATA"), variable_labels,
                version,
            )
        )
        with _fs_open_output(staged_path) as fh:
            fh.write(head)
            total = 0
            for pdf in frames:
                if len(pdf):
                    raw = _pack_xpt(
                        [pdf[n] for n in names], kinds, widths, record_width
                    )
                    fh.write(raw)
                    total += len(raw)
            fh.write(b" " * ((-total) % 80))
    return n_rows


def _dta_schema_cols(fields, frames, widths_map) -> list[tuple]:
    """The sink's dta column plan, used when write_partition_file gets
    no global ``plan``: schema-deterministic and sentinel-safe, so
    every partition maps the same Spark type to the same Stata type
    regardless of its values and part-files always union under one
    schema (write_dta's stats-tightened narrowing would let two
    partitions disagree). tinyint→int and smallint→long clear the
    Stata missing-sentinel bands; int/bigint→double is exact to ±2^53
    with a loud per-partition guard beyond (mirroring write_dta)."""
    from polars_readstat_spark.writers.dta import _DOUBLE_EXACT_INT

    cols = []
    bigcheck = []
    for f in fields:
        t = f.dataType.simpleString()
        n = f.name
        if t == "string":
            w = widths_map.get(n, 1)
            if w > 2045:
                cols.append((n, "strl", 8, "%9s"))
            else:
                cols.append((n, "str", w, f"%{max(w, 9)}s"))
        elif t == "boolean":
            cols.append((n, "byte", 1, "%8.0g"))
        elif t == "tinyint":
            cols.append((n, "int", 2, "%8.0g"))
        elif t == "smallint":
            cols.append((n, "long", 4, "%12.0g"))
        elif t in ("int", "bigint"):
            if t == "bigint":
                bigcheck.append(n)
            cols.append((n, "double", 8, "%10.0g"))
        elif t in ("float", "double") or t.startswith("decimal"):
            cols.append((n, "double", 8, "%10.0g"))
        elif t == "date":
            cols.append((n, "date", 4, "%td"))
        elif t.startswith("timestamp"):
            cols.append((n, "datetime", 8, "%tc"))
        else:
            raise ValueError(
                f"write readstat: unsupported dta sink type {t} for {n}"
            )
    for n in bigcheck:
        for pdf in frames:
            if len(pdf) == 0:
                continue
            s = pdf[n].dropna()
            if len(s) and (
                s.min() < -_DOUBLE_EXACT_INT or s.max() > _DOUBLE_EXACT_INT
            ):
                raise ValueError(
                    f"write readstat: bigint column {n!r} holds values "
                    "outside ±2^53; Stata's widest numeric type (double) "
                    "cannot represent them exactly"
                )
    return cols


class ReadstatDataSourceWriter(DataSourceArrowWriter):
    def __init__(self, path, schema, options, overwrite):
        if not path:
            raise ValueError(
                "df.write.format('readstat') requires save(path) "
                f"(got options: {sorted(options)})"
            )
        self.path = path
        self.options = dict(options)
        self.options["path"] = path
        self.overwrite = overwrite
        self.fmt, self.fields, self.names, self.shorts, self.kinds = (
            plan_write(schema, self.options)
        )
        self.run_id = uuid.uuid4().hex[:12]
        from polars_readstat_spark.sources.fs import fs_makedirs

        fs_makedirs(path)

    def write(self, iterator):
        from pyspark import TaskContext

        from polars_readstat_spark.sources.fs import fs_join

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        final = fs_join(
            self.path, f"part-{pid:05d}-{self.run_id}.{self.fmt}"
        )
        # attempt id in the staged name: a speculative/retried task
        # must never write the same staging file as its sibling
        staged = fs_join(
            self.path,
            f".staged-{self.run_id}-a{attempt}-part-{pid:05d}.{self.fmt}",
        )
        n, stats, stripes, blooms = write_part(
            iterator, staged, self.fmt, self.fields, self.names,
            self.shorts, self.kinds, self.options,
        )
        if not n:
            return _PartMessage("", "", 0)
        return _PartMessage(
            staged, final, n, stats=stats, stripes=stripes, blooms=blooms
        )

    def commit(self, messages):
        from polars_readstat_spark.sources.fs import (
            fs_exists,
            fs_listdir,
            fs_move,
            fs_remove,
        )

        if self.overwrite:
            for fp in fs_listdir(self.path):
                base = os.path.basename(fp)
                if base.endswith(f".{self.fmt}") and not base.startswith("."):
                    if self.run_id not in base:
                        fs_remove(fp)
        for m in messages:
            if m and m.staged:
                fs_move(m.staged, m.final)
        self._write_stats_manifest(messages)

    def _write_stats_manifest(self, messages) -> None:
        publish_stats_manifest(
            self.path,
            [
                (
                    m.final,
                    m.n_rows,
                    m.stats,
                    getattr(m, "stripes", None),
                    getattr(m, "blooms", None),
                )
                for m in messages
                if m and m.staged and m.stats is not None
            ],
            merge=not self.overwrite,
        )

    def abort(self, messages):
        from polars_readstat_spark.sources.fs import fs_exists, fs_remove

        for m in messages or []:
            if m and m.staged and fs_exists(m.staged):
                fs_remove(m.staged)


class ReadstatStreamWriter(DataSourceStreamArrowWriter):
    """df.writeStream.format("readstat") — continuous export of
    micro-batches as statistical part-files.

    Per micro-batch, each task stages its partition's file under a
    unique attempt name; ``commit(messages, batchId)`` renames them to
    ``part-b<batchId>-p<pid>.<fmt>``. Batch replays after a failure
    re-stage and re-rename the same final names, so the visible
    directory converges to exactly-once contents (the same layout the
    batch and streaming readers consume)."""

    def __init__(self, path, schema, options):
        if not path:
            raise ValueError(
                "writeStream.format('readstat') requires .start(path)"
            )
        self.path = path
        self.options = dict(options)
        self.options["path"] = path
        self.fmt, self.fields, self.names, self.shorts, self.kinds = (
            plan_write(schema, self.options)
        )
        from polars_readstat_spark.sources.fs import fs_makedirs

        fs_makedirs(path)

    def write(self, iterator):
        from pyspark import TaskContext

        from polars_readstat_spark.sources.fs import fs_join

        pid = TaskContext.get().partitionId()
        staged = fs_join(
            self.path,
            f".staged-stream-{uuid.uuid4().hex[:12]}-p{pid:05d}.{self.fmt}",
        )
        # the accumulator runs over the batches anyway — publishing
        # its zone maps (and opt-in blooms) at commit gives the
        # landing directory file skipping for free (round 13: before
        # this the stats were computed and DISCARDED, so streamed
        # lakes needed a separate index_zonemaps pass)
        n, stats, stripes, blooms = write_part(
            iterator, staged, self.fmt, self.fields, self.names,
            self.shorts, self.kinds, self.options,
        )
        if not n:
            return _PartMessage("", "", 0, pid)
        return _PartMessage(
            staged, "", n, pid, stats=stats, stripes=stripes, blooms=blooms
        )

    def commit(self, messages, batchId):
        from polars_readstat_spark.sources.fs import fs_join, fs_move

        parts = []
        for m in messages:
            if m and m.staged:
                final = fs_join(
                    self.path, f"part-b{batchId:08d}-p{m.pid:05d}.{self.fmt}"
                )
                fs_move(m.staged, final)
                if m.stats is not None:
                    parts.append(
                        (final, m.n_rows, m.stats, m.stripes, m.blooms)
                    )
        # idempotent under batch replay: entries key by final name and
        # overwrite; publish AFTER the renames so size+mtime describe
        # the visible files. Failure after rename, before publish,
        # costs only the skip (the reader treats missing entries as
        # unskippable).
        if parts:
            publish_stats_manifest(self.path, parts, merge=True)

    def abort(self, messages, batchId):
        from polars_readstat_spark.sources.fs import fs_exists, fs_remove

        for m in messages or []:
            if m and m.staged and fs_exists(m.staged):
                fs_remove(m.staged)
