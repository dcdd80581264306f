"""Writers / sinks (SURVEY.md §2.7): Spark DataFrame → statistical
file formats. Single-file formats with row-count headers ⇒ one
pre-pass statistics job (``prepass``: counts, widths, ranges and the
rows of every input partition), then executor-side packing
whose chunks the driver only concatenates in input order — one
driver, ``export_chunks``, with one threshold table choosing between
its two arms (``iter_packed_chunks``, ``iter_ordered_packed``). The
Spark translation of the reference's two-pass sink_stata,
pybindings.rs:951-1096."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_epoch_seconds(c: Column) -> Column:
    """Wall-clock seconds since 1970-01-01 00:00:00 for TIMESTAMP or
    TIMESTAMP_NTZ, without any timezone interpretation (NTZ cannot be
    cast to double in Spark 4; field arithmetic sidesteps session-tz
    coupling entirely)."""
    return (
        F.unix_date(F.to_date(c)).cast("double") * 86400.0
        + F.hour(c) * 3600.0
        + F.minute(c) * 60.0
        + F.second(c).cast("double")
        + F.date_format(c, "SSSSSS").cast("double") / 1e6
    )


# epochs relative to the Unix epoch: SAS counts days (dates) or
# seconds (datetimes) from 1960-01-01, SPSS seconds from 1582-10-14
SAS_DAY_SHIFT = 3653
SAS_SEC_SHIFT = 315_619_200
SPSS_SEC_SHIFT = 12_219_379_200

# epoch_cast targets: (date multiplier, date shift, datetime shift) —
# SAS dates are days + SAS_DAY_SHIFT, SPSS dates days·86400 +
# SPSS_SEC_SHIFT; both datetimes are seconds + the seconds shift
SAS_EPOCH = (1.0, float(SAS_DAY_SHIFT), float(SAS_SEC_SHIFT))
SPSS_EPOCH = (86400.0, float(SPSS_SEC_SHIFT), float(SPSS_SEC_SHIFT))


def epoch_cast(df, fields, kinds, epoch, keep=()):
    """Select every column as the double the format stores (dates and
    datetimes shifted to ``epoch``, ns-since-midnight times to seconds;
    strings pass through), then the ``keep`` columns. The shifts are
    integer-valued doubles, so every result is exact."""
    date_mul, date_add, sec_add = epoch
    sel = []
    for f, k in zip(fields, kinds):
        c = F.col(f.name)
        if k == "num":
            c = c.cast("double")
        elif k == "date":
            c = F.unix_date(c).cast("double") * date_mul + date_add
        elif k == "datetime":
            c = ts_epoch_seconds(c) + sec_add
        elif k == "time":
            c = c.cast("double") / 1e9
        sel.append(c.alias(f.name))
    return df.select(*sel, *keep)


def str_columns(names, kinds) -> list[str]:
    """The string columns of a column_kinds plan: the ``widths`` a
    writer's pre-pass measures."""
    return [n for n, k in zip(names, kinds) if k == "str"]


# Spark types stored as plain doubles; void (an all-null column, e.g.
# F.lit(None)) writes an all-missing numeric column
_NUM_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "boolean",
    "void",
)


def column_kinds(fields) -> list[str]:
    """Storage kind per Spark field — str | date | datetime | time |
    num — shared by the sav/zsav, xpt, sas7bdat and por writers and
    the distributed sink (dta plans Stata storage types itself).
    Decimals are num; a bigint tagged ``time=ns_since_midnight`` is
    time. Any other type raises one ValueError naming the column."""
    kinds = []
    for f in fields:
        t = f.dataType.simpleString()
        if t == "string":
            kinds.append("str")
        elif t == "date":
            kinds.append("date")
        elif t.startswith("timestamp"):
            kinds.append("datetime")
        elif t == "bigint" and f.metadata.get("time") == "ns_since_midnight":
            kinds.append("time")
        elif t in _NUM_TYPES or t.startswith("decimal"):
            kinds.append("num")
        else:
            raise ValueError(
                f"write readstat: unsupported type {t} for column {f.name!r}"
            )
    return kinds


def str_cell_matrix(col, w: int, utf8_boundary: bool = False):
    """(n, w) uint8 matrix of UTF-8-encoded, truncated, space-padded
    fixed-width string cells — the shared string-cell pack for the
    sav/xpt/sas7bdat writers (round 13, guide §4.2): the encode runs
    once per DISTINCT value (pandas factorize) and rows gather from
    the unique-cell matrix, replacing the per-row encode/ljust loops.
    Non-str values (None/NaN) become the empty cell, as before.
    ``utf8_boundary`` backs a width-truncated cell off (≤3 bytes) to
    the last complete UTF-8 character (the xpt rule)."""
    import numpy as np
    import pandas as pd

    if not isinstance(col, (pd.Series, pd.Index, np.ndarray)):
        col = np.asarray(col, dtype=object)  # tuple/list driver paths
    codes, uniq = pd.factorize(col, use_na_sentinel=True)
    cells = []
    for s in uniq:
        full = (s if isinstance(s, str) else "").encode("utf-8")
        b = full[:w]
        if utf8_boundary and len(b) < len(full):
            for _ in range(3):
                try:
                    b.decode("utf-8")
                    break
                except UnicodeDecodeError:
                    b = b[:-1]
        cells.append(b)
    cells.append(b"")  # factorize's -1 sentinel (null) → empty cell
    lens = np.fromiter(
        (len(b) for b in cells), dtype=np.int64, count=len(cells)
    )
    k = max(int(lens.max()), 1)
    um = (
        np.array(cells, dtype=f"S{k}")
        .view(np.uint8)
        .reshape(len(cells), k)
    )
    out = np.full((len(cells), w), 0x20, dtype=np.uint8)
    msk = np.arange(k)[None, :] < lens[:, None]
    out[:, :k][msk] = um[msk]
    return out[codes]


def iter_arrow_chunks(df, max_rows: int = 65536):
    """Partition-ordered Arrow-chunk transport for a driver-side pack.

    Its one user is write_dta with strL columns: the GSO records key
    on the global row number, which only this ordered driver stream
    knows, so those rows pack on the driver. Every other single-file
    export packs on the executors through ``export_chunks``.

    `toLocalIterator()` deserializes one pickled Row OBJECT per row on
    the driver — the slowest possible transport for a bulk export.
    Here each executor serializes its Arrow batches to IPC bytes
    (`mapInArrow`, one binary cell per chunk ≤ max_rows), the driver
    streams those few rows in partition order with bounded memory, and
    each chunk deserializes back to a `pyarrow.RecordBatch` in one
    C-level pass. Yields pandas DataFrames (the pack kernels consume
    Series via .to_numpy / iteration) of ≤ max_rows rows.
    """
    import pyarrow as pa

    schema_names = df.columns

    def stage(batches):
        import io

        import pyarrow as _pa

        for b in batches:
            start = 0
            while start < b.num_rows:
                piece = b.slice(start, max_rows)
                start += piece.num_rows
                sink = io.BytesIO()
                with _pa.ipc.new_stream(sink, piece.schema) as w:
                    w.write_batch(piece)
                yield _pa.RecordBatch.from_arrays(
                    [_pa.array([sink.getvalue()], type=_pa.binary())],
                    names=["chunk"],
                )

    staged = df.mapInArrow(stage, "chunk binary")
    for row in staged.toLocalIterator(prefetchPartitions=True):
        with pa.ipc.open_stream(row[0]) as reader:
            for b in reader:
                pdf = b.to_pandas()
                pdf.columns = schema_names
                yield pdf


def iter_packed_chunks(df, pack_fn, max_rows: int = 8192, modules=()):
    """Executor-side packing for driver-assembled single-file sinks.

    `pack_fn(pandas.DataFrame) -> bytes` runs inside a mapInArrow
    stage on the executors (rows pack independently in every format
    here); the driver receives (payload, n_rows) pairs in partition
    order and only concatenates. `modules` are registered for
    cloudpickle pickle-by-value so the stage works when the package
    is importable only on the driver (the external-driver layout);
    pack_fn and everything it references must resolve from those
    modules' globals, not from runtime package imports.
    """
    import sys

    from pyspark import cloudpickle

    for m in modules:
        cloudpickle.register_pickle_by_value(sys.modules[m])
    names = df.columns

    def stage(batches):
        import pyarrow as _pa

        for b in batches:
            start = 0
            while start < b.num_rows:
                piece = b.slice(start, max_rows)
                start += piece.num_rows
                pdf = piece.to_pandas()
                pdf.columns = names
                yield _pa.RecordBatch.from_arrays(
                    [
                        _pa.array([pack_fn(pdf)], type=_pa.binary()),
                        _pa.array([piece.num_rows], type=_pa.int64()),
                    ],
                    names=["payload", "n"],
                )

    staged = df.mapInArrow(stage, "payload binary, n bigint")
    for row in staged.toLocalIterator(prefetchPartitions=True):
        yield row[0], row[1]


def _spark_extreme(vals, pick):
    """``pick`` (min or max) of per-partition results in Spark's
    ordering: nulls skipped, NaN above every number."""
    vals = [v for v in vals if v is not None]
    return pick(vals, key=lambda v: (v != v, v)) if vals else None


def prepass(df, widths=(), ranges=()):
    """The one statistics job of every single-file writer: row count
    (``__n``), ``max(octet_length)`` per ``widths`` column
    (``__w_<c>``), ``min``/``max`` per ``ranges`` column
    (``__min_<c>``, ``__max_<c>``), and ``__counts``, the row count of
    every input partition indexed by partition id (the routing table
    of iter_ordered_packed). Spark aggregates per
    ``spark_partition_id()``; the driver merges the one row per
    partition (a second Spark aggregation level cost an extra shuffle
    stage, ~0.2 s of CPU per export). An empty frame gives ``__n`` 0
    and null stats."""
    part = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(widths):
        part.append(F.max(F.octet_length(c)).alias(f"w{i}"))
    for i, c in enumerate(ranges):
        part += [F.min(c).alias(f"lo{i}"), F.max(c).alias(f"hi{i}")]
    rows = df.groupBy(F.spark_partition_id().alias("pid")).agg(*part).collect()
    counts = [0] * (max((r.pid for r in rows), default=-1) + 1)
    for r in rows:
        counts[r.pid] = r.n
    stats = {"__n": sum(counts), "__counts": counts}
    for i, c in enumerate(widths):
        stats[f"__w_{c}"] = _spark_extreme([r[f"w{i}"] for r in rows], max)
    for i, c in enumerate(ranges):
        stats[f"__min_{c}"] = _spark_extreme([r[f"lo{i}"] for r in rows], min)
        stats[f"__max_{c}"] = _spark_extreme([r[f"hi{i}"] for r in rows], max)
    return stats


def iter_ordered_packed(
    df, pack_fn, counts, max_rows: int = 8192, modules=(), cast=None
):
    """Executor packing fanned across every core, in one Python
    crossing, drained in exact input order.

    Each row gets, in the JVM, its monotonically-increasing id
    ``__prs_mid`` (partition << 33 | offset) and a chunk id
    ``__prs_cid = __prs_mid div max_rows``: chunks are contiguous,
    never span two input partitions, and chunk ids sort exactly like
    the input rows, whatever the plan's partition layout. ``counts``
    (``prepass(df)["__counts"]``, the rows of every input partition)
    only route: a chunk's routing key is ``base[partition]`` (the
    prefix sum of the partitions' chunk counts) plus its index in the
    partition, clamped to the partition's own key range, and
    ``repartitionById`` sends key ``k`` of ``total`` to core ``k *
    cores div total``. Whole chunks travel together through a JVM-only
    shuffle, and since the key never decreases along input order,
    partition index order is cid order even when the export's layout
    differs from the pre-pass's (adaptive execution may coalesce an
    upstream shuffle differently): wrong counts cost load balance, not
    order. The shuffle map is the only read of ``df``. Each pack task
    sorts its rows by ``__prs_mid``, splits on cid boundaries and emits
    its chunks cid-ascending; the packed output is persisted (packing
    runs on every core at once) and streams to the driver in partition
    order. A strictly-increasing cid check and the staged chunk/row
    totals turn an ordering or drain fault into a hard error.

    ``cast``, when given, is applied AFTER the repartition and must
    preserve the ``__prs_mid``/``__prs_cid`` columns: the shuffle
    then carries the narrow source types and the cast's row-widening
    (e.g. dates → display strings) runs on every core instead of on
    the input's partition count.
    """
    import sys

    from pyspark import cloudpickle

    for m in modules:
        cloudpickle.register_pickle_by_value(sys.modules[m])
    for c in ("__prs_mid", "__prs_cid"):
        if c in df.columns:
            raise ValueError(f"iter_ordered_packed: column {c!r} is reserved")
    max_rows = int(max_rows)
    base, hi, total = [], [], 0
    for n in counts:
        base.append(total)
        total += -(-n // max_rows)
        hi.append(max(base[-1], total - 1))
    sc = df.sparkSession.sparkContext
    cores = max(int(sc.defaultParallelism), 1)
    pid = "shiftright(__prs_mid, 33)"

    def at(bound):
        # per-partition bound; a partition the pre-pass never saw keys
        # at total, past every counted chunk
        arr = ", ".join(map(str, bound))
        return f"coalesce(try_element_at(array({arr}), CAST({pid} AS INT) + 1), {total})"

    key = (
        f"least({at(base)} + __prs_cid - shiftleft({pid}, 33) div {max_rows}, "
        f"{at(hi)})"
    )
    tagged = df.withColumn(
        "__prs_mid", F.monotonically_increasing_id()
    ).withColumn("__prs_cid", F.expr(f"__prs_mid div {max_rows}"))
    # one contiguous chunk-id range per core, measured: 4x over-
    # partitioning to load-balance uneven chunk ids LOST to its own
    # per-task Python-worker overhead in an interleaved A/B at sf0.1
    # (por 4.2 vs 4.4 s, rle 3.6 vs 3.9, zsav 2.9 vs 3.6) — the
    # straggler tail it targets is smaller than 96 extra mapInArrow
    # task spin-ups
    body = tagged.repartitionById(
        cores,
        F.expr(f"CAST(least(({key}) * {cores} div {max(total, 1)}, {cores - 1}) AS INT)"),
    )
    if cast is not None:
        body = cast(body)
    names = [c for c in body.columns if c not in ("__prs_mid", "__prs_cid")]

    def stage(batches):
        import numpy as np
        import pyarrow as _pa

        blist = list(batches)
        if not blist:
            return
        tbl = _pa.Table.from_batches(blist)
        if tbl.num_rows == 0:
            return
        # the shuffle reader merges map-output streams in arbitrary
        # order — restore row order inside the task, then split on
        # chunk-id boundaries (routing sends all rows of a chunk to
        # this task, and this task's cid range precedes every later
        # partition's)
        mid = tbl.column("__prs_mid").to_numpy()
        tbl = tbl.take(np.argsort(mid, kind="stable"))
        cid = tbl.column("__prs_cid").to_numpy()
        bounds = np.flatnonzero(cid[1:] != cid[:-1]) + 1
        starts = np.concatenate(([0], bounds)).tolist()
        ends = np.concatenate((bounds, [len(cid)])).tolist()
        data = tbl.select(names)
        for s, e in zip(starts, ends):
            pdf = data.slice(s, e - s).to_pandas()
            pdf.columns = names
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array([int(cid[s])], type=_pa.int64()),
                    _pa.array([pack_fn(pdf)], type=_pa.binary()),
                    _pa.array([e - s], type=_pa.int64()),
                ],
                names=["cid", "payload", "n"],
            )

    from pyspark import StorageLevel

    staged = body.mapInArrow(
        stage, "cid bigint, payload binary, n bigint"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # materialize on every core AND capture chunk/row totals from
        # the same executed plan: the drained stream must match both,
        # which catches whole-trailing-partition loss in the local
        # iterator
        tot = staged.agg(
            F.count(F.lit(1)).alias("c"), F.sum("n").alias("r")
        ).collect()[0]
        exp_chunks, exp_rows = tot[0], tot[1] or 0
        got_chunks = got_rows = 0
        last_cid = None
        # no orderBy: partition index order is cid order, and each
        # task emits cid-ascending — the monotonicity check below
        # proves it on every drained stream
        for row in staged.toLocalIterator(prefetchPartitions=True):
            if last_cid is not None and row[0] <= last_cid:
                raise RuntimeError(
                    "iter_ordered_packed: chunk stream out of order "
                    f"(cid {row[0]} after {last_cid})"
                )
            last_cid = row[0]
            got_chunks += 1
            got_rows += row[2]
            yield row[1], row[2]
        if got_chunks != exp_chunks or got_rows != exp_rows:
            raise RuntimeError(
                "iter_ordered_packed: chunk stream incomplete "
                f"({got_chunks}/{exp_chunks} chunks, "
                f"{got_rows}/{exp_rows} rows)"
            )
    finally:
        staged.unpersist()


# Single-file export protocol per format: (wide_min_rows,
# narrow_chunk_rows, wide_chunk_rows). Below wide_min_rows the export
# packs in the input's own partitions (iter_packed_chunks); from it
# upward it takes iter_ordered_packed, because toLocalIterator runs a
# narrow pack stage about one input partition at a time, which caps
# pack parallelism at one core whatever the partition count. Both arms
# read the input twice: the pre-pass, then the pack stage (narrow) or
# the shuffle map (ordered). dta's pack is a cheap numpy recarray fill
# (~2 s per million rows on one core), so the ordered arm's shuffle +
# persist cost more than they saved at 600k rows (2.0 s narrow, 3.2 s
# ordered, measured when the ordered arm still ran a range-sampling
# read of its input as well).
# The por ladder and the sas7bdat RLE/RDC encode are the costliest
# packs: their ordered arm uses smaller chunks so they fan across every
# core (65536-row por chunks capped a 600k-row export at ~10-way).
EXPORT_THRESHOLDS = {
    "dta": (2_000_000, 65536, 65536),
    "sav": (100_000, 8192, 8192),
    "xpt": (100_000, 8192, 8192),
    "por": (100_000, 65536, 8192),
    "sas7bdat": (100_000, 8192, 4096),
}


def export_chunks(df, fmt, stats, pack_fn, cast=None, modules=()):
    """The single-file export driver: yields ``(payload, n)`` packed
    chunks of ``df`` in input order. ``stats`` is ``prepass(df)``'s
    result: its row count ``__n`` picks the arm from EXPORT_THRESHOLDS
    and its per-partition ``__counts`` route the ordered arm.
    ``pack_fn`` and ``modules`` are as in iter_packed_chunks.
    ``cast(frame, keep)`` returns ``frame`` with the columns pack_fn
    reads, followed by the ``keep`` columns: the narrow arm applies it
    before the pack stage with no ``keep``; the ordered arm applies it
    after the repartition with the order tags as ``keep``, so the
    shuffle carries the narrow source types and the row-widening casts
    run on every core (casting before the shuffle cost the sf0.1 sav
    export ~0.4 s per run).

    The header a writer built from the pre-pass must describe the
    data, so once the stream ends its row total is compared with
    ``__n`` and a mismatch (an upstream that is not deterministic, or
    a partition that changed between the two reads) raises
    RuntimeError instead of returning a file that contradicts itself."""
    wide_min_rows, narrow_rows, wide_rows = EXPORT_THRESHOLDS[fmt]
    n_rows = stats["__n"]
    if n_rows >= wide_min_rows:
        keep = [F.col("__prs_mid"), F.col("__prs_cid")]
        chunks = iter_ordered_packed(
            df, pack_fn, stats["__counts"], wide_rows, modules,
            cast=None if cast is None else (lambda b: cast(b, keep)),
        )
    else:
        src = df if cast is None else cast(df, [])
        chunks = iter_packed_chunks(src, pack_fn, narrow_rows, modules)
    got = 0
    for payload, n in chunks:
        got += n
        yield payload, n
    if got != n_rows:
        raise RuntimeError(
            f"export {fmt}: the data holds {got} rows but the pre-pass "
            f"counted {n_rows} (is the input deterministic?)"
        )
