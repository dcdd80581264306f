"""Distributed partitioned export: one statistical file per Spark
partition, written inside the executor tasks.

The single-file writers stream through the driver
(`toLocalIterator`), which bounds memory but serializes wall-clock —
SCALE.md names that bound. This path removes it: a global pre-pass
job resolves one column plan (string widths; for dta, integer
narrowing from global min/max) so every part-file shares a single
schema, then `mapInArrow` tasks write their own partition's file in
parallel through the sink's part writer (``spark_sink.write_part``).
The output directory is exactly the multi-file layout the readers
already consume (`spark.read.format("readstat").load(dir)` unions part
files with per-file partition fan-out), so dir-write → dir-read
roundtrips.

On a real cluster the directory must be storage every executor can
reach (NFS/fuse-mounted object store); tasks write to a temp name and
rename, so retries never leave torn files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from polars_readstat_spark.writers import prepass, str_columns

# keyword arguments per format, named as in the single-file writers
# (every format also takes bloom_columns and bloom_max_bytes)
_KWARGS = {
    "dta": {"data_label", "variable_labels", "value_labels"},
    "sav": {"data_label", "variable_labels", "value_labels", "measures"},
    "zsav": {"data_label", "variable_labels", "value_labels", "measures"},
    "xpt": {"dataset_name", "variable_labels", "version"},
    "sas7bdat": {"dataset_name", "variable_labels", "page_length", "compress"},
}
# passed to write_part as label arguments; the rest (data_label,
# dataset_name, page_length, compress) ride in its options dict
_LABELS = ("variable_labels", "value_labels", "measures", "version")


def write_readstat_partitioned(df: DataFrame, dir_path: str, ext: str = "dta", **kwargs):
    """Write one ``part-NNNNN.<ext>`` per non-empty partition into
    ``dir_path`` plus its ``_prs_stats.json`` zone-map manifest.
    Returns [{"path", "n_rows"}, ...] per written part.

    dta, sav, zsav, xpt and sas7bdat ship distributed; POR stays
    driver-streamed (legacy eager format). Keyword arguments are the
    format's labels (see _KWARGS) plus ``bloom_columns`` and
    ``bloom_max_bytes`` (the sink's ``zonemap_bloom_*`` options).
    ``partition_by=[...]`` routes to the hive-style layout writer
    (key=value/ subdirectories, one manifest each — writers/hive.py)."""
    fmt = ext.lstrip(".").lower()
    if kwargs.get("partition_by"):
        from polars_readstat_spark.writers.hive import write_readstat_hive

        return write_readstat_hive(df, dir_path, ext=fmt, **kwargs)
    if fmt not in _KWARGS:
        raise NotImplementedError(
            f"write_readstat_partitioned: format {ext!r} not yet distributed; "
            "use write_readstat per file or repartition+loop driver-side"
        )
    unknown = set(kwargs) - _KWARGS[fmt] - {"bloom_columns", "bloom_max_bytes"}
    if unknown:
        raise TypeError(
            f"write_readstat_partitioned: unexpected keyword arguments "
            f"{sorted(unknown)} for format {fmt!r}"
        )
    from polars_readstat_spark.sources.fs import fs_join, fs_makedirs
    from polars_readstat_spark.writers.spark_sink import (
        PART_ROWS_SCHEMA,
        format_widths,
        part_rows_batch,
        plan_write,
        publish_part_rows,
        write_part,
    )

    labels = {k: kwargs.pop(k) for k in _LABELS if k in kwargs}
    options = {
        "format": fmt,
        "zonemap_bloom_columns": kwargs.pop("bloom_columns", ()),
        "zonemap_bloom_max_bytes": kwargs.pop("bloom_max_bytes", None),
        **kwargs,
    }
    fmt, fields, names, shorts, kinds = plan_write(df.schema, options)
    # the global pre-pass (the single-file writers' statistics job;
    # its per-partition counts go unused) fixes the plan every part
    # shares
    if fmt == "dta":
        from polars_readstat_spark.writers.dta import (
            _finalize_cols,
            _plan_columns,
        )

        dta_plan, widths, ranges = _plan_columns(df)
        plan = _finalize_cols(dta_plan, prepass(df, widths, ranges))
    else:
        widths = str_columns(names, kinds)
        stats = prepass(df, widths) if widths else {}
        plan = format_widths(
            fmt, fields, kinds,
            {n: max(int(stats[f"__w_{n}"] or 0), 1) for n in widths},
        )
    fs_makedirs(dir_path)

    def task(batches):
        from pyspark import TaskContext

        from polars_readstat_spark.sources.fs import fs_move

        pid = TaskContext.get().partitionId()
        path = fs_join(dir_path, f"part-{pid:05d}.{fmt}")
        tmp = path + f".tmp{os.getpid()}"
        n, *stats = write_part(
            batches, tmp, fmt, fields, names, shorts, kinds, options,
            plan, **labels,
        )
        if n:
            fs_move(tmp, path)
            yield part_rows_batch([(path, n, *stats)])

    return publish_part_rows(df.mapInArrow(task, PART_ROWS_SCHEMA).collect())
