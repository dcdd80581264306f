"""The three workloads: their operations and the output check of each.

An operation is one closed-loop request: it starts at ``load()`` (or
the write call) and ends when Spark's action returns. Every operation
reaches the engine only through its public surface:
``spark.read.format("readstat").load``, the ``write_*`` functions and
the ``df.write.format("readstat")`` sink.

Scans end in one aggregate over the loaded frame (row count, ``sum(k)``,
``sum(crc32(s))``, ``sum(v)``), which the check compares with the
generator's figures; the cells a scan returns are its rows times the
columns it loads. Exports are read back after the timed phase, by
pandas for dta and sas7bdat and by the engine for sav, and their
per-column digest is compared with the source frame's.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

from perfbench.fixtures import (
    ACS_PROJECTION,
    ANES_PROJECTION,
    K_CUT,
    MANY_PROJECTION,
    frame_digest,
)


@dataclass
class Op:
    kind: str  # e.g. "acs.sas7bdat/filter" — one per (input, shape)
    run: Callable  # (spark, out_path) -> Result
    check: Callable  # (spark, Result) -> failure text or None
    inputs: list  # fixture paths the op reads
    export: bool = False


@dataclass
class Result:
    cells: int = 0
    out_bytes: int = 0
    load_s: float = 0.0
    value: object = None
    out_path: str | None = None


def _reader(spark, columns=None):
    r = spark.read.format("readstat")
    if columns:
        r = r.option("columns", ",".join(columns))
    return r


def _scan_aggregates(df, str_col: str):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)),
        F.sum("k"),
        F.sum(F.crc32(F.col(str_col).cast("binary"))),
        F.sum("v"),
    ).collect()[0]


def scan_op(path: str, label: str, shape: str, expect: dict, columns: int,
            projection: list, str_col: str) -> Op:
    """One read of ``path``: ``shape`` is full, proj, filter,
    proj_filter or schema (a schema-only open)."""
    from pyspark.sql import functions as F

    proj = projection if shape in ("proj", "proj_filter") else None
    filtered = shape in ("filter", "proj_filter")

    def run(spark, _out):
        t0 = time.perf_counter()
        df = _reader(spark, proj).load(path)
        load_s = time.perf_counter() - t0
        if shape == "schema":
            return Result(load_s=load_s, value=list(df.schema.names))
        if filtered:
            df = df.filter(F.col("k") < K_CUT)
        row = _scan_aggregates(df, str_col)
        return Result(cells=int(row[0]) * len(df.columns), load_s=load_s, value=list(row))

    def check(_spark, res):
        if shape == "schema":
            got = len(res.value)
            return None if got == columns else f"schema has {got} columns, want {columns}"
        n, k, c, v = expect["filtered" if filtered else "all"]
        got_n, got_k, got_c, got_v = res.value
        want = [n, k, c, v]
        got = [int(got_n), float(got_k or 0), int(got_c or 0), float(got_v or 0)]
        return None if got == want else f"aggregates {got} != expected {want}"

    return Op(f"{label}/{shape}", run, check, [path])


def _bump_mtimes(directory: str) -> Callable:
    """Give every file a new mtime, so the next plan misses the
    metadata memo and the sidecars: the newly-landed-files case."""
    counter = [0]

    def bump():
        counter[0] += 1
        t = time.time_ns() + counter[0]
        for name in os.listdir(directory):
            os.utime(os.path.join(directory, name), ns=(t, t))

    return bump


# -- exports -----------------------------------------------------------------


def _export_fns():
    from polars_readstat_spark.writers.dta import write_dta
    from polars_readstat_spark.writers.sas7bdat import write_sas7bdat
    from polars_readstat_spark.writers.sav import write_sav

    def sink(df, path):
        df.write.format("readstat").option("format", "dta").mode("overwrite").save(path)

    return {
        "dta": (write_dta, ".dta"),
        "sav": (write_sav, ".sav"),
        "sas7bdat_rle": (lambda df, p: write_sas7bdat(df, p, compress="rle"), ".sas7bdat"),
        "sink_dta": (sink, ""),
    }


# plain sas7bdat, zsav, xpt and por are left out to keep a convert run
# inside the benchmark's run budget (README); plain sas7bdat and zsav
# share their pack kernels with sas7bdat_rle and sav
EXPORT_KINDS = ["dta", "sav", "sas7bdat_rle", "sink_dta"]


def output_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def readback(spark, kind: str, path: str):
    """Read an export back as pandas: an independent reader where one
    is installed (pandas for dta and sas7bdat), the engine otherwise."""
    import pandas as pd

    if kind == "dta":
        return pd.read_stata(path)
    if kind == "sink_dta":
        parts = sorted(f for f in os.listdir(path) if f.endswith(".dta"))
        return pd.concat([pd.read_stata(os.path.join(path, f)) for f in parts], ignore_index=True)
    if kind.startswith("sas7bdat"):
        return pd.read_sas(path, format="sas7bdat", encoding="utf-8")
    return spark.read.format("readstat").load(path).toArrow().to_pandas(
        timestamp_as_object=True, date_as_object=True
    )


def check_export(spark, kind: str, path: str, expect: dict) -> str | None:
    """None when the export at ``path`` reads back to ``expect``'s
    digest, else what differs. A file that fails to read fails."""
    try:
        got = frame_digest(readback(spark, kind, path))
    except Exception as e:  # noqa: BLE001 - any read failure is a failed check
        return f"readback failed: {type(e).__name__}: {e}"
    diff = {k: (got.get(k), v) for k, v in expect.items() if got.get(k) != v}
    return None if not diff else f"digest differs (got, want): {diff}"


def export_op(tall: str, kind: str, expect: dict) -> Op:
    write, ext = _export_fns()[kind]
    cells = expect["__rows"] * (len(expect) - 1)

    def run(spark, out):
        path = out + ext
        t0 = time.perf_counter()
        df = spark.read.format("readstat").load(tall)
        load_s = time.perf_counter() - t0
        write(df, path)
        return Result(cells=cells, out_bytes=output_bytes(path), load_s=load_s, out_path=path)

    def check(spark, res):
        try:
            return check_export(spark, kind, res.out_path, expect)
        finally:
            if os.path.isdir(res.out_path):
                shutil.rmtree(res.out_path, ignore_errors=True)
            elif os.path.exists(res.out_path):
                os.remove(res.out_path)

    return Op(f"tall.dta->{kind}", run, check, [tall], export=True)


# -- workloads ---------------------------------------------------------------


def build(workload: str, manifest: dict) -> tuple[list[Op], dict]:
    """The operations of one cycle of ``workload``, and the untimed
    hooks to run before each (by op kind)."""
    root = manifest["root"]
    ops: list[Op] = []
    before: dict[str, Callable] = {}
    if workload == "scan_wide":
        # every file: full and projected+filtered reads; besides, one
        # projected-only read, one filtered-only read and two
        # schema-only opens
        shapes = {
            "acs.sas7bdat": ("full", "proj", "proj_filter", "schema"),
            "acs_bytecode.sav": ("full", "proj_filter"),
            "acs.zsav": ("full", "proj_filter"),
            "anes.sav": ("full", "filter", "proj_filter", "schema"),
        }
        for name, file_shapes in shapes.items():
            projection = ANES_PROJECTION if name.startswith("anes") else ACS_PROJECTION
            for shape in file_shapes:
                ops.append(scan_op(
                    os.path.join(root, name), name, shape, manifest["files"][name],
                    manifest["columns"][name], projection, "s0",
                ))
    elif workload == "scan_many_files":
        for name in ("dta", "sas7bdat"):
            d = os.path.join(root, name)
            for shape in ("full", "proj_filter"):
                op = scan_op(d, f"{name}_dir", shape, manifest["files"][name],
                             manifest["columns"][name], MANY_PROJECTION, "s")
                before[op.kind] = _bump_mtimes(d)
                ops.append(op)
    elif workload == "convert":
        tall = os.path.join(root, "tall.dta")
        for kind in EXPORT_KINDS:
            ops.append(export_op(tall, kind, manifest["files"]["tall.dta"]))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return ops, before


WORKLOADS = ("scan_wide", "scan_many_files", "convert")
