"""Run one workload of the readstat benchmark and print its metrics.

    python3 perfbench/run.py --workload scan_wide --seed 1 --seconds 15 --trace 0

One client keeps one Spark action in flight on ``local[nproc]`` (a
closed loop). A run has four phases:

1. prepare: start the JVM and generate the workload's fixtures from
   ``--seed`` with a session of its own (not part of any metric);
2. set-up, timed as ``setup_s``: stop that session and start a new one,
   register the engine (which ships the package to the Python workers)
   and open a tiny file (which starts the planning worker), three times
   over, keeping the median; plus one warm pass over every operation;
3. the timed phase: cycles of the workload's operations until
   ``--seconds`` have passed, the first one whole;
4. untimed output checks of every operation.

``--trace 1`` also writes Spark's event log, tags each operation's jobs
with its operation id as job group, records spans around the calls into
each layer and prints the per-layer metrics instead of the end-to-end
ones. A human-readable summary goes to stderr; the last line of stdout
is one JSON object. Everything the run writes stays under
``perfbench/_work/``; a JSON record of each run lands in
``perfbench/_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

SETUP_REPS = 3
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "cells_per_cpu_s": "1/s",
    "op_cpu_s_p50": "s",
    "op_cpu_s_p75": "s",
    "file_bytes_per_cell": "B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
# wall-clock figures: in the record and the stderr summary, not gated
WALL_UNITS = {"cells_per_s": "1/s", "op_s_p50": "s", "op_s_p75": "s", "steal_frac": "1"}

LAYER_UNITS = {
    "sources.load_s": "s",
    "sources.schema_s": "s",
    "sources.partitions_s": "s",
    "sources.n_partitions": "count",
    "sources.decode_s": "s",
    "sources.decode_cells_per_s": "1/s",
    "sources.io_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "spark.scan.task_run_s": "s",
    "spark.scan.jvm_cpu_s": "s",
    "spark.scan.python_out_mb": "MB",
    "writers.input_scan_stages": "count",
    "writers.sample_job_s": "s",
    "writers.shuffle_write_mb": "MB",
    "writers.pack_stage_run_s": "s",
    "writers.drain_s": "s",
    "writers.out_bytes": "B",
    "writers.sink_task_run_s": "s",
    "trace.cells_per_s": "1/s",
    "trace.cells_per_cpu_s": "1/s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("scan_wide", "scan_many_files", "convert"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(nproc: int, run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.default.parallelism": str(nproc),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed set of JIT compiler threads (see measure.JIT_THREADS),
        # and a heap touched up front, so the JVM's resident size does not
        # depend on when its garbage collector last ran
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                         f"-XX:-UseDynamicNumberOfCompilerThreads -Xms{DRIVER_MEMORY} "
                                         "-XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.executorEnv.NUMPY_MADVISE_HUGEPAGE": "0",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
        })
    return conf


def new_session(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark gateway JVM (and with it the Python workers) and
    wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate any wait failure to a kill
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children(timeout: float = 10.0) -> None:
    """Wait for every descendant of this process to exit; kill what
    remains after ``timeout``."""
    import signal

    from perfbench.measure import _tree_pids

    deadline = time.time() + timeout
    while True:
        kids = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + timeout
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def run_ops(spark, ops, before, out_dir, cycle_tag, spans=None, deadline=None):
    """Run each op once, or until ``deadline`` (a ``perf_counter``
    time) has passed; returns one record per op run."""
    from perfbench.layers import Span
    from perfbench.measure import tree_cpu_s

    sc = spark.sparkContext
    recs = []
    for i, op in enumerate(ops):
        if deadline is not None and time.perf_counter() >= deadline:
            break
        hook = before.get(op.kind)
        if hook is not None:
            hook()
        op_id = f"{cycle_tag}-{i:02d}"
        sc.setJobGroup(op_id, op.kind)
        c0 = tree_cpu_s()
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            res, err = op.run(spark, os.path.join(out_dir, op_id)), None
        except Exception as e:  # noqa: BLE001 - a raising op is counted as failed
            res, err = None, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        e1 = e0 + wall
        recs.append({"id": op_id, "op": op, "kind": op.kind, "wall_s": wall, "cpu_s": cpu, "res": res,
                     "error": err, "start": e0, "end": e1})
        if spans is not None:
            spans.append(Span(op_id, "op", e0, e1, None, {"kind": op.kind}))
            if res is not None:
                spans.append(Span(f"{op_id}/load", "sources.load", e0, e0 + res.load_s, op_id))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return recs


def check_all(spark, recs, workers: int = 4) -> int:
    """Check every op's output, on a few threads (the read-backs wait on
    Spark or on file I/O); set each record's error and count failures."""
    from concurrent.futures import ThreadPoolExecutor

    def check(r):
        if r["error"] is None:
            try:
                r["error"] = r["op"].check(spark, r["res"])
            except Exception as e:  # noqa: BLE001 - a check that raises is a failed check
                r["error"] = f"check raised {type(e).__name__}: {e}"

    with ThreadPoolExecutor(workers) as pool:
        list(pool.map(check, recs))
    return sum(r["error"] is not None for r in recs)


def e2e_metrics(recs, setup_s: float, peak_rss: int, input_bytes: dict) -> dict:
    """End-to-end metrics of the timed phase. Each operation kind is
    summarised by its median over the run's cycles; throughput is one
    cycle's cells over the sum of those medians, and the latency
    percentiles are taken over them, one per kind, as each kind is run
    once a cycle. Throughput and latency are taken in CPU seconds of the
    process tree, which the hypervisor's steal does not inflate; their
    wall-clock twins come along ungated."""
    from perfbench.measure import kind_medians, percentile

    def file_bytes(r):
        res = r["res"]
        if res is None or not res.cells:
            return 0
        return res.out_bytes if r["op"].export else sum(input_bytes[p] for p in r["op"].inputs)

    cpus = kind_medians((r["kind"], r["cpu_s"]) for r in recs)
    walls = kind_medians((r["kind"], r["wall_s"]) for r in recs)
    cells = sum(kind_medians((r["kind"], r["res"].cells if r["res"] else 0) for r in recs).values())
    fbytes = sum(kind_medians((r["kind"], file_bytes(r)) for r in recs).values())
    return {
        "cells_per_cpu_s": cells / sum(cpus.values()),
        "op_cpu_s_p50": percentile(cpus.values(), 50),
        "op_cpu_s_p75": percentile(cpus.values(), 75),
        "file_bytes_per_cell": fbytes / cells if cells else 0.0,
        "peak_rss_mb": peak_rss / 1e6,
        "setup_s": setup_s,
        "cells_per_s": cells / sum(walls.values()),
        "op_s_p50": percentile(walls.values(), 50),
        "op_s_p75": percentile(walls.values(), 75),
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(recs, log, spans, profiles, e2e, first_cycle) -> tuple[dict, list]:
    """Per-layer metrics of a traced run, plus per-op figures."""
    from perfbench.layers import op_figures

    by_id = {s.id: s for s in spans if s.name == "op"}
    per_op = []
    for r in recs:
        fig, children = op_figures(by_id[r["id"]], log, r["op"].export)
        spans.extend(children)
        fig.update({"id": r["id"], "kind": r["kind"], "load_s": r["res"].load_s if r["res"] else 0.0})
        if r["res"] is not None and r["op"].export:
            fig["out_bytes"] = r["res"].out_bytes
        per_op.append(fig)
    scans = [f for f in per_op if f["scan_stages"]]
    exports = [f for f in per_op if "input_scan_stages" in f]
    single = [f for f in exports if not f["kind"].endswith("sink_dta")]
    sinks = [f for f in exports if f["kind"].endswith("sink_dta")]
    total = {k: sum(p[k] for p in profiles) for k in ("metadata_s", "plan_s", "io_s", "decode_arrow_s", "n_partitions")}
    cells = sum(p["n_rows"] * len(p["columns"]) for p in profiles)
    m = {
        "sources.load_s": statistics.median(f["load_s"] for f in per_op),
        "sources.schema_s": total["metadata_s"],
        "sources.partitions_s": total["plan_s"],
        "sources.n_partitions": total["n_partitions"],
        "sources.decode_s": total["decode_arrow_s"],
        "sources.decode_cells_per_s": cells / total["decode_arrow_s"] if total["decode_arrow_s"] else 0.0,
        "sources.io_s": total["io_s"],
        "spark.jobs": _mean(f["jobs"] for f in per_op),
        "spark.tasks": _mean(f["tasks"] for f in per_op),
        "spark.gc_s": _mean(f["gc_s"] for f in per_op),
        "spark.driver_gap_s": statistics.median(f["driver_gap_s"] for f in per_op),
        "spark.scan.task_run_s": _mean(f["scan_task_run_s"] for f in scans),
        "spark.scan.jvm_cpu_s": _mean(f["scan_jvm_cpu_s"] for f in scans),
        "spark.scan.python_out_mb": _mean(f["scan_python_out_mb"] for f in scans),
        "writers.input_scan_stages": sum(f["input_scan_stages"] for f in exports if f["id"].startswith(first_cycle)),
        "writers.sample_job_s": _mean(f["sample_job_s"] for f in single),
        "writers.shuffle_write_mb": _mean(f["shuffle_write_mb"] for f in single),
        "writers.pack_stage_run_s": _mean(f["pack_stage_run_s"] for f in single),
        "writers.drain_s": _mean(f["drain_s"] for f in single),
        "writers.out_bytes": _mean(f["out_bytes"] for f in exports),
        "writers.sink_task_run_s": _mean(f["task_run_s"] for f in sinks),
        "trace.cells_per_s": e2e["cells_per_s"],
        "trace.cells_per_cpu_s": e2e["cells_per_cpu_s"],
    }
    return m, per_op


def versions(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    for d in ("tmp", "spark-local", "records"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    for d in ("xdg", "out", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    # sidecars and the shipped package zip live in a per-run cache, so
    # nothing carries over between runs or commits
    os.environ["XDG_CACHE_HOME"] = os.path.join(run_dir, "xdg")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["NUMPY_MADVISE_HUGEPAGE"] = "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    import polars_readstat_spark as prs
    from perfbench import fixtures, workloads
    from perfbench.layers import read_event_log, self_times
    from perfbench.measure import PeakRss, highest_supported, steal_ticks

    conf = spark_conf(nproc, run_dir, bool(args.trace))
    try:
        # 1. prepare, untimed: start the JVM and generate this run's
        #    fixtures with a session of their own
        t0 = time.perf_counter()
        os.environ["XDG_CACHE_HOME"] = os.path.join(run_dir, "xdg", "prepare")
        spark = new_session(conf)
        prs.register(spark)
        manifest = fixtures.generate(spark, os.path.join(run_dir, "fixtures"), args.workload, args.seed)
        prepare_s = time.perf_counter() - t0
        input_bytes = {}
        for name, p in manifest["provenance"].items():
            input_bytes[os.path.join(manifest["root"], name)] = p["bytes"]
        ops, before = workloads.build(args.workload, manifest)
        spin = os.path.join(manifest["root"], "spin.dta")

        # 2. set-up, several times on the running JVM; the last session
        #    stays up
        setup_reps = []
        for rep in range(SETUP_REPS):
            spark.stop()
            # an empty cache per repetition, so each one ships the package
            os.environ["XDG_CACHE_HOME"] = os.path.join(run_dir, "xdg", f"setup{rep}")
            t0 = time.perf_counter()
            spark = new_session(conf)
            prs.register(spark)
            spark.read.format("readstat").load(spin).schema  # starts the planning worker
            setup_reps.append(time.perf_counter() - t0)
        out_dir = os.path.join(run_dir, "out")
        t0 = time.perf_counter()
        warm = run_ops(spark, ops, before, out_dir, "warm")
        warm_s = time.perf_counter() - t0
        warm_failed = check_all(spark, warm)
        setup_s = statistics.median(setup_reps) + warm_s

        # 3. timed phase: cycles of the ops until --seconds have passed;
        #    the first cycle always runs whole
        spans = [] if args.trace else None
        recs = []
        cycle = 0
        steal0 = steal_ticks()
        with PeakRss() as mem:
            t0 = time.perf_counter()
            while cycle == 0 or time.perf_counter() - t0 < args.seconds:
                deadline = None if cycle == 0 else t0 + args.seconds
                recs += run_ops(spark, ops, before, out_dir, f"c{cycle:03d}", spans, deadline)
                cycle += 1
            timed_s = time.perf_counter() - t0
        steal1 = steal_ticks()

        # 4. checks, untimed
        t0 = time.perf_counter()
        failed = check_all(spark, recs)
        check_s = time.perf_counter() - t0
        metrics = e2e_metrics(recs, setup_s, mem.peak, input_bytes)
        metrics["steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "nproc": nproc,
            "versions": versions(spark),
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "fixtures": manifest["provenance"],
            "prepare_s": prepare_s,
            "setup_reps_s": setup_reps,
            "warm_s": warm_s,
            "warm_ops_s": {r["kind"]: r["wall_s"] for r in warm},
            "warm_failed": warm_failed,
            "timed_s": timed_s,
            "check_s": check_s,
            "cycles": cycle,
            "rss_samples": mem.samples,
            "attempted": len(recs),
            "failed": failed,
            "failed_frac": failed / len(recs),
            "highest_supported_percentile": highest_supported(len(recs)),
            "e2e": metrics,
            "ops": [{k: r[k] for k in ("id", "kind", "wall_s", "cpu_s", "error")}
                    | {"cells": r["res"].cells if r["res"] else 0,
                       "out_bytes": r["res"].out_bytes if r["res"] else 0,
                       "load_s": r["res"].load_s if r["res"] else 0.0}
                    for r in recs],
            "errors": [f"{r['id']} {r['kind']}: {r['error']}" for r in warm + recs if r["error"]],
        }
        if args.trace:
            app_id = spark.sparkContext.applicationId
            spark.stop()  # flushes and closes the event log
            from polars_readstat_spark import profile_read

            profiles = [profile_read(p) for p in sorted({p for op in ops for p in op.inputs})]
            log = read_event_log(os.path.join(run_dir, "eventlog", app_id))
            layers, per_op = layer_metrics(recs, log, spans, profiles, metrics, "c000")
            selfs = self_times(spans)
            record["layers"] = layers
            record["per_op"] = per_op
            record["profiles"] = [{k: v for k, v in p.items() if k != "columns"} for p in profiles]
            record["accounting_tolerance_s"] = max(f["job_outside_s"] for f in per_op)
            with open(os.path.join(WORK, "records", run_id + ".spans.jsonl"), "w") as fh:
                for s in spans:
                    fh.write(json.dumps({**s.__dict__, "self_s": selfs[s.id]}) + "\n")
            out_metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
        with open(os.path.join(WORK, "records", run_id + ".json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
            stop_jvm()
        finally:
            reap_children()
            shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0 and warm_failed == 0
    summary = [f"# {args.workload} seed={args.seed} trace={args.trace} nproc={nproc} "
               f"ops={len(recs)} cycles={cycle} failed_frac={failed / len(recs):.4f} (1)"]
    summary += [f"#   {k:28s} {v['value']:.6g} {v['unit']}" for k, v in out_metrics.items()]
    summary += [f"#   {k:28s} {metrics[k]:.6g} {u}  (wall clock, not gated)" for k, u in WALL_UNITS.items()]
    summary += [f"#   error: {e}" for e in record["errors"][:10]]
    print("\n".join(summary), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(recs), "failed": failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
