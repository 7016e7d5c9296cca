#!/usr/bin/env python3
"""The s2spark benchmark: one seeded workload, timed, checked, reported.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 8 \\
        --trace 0

Run from the repository root.  The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer metrics (read
from Spark's own event log, see perfbench/README.md).  Everything the
run writes goes under perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5   # timed set-ups per run, after the untimed JVM launch
MIN_PASSES = 2   # measured passes per run, at least
DRIVER_MEM = "2g"

# Per-layer metrics, per operation layer, exactly as reported.
LAYER_METRICS = {
    "ops.tiles.tile": ("jobs", "driver_s", "busy_s", "task_skew",
                       "shuffle_bytes", "hash_probes_per_key"),
    "ops.joins.equi_join": ("jobs", "driver_s", "busy_s", "task_skew",
                            "broadcast_bytes", "shuffle_bytes",
                            "hash_probes_per_key"),
    "ops.joins.containment": ("jobs", "driver_s", "busy_s", "task_skew",
                              "candidate_rows", "useful_ratio"),
    "ops.joins.disc_join": ("jobs", "driver_s", "busy_s", "task_skew",
                            "python_s", "broadcast_bytes", "candidate_rows",
                            "useful_ratio"),
    "ops.joins.salted_join": ("jobs", "driver_s", "busy_s", "task_skew",
                              "shuffle_bytes", "spill_bytes"),
    "ops.knn.knn": ("jobs", "driver_s", "busy_s", "task_skew", "python_s",
                    "shuffle_bytes", "candidate_rows", "useful_ratio"),
    "ops.pip.pip": ("jobs", "driver_s", "busy_s", "task_skew", "python_s",
                    "candidate_rows", "useful_ratio"),
    "lineage.ingest": ("jobs", "driver_s", "busy_s", "task_skew",
                       "python_s", "python_bytes", "rows_read_per_row",
                       "bytes_written", "spill_bytes", "storage_ratio"),
    "lineage.resume": ("jobs", "driver_s", "busy_s", "rows_read_per_row",
                       "buckets_run", "buckets_skipped"),
    "ops.raster.raster": ("jobs", "driver_s", "busy_s", "task_skew",
                          "python_s", "python_bytes"),
}
KERNEL_METRICS = (
    ("sources.geo.cell_np.rows_per_s", "rows/s"),
    ("sources.geo.xyz_np.rows_per_s", "rows/s"),
    ("kernels.cellid.from_xyz.rows_per_s", "rows/s"),
    ("kernels.cellid.disk_cells_batch.cells_per_s", "cells/s"),
    ("ops.cells.point_cell_chord2.pairs_per_s", "pairs/s"),
    ("ops.raster.tangent_offset_cells.rows_per_s", "rows/s"),
    ("ops.pip.build_edge_index.s", "s"),
)
UNITS = {"jobs": "count", "driver_s": "s", "busy_s": "s",
         "task_skew": "ratio", "shuffle_bytes": "bytes",
         "hash_probes_per_key": "probes", "broadcast_bytes": "bytes",
         "candidate_rows": "rows", "useful_ratio": "ratio",
         "python_s": "s", "spill_bytes": "bytes", "python_bytes": "bytes",
         "rows_read_per_row": "ratio", "bytes_written": "bytes",
         "buckets_run": "count", "buckets_skipped": "count",
         "storage_ratio": "bytes/byte",
         "wall_s": "s"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), in report order."""
    out = [("session.start_s", "s"), ("session.gc_s", "s")]
    out += list(KERNEL_METRICS)
    for layer, names in LAYER_METRICS.items():
        out += [(f"{layer}.{m}", UNITS[m]) for m in names]
        out.append((f"{layer}.wall_s", "s"))
    out.append(("trace.overhead_frac", "ratio"))
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure_env(out: str) -> None:
    """Keep every file the run writes (JVM temp, shuffle, Python worker
    temp) inside the output directory; run on every core."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> files from either JVM
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm}".strip()


def start_session(out: str, event_dir: str | None = None):
    from s2spark.session import get_spark
    conf = {"spark.local.dir": os.path.join(out, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("s2spark-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, the JVM gateway and every child process."""
    from pyspark import SparkContext

    from perfbench import stats
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while stats.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in stats.descendants(os.getpid()):
        os.kill(pid, 9)
    for pid in stats.descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def gc_ms(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


class Measurement:
    """Timed executions of a workload's operations plus their checks.

    With `warmup`, a run starts with one cold pass that pays JIT, code
    generation and Python-worker start-up; then it measures whole passes
    while they fit in the time window.  Every execution is checked; only
    the measured passes enter the metrics, each operation's figure being
    the median over them."""

    def __init__(self, warmup: bool = False):
        self.warmup = int(warmup)  # passes before the measured ones
        self.walls: dict[str, list[float]] = {}
        self.execs: list[dict] = []   # timed executions, for the trace
        self.cycles: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.gc_s = 0.0               # JVM GC time per measured pass

    def run_op(self, spark, op, gid: str) -> tuple[float, dict, bool]:
        """Time one execution and check its output."""
        if op.prepare is not None:
            op.prepare()
        sc = spark.sparkContext
        sc.setJobGroup(gid, op.name)
        t0 = time.time()
        p0 = time.perf_counter()
        result, ok = None, False
        try:
            result = op.run()
            ok = True
        except Exception:  # noqa: BLE001 - a failed op is counted
            log(f"{op.name}: failed\n{traceback.format_exc()}")
        dt = time.perf_counter() - p0
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        if ok:
            try:
                ok = bool(op.check(result))
            except Exception:  # noqa: BLE001 - a crashing check fails
                log(f"{op.name}: check raised\n{traceback.format_exc()}")
                ok = False
            if not ok:
                log(f"{op.name}: wrong output")
        span = {"group": gid, "name": op.name, "pass": len(self.cycles),
                "start_ms": t0 * 1000.0, "end_ms": t1 * 1000.0,
                "result": _result_counts(result)}
        return dt, span, ok

    def run_pass(self, spark, ops, tag: str):
        """One pass over the ops, one after another."""
        i = len(self.cycles)
        done = [self.run_op(spark, op, f"{tag}.{op.name}#{i}")
                for op in ops]
        for op, (dt, span, ok) in zip(ops, done):
            self.walls.setdefault(op.name, []).append(dt)
            self.execs.append(span)
            self.attempted += 1
            self.failed += 0 if ok else 1
        self.cycles.append(sum(dt for dt, _, _ in done))

    def run(self, spark, ops, seconds: float, tag: str,
            min_passes: int = 1) -> None:
        if self.warmup:
            self.run_pass(spark, ops, tag)
        gc0 = gc_ms(spark)
        t0 = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            self.run_pass(spark, ops, tag)
            now = time.perf_counter()
            measured = len(self.cycles) - self.warmup
            if measured >= min_passes and now - t0 + (now - p0) > seconds:
                break
        self.gc_s = (gc_ms(spark) - gc0) / 1000.0 / measured
        log(f"{tag}: passes {[round(c, 2) for c in self.cycles]} s "
            f"({self.warmup} cold)")

    def measured(self, name: str) -> list[float]:
        return self.walls[name][self.warmup:]

    def op_walls(self, ops) -> list[float]:
        """Each op's median wall over the measured passes."""
        from perfbench import stats
        return [stats.median(self.measured(op.name)) for op in ops]


def _result_counts(result) -> dict:
    import pyarrow as pa
    if isinstance(result, pa.Table):
        return {"rows": result.num_rows}
    if isinstance(result, tuple) and all(isinstance(r, pa.Table)
                                         for r in result):
        return {"rows": sum(r.num_rows for r in result)}
    if isinstance(result, dict):  # lineage summary
        return {"buckets_run": len(result["ran"]),
                "buckets_skipped": len(result["skipped"])}
    return {}


def end_to_end(wl, ops, m: Measurement, setup_times) -> dict:
    from perfbench import stats
    walls = m.op_walls(ops)
    rss = stats.peak_rss_by_process(os.getpid())
    log(f"peak RSS MiB by process: { {k: round(v) for k, v in rss.items()} }")
    return {
        "setup_s": {"value": stats.median(setup_times), "unit": "s"},
        "rows_per_s": {"value": wl.input_rows() * len(ops) / sum(walls),
                       "unit": "rows/s"},
        "op_geomean_s": {"value": stats.geomean(walls), "unit": "s"},
        "peak_rss_mb": {"value": sum(rss.values()), "unit": "MiB"},
    }


def layer_metrics(wl, ops, m: Measurement, app_log: str, run_id: str,
                  out: str) -> dict:
    """Per-op layer metrics, each the median over the measured passes,
    from the event log of the session that ran them; writes the span
    file (every execution, the cold pass included)."""
    from perfbench import eventlog, stats
    log_ = eventlog.parse(eventlog.read_events(app_log))
    with open(os.path.join(out, "spans.json"), "w") as f:
        json.dump(eventlog.spans(log_, run_id, m.execs), f)
    values: dict[str, float] = {}
    for op, wall in zip(ops, m.op_walls(ops)):
        per_pass = [_exec_metrics(wl, log_, span) for span in m.execs
                    if span["name"] == op.name and span["pass"] >= m.warmup]
        for name in LAYER_METRICS[op.layer]:
            values[f"{op.layer}.{name}"] = stats.median(
                [g[name] for g in per_pass])
        values[f"{op.layer}.wall_s"] = wall
    return values


def _exec_metrics(wl, log_, span: dict) -> dict:
    from perfbench import eventlog
    g = eventlog.group_metrics(log_, span["group"], span["start_ms"],
                               span["end_ms"])
    res = span["result"]
    g["useful_ratio"] = res.get("rows", 0) / g["candidate_rows"] \
        if g["candidate_rows"] else 0.0
    g["rows_read_per_row"] = g["records_read"] / wl.input_rows()
    g["storage_ratio"] = g["bytes_written"] / wl.input_bytes
    g["buckets_run"] = float(res.get("buckets_run", 0))
    g["buckets_skipped"] = float(res.get("buckets_skipped", 0))
    return g


def trace_overhead(out: str, wl, m: Measurement) -> float:
    """Event-log cost as a share of a pass: one pass each in fresh
    sessions untraced, traced, untraced (the JVM is warm by now, so the
    bracketing cancels the remaining warm-up slope)."""
    walls = []
    for traced in (False, True, False):
        spark = start_session(out, os.path.join(out, "eventlog-overhead")
                              if traced else None)
        extra = Measurement()
        extra.run(spark, wl.open(spark), 0.0, "overhead")
        spark.stop()
        walls.append(extra.cycles[0])
        m.attempted += extra.attempted
        m.failed += extra.failed
    return walls[1] / ((walls[0] + walls[2]) / 2.0) - 1.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import s2spark  # noqa: F401 - the program under test must exist
    except ImportError as exc:
        log(f"cannot import the s2spark package from {ROOT}: {exc}")
        return 2
    from perfbench import micro, stats
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = os.path.join(HERE, "out", run_id)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    configure_env(out)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(out, "data"))

    # a traced run logs every session; the measured one is the last
    event_dir = os.path.join(out, "eventlog") if args.trace else None
    spark = None
    try:
        # the one-off JVM launch is not timed: it swings by seconds
        # from run to run and would dominate the set-up figure
        t0 = time.perf_counter()
        spark = start_session(out, event_dir)
        launch_s = time.perf_counter() - t0
        setup_times, start_times = [], []
        for _ in range(SETUP_REPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = start_session(out, event_dir)
            t1 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
            start_times.append(t1 - t0)
        log(f"JVM launch {launch_s:.3f} s, "
            f"setup {[round(t, 3) for t in setup_times]}")
        ops = wl.open(spark)
        m = Measurement(warmup=True)
        m.run(spark, ops, args.seconds, "run", min_passes=MIN_PASSES)
        if not args.trace:
            metrics = end_to_end(wl, ops, m, setup_times)
            for op, wall in zip(ops, m.op_walls(ops)):
                print(f"{op.name}_s {wall:.4f} s (median of "
                      f"{len(m.measured(op.name))} passes; first pass "
                      f"{m.walls[op.name][0]:.4f} s)")
        else:
            spark.stop()  # flushes the measured session's event log
            app_log = os.path.join(event_dir, max(os.listdir(event_dir)))
            values = {name: 0.0 for name, _ in per_layer_names()}
            values.update(layer_metrics(wl, ops, m, app_log, run_id, out))
            values.update(micro.kernel_metrics(args.seed,
                                               **wl.micro_inputs()))
            values["session.start_s"] = stats.median(start_times)
            values["session.gc_s"] = m.gc_s
            values["trace.overhead_frac"] = trace_overhead(out, wl, m)
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit in per_layer_names()}
    finally:
        shutdown(spark)
        shutil.rmtree(os.path.join(out, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)

    result = {"correct": m.failed == 0, "attempted": m.attempted,
              "failed": m.failed, "metrics": metrics}
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump({**result, "walls": m.walls, "cycles": m.cycles,
                   "launch_s": launch_s, "setup_s": setup_times}, f,
                  indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
