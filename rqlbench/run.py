"""Benchmark entry point: one workload, one seed, one run.

    python3 rqlbench/run.py --workload feature_chains --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.rqlbench_work/`` (untimed), the program is set up several times on a
fresh ``local[4]`` session (the median is ``setup_s``), then ops run in a
closed loop with one client for ``--seconds``, and the outputs are checked.
The next-to-last stdout line is a JSON report (input sizes, planted
counts, every op latency, checks, host calibration); the last line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced ops and reports the per-layer metrics, derived from
spans around every layer call (written to ``.rqlbench_work/<workload>/
trace.json``), plus the tracing overhead (traced minus untraced median op
latency). Exits non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing as tr  # noqa: E402
from workloads import WORKLOADS, dir_bytes_rows  # noqa: E402

CORES = 4
MB = 1024 * 1024

E2E = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s", "session.resolve_s": "s",
    "build.s": "s", "build.jobs": "count", "build.tasks": "count",
    "render.sql_s": "s", "render.dbt_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "fetch.s": "s",
    "sink.write_s": "s", "sink.bytes_per_row": "B/row",
    "dedup.build_s": "s", "dedup.probe_s": "s", "dedup.update_s": "s",
    "dedup.save_s": "s", "dedup.load_s": "s", "dedup.flag_ratio": "ratio",
    "ann.build_s": "s", "ann.probe_s": "s", "ann.update_s": "s",
    "ann.save_s": "s", "ann.load_s": "s", "ann.flag_ratio": "ratio",
    "cache.storage_mb": "MB", "cache.persisted_rdds": "count",
    "trace.overhead_s": "s",
}
# layers whose Spark jobs are construction or resolution, not execution
_NOT_EXEC = ("build", "session.start", "session.resolve")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (tests run tiny inputs)")
    return p.parse_args(argv)


def tail_percentile(lat: list[float]) -> tuple[float, float] | None:
    """The highest percentile (in whole percent) that still has at least
    ten ops above it, with its value; None below 20 ops."""
    n = len(lat)
    if n < 20:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, sorted(lat)[max(0, math.ceil(pct / 100 * n) - 1)]


def _storage(sc) -> tuple[float, int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    used = sum(i.memSize() + i.diskSize() for i in infos)
    return used / MB, sc._jsc.getPersistentRDDs().size()


def _start_session(tracer):
    import rasgoql_spark as rql

    with tracer.span("session.start", "setup"):
        spark = rql.default_spark(app_name="rqlbench", master=f"local[{CORES}]",
                                  shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    return spark


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit (it
    exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    a = _args(argv)
    work = os.path.join(ROOT, ".rqlbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    # keep every file Spark and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    sys.path.insert(0, ROOT)
    import rasgoql_spark  # noqa: F401  (fail before generating inputs)
    from bench import calibrate

    tracer = tr.Tracer(enabled=bool(a.trace))
    pool = max(8, 3 * math.ceil(a.seconds) + 2)
    wl = WORKLOADS[a.workload](work, a.seed, a.scale, tracer, pool)
    inputs = wl.generate()
    calib_dir = os.path.join(work, "calib")
    gen.tpch(calib_dir, 0, 0.03)

    # set-up: several full set-ups on fresh sessions; the first pays the
    # JVM launch, the last session serves the timed loop
    setup_times, spark = [], None
    for _ in range(wl.setup_reps):
        if spark is not None:
            tracer.attach(None)
            spark.stop()
        t0 = time.perf_counter()
        spark = _start_session(tracer)
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up()
    warmup_s = time.perf_counter() - t0
    sc = spark.sparkContext
    calib_start = calibrate(spark, calib_dir)

    # one record per op: (latency_s, or None if it raised; traced;
    # storage MB and persisted RDDs once its results are dropped)
    records, failed_ops, rows = [], [], 0
    cycle, k = wl.cycle, 0
    t_loop = time.perf_counter()
    deadline = t_loop + a.seconds
    # at least min_cycles whole cycles, then whole cycles until the deadline
    while k < wl.min_cycles * cycle or time.perf_counter() < deadline or k % cycle:
        # traced mode alternates traced and untraced cycles of ops
        tracer.enabled = bool(a.trace) and (k // cycle) % 2 == 0
        t0, latency = time.perf_counter(), None
        try:
            rows += wl.run_op(k)
            latency = time.perf_counter() - t0
        except IndexError:
            break  # input pool exhausted
        except Exception:
            traceback.print_exc()
            failed_ops.append(k)
        gc.collect()  # drop the op's results so scoped caches release
        records.append((latency, tracer.enabled, *_storage(sc)))
        k += 1
    loop_s = time.perf_counter() - t_loop
    latencies = [r[0] for r in records if r[0] is not None]
    tracer.enabled = False
    calib_end = calibrate(spark, calib_dir)

    checks, bad = wl.check()
    failed = sorted(set(failed_ops) | bad)
    attempted = k
    correct = not failed

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale": a.scale, "cores": CORES,
        "inputs": inputs, "setup_reps_s": setup_times, "warmup_s": warmup_s,
        "ops": len(latencies), "op_latencies_s": latencies,
        "loop_s": loop_s, "rows": rows,
        "failed_op_ratio": len(failed) / attempted,
        "peak_storage_mb": max(r[2] for r in records),
        "calib_sec": calib_start, "calib_sec_end": calib_end,
        "checks": checks,
    }
    tail = tail_percentile(latencies)
    if tail:
        report["op_tail_pct"], report["op_tail_s"] = tail
    if a.trace:
        metrics, extra = per_layer(tracer.spans, records, wl)
        report.update(extra)
        tracer.dump(os.path.join(work, "trace.json"))
    else:
        metrics = {
            "setup_s": statistics.median(setup_times),
            "op_p50_s": statistics.median(latencies) if latencies else float("nan"),
            "rows_per_s": rows / loop_s,
        }
    _shutdown(spark)
    units = E2E if not a.trace else PER_LAYER
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failed),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if correct else 1


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(spans, records, wl):
    """Per-layer metrics: medians over traced ops of each op's layer
    totals (set-up layers: medians over set-up repetitions)."""
    ops = {op: tr.op_summary(ss) for op, ss in tr.by_op(spans).items()
           if op.startswith("op-")}
    setup_spans = [s for s in spans if s["op"] == "setup"]

    def setup_median(name):
        return _median(s["end"] - s["start"] for s in setup_spans if s["name"] == name)

    # a layer's time is a median over the ops that call it (feature_chains
    # ops either fetch or sink)
    def incl(name):
        return _median(o["s"][name] for o in ops.values() if name in o["s"])

    def selft(name):
        return _median(o["self_s"][name] for o in ops.values() if name in o["self_s"])

    def jobs(layers, key):
        return _median(sum(c[key] for lay, c in o["jobs"].items() if lay in layers)
                       for o in ops.values())

    exec_layers = {lay for o in ops.values() for lay in o["jobs"] if lay not in _NOT_EXEC}
    sink_bytes = sink_rows = 0
    for path in wl.sink_files:
        b, r = dir_bytes_rows(path)
        sink_bytes, sink_rows = sink_bytes + b, sink_rows + r
    ratios = wl.flag_counts()
    t_lat = [r[0] for r in records if r[1] and r[0] is not None]
    u_lat = [r[0] for r in records if not r[1] and r[0] is not None]
    overhead = (statistics.median(t_lat) - statistics.median(u_lat)
                if t_lat and u_lat else 0.0)
    traced_storage = [r[2:] for r in records if r[1]] or [r[2:] for r in records]
    m = {
        "session.start_s": setup_median("session.start"),
        "session.resolve_s": incl("session.resolve"),
        "build.s": incl("build"),
        "build.jobs": jobs({"build"}, "jobs"),
        "build.tasks": jobs({"build"}, "tasks"),
        "render.sql_s": incl("render.sql"),
        "render.dbt_s": incl("render.dbt"),
        "exec.s": jobs(exec_layers, "job_s"),
        "exec.jobs": jobs(exec_layers, "jobs"),
        "exec.stages": jobs(exec_layers, "stages"),
        "exec.tasks": jobs(exec_layers, "tasks"),
        "exec.executor_s": jobs(exec_layers, "executor_ms") / 1000,
        "exec.shuffle_read_mb": jobs(exec_layers, "shuffle_read_bytes") / MB,
        "exec.shuffle_write_mb": jobs(exec_layers, "shuffle_write_bytes") / MB,
        "exec.spill_mb": jobs(exec_layers, "spill_bytes") / MB,
        "fetch.s": selft("fetch"),
        "sink.write_s": selft("sink"),
        "sink.bytes_per_row": sink_bytes / sink_rows if sink_rows else 0.0,
        "dedup.build_s": setup_median("dedup.build"),
        "dedup.probe_s": incl("dedup.probe"),
        "dedup.update_s": incl("dedup.update"),
        "dedup.save_s": incl("dedup.save"),
        "dedup.load_s": incl("dedup.load"),
        "dedup.flag_ratio": ratios[0] / ratios[1] if ratios[1] else 0.0,
        "ann.build_s": setup_median("ann.build"),
        "ann.probe_s": incl("ann.probe"),
        "ann.update_s": incl("ann.update"),
        "ann.save_s": incl("ann.save"),
        "ann.load_s": incl("ann.load"),
        "ann.flag_ratio": ratios[2] / ratios[3] if ratios[3] else 0.0,
        "cache.storage_mb": max(s[0] for s in traced_storage),
        "cache.persisted_rdds": max(s[1] for s in traced_storage),
        "trace.overhead_s": overhead,
    }
    extra = {
        "traced_ops": len(t_lat), "untraced_ops": len(u_lat),
        "traced_op_p50_s": _median(t_lat), "untraced_op_p50_s": _median(u_lat),
        "layers_per_op": ops,
    }
    return m, extra


if __name__ == "__main__":
    sys.exit(main())
