#!/usr/bin/env python3
"""Benchmark for the mobilitydb_spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 15 --trace 0

Run from the repository root (or anywhere: paths are resolved from this
file).  One driver process runs a Spark session on ``local[<nproc>]`` as
a closed loop: one client, one operation at a time.  A run

1. takes the single-instance lock (another running instance makes this
   one exit with code 3),
2. generates or reuses its seeded inputs (``inputs.py``; untimed),
3. starts the session, registers the inputs and runs one cold
   iteration -- the CPU time the process tree spent from process start
   to here, less input generation and the bandwidth canary, is
   ``setup_s``,
4. repeats warm iterations for ``--seconds`` (and at least
   ``MIN_ITERS`` of them); the workload's first ``warmup_iters`` are
   left out of the medians,
5. checks every operation's (row count, hash) repeated and compares the
   outputs with independent oracles (``oracles.py``),
6. prints a metadata line and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced iterations and reports the per-layer metrics
(``trace.py``), writing the span file under ``.perfbench/traces``.
Any failed operation or oracle mismatch makes the exit code 1.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

MIN_ITERS = 4  # iterations behind each median
MIN_TRACED = 2  # traced (and as many untraced) iterations in a traced run
RSS_INTERVAL_S = 0.2
CANARY_BYTES = 1 << 28
DRIVER_MEMORY = "3g"
# The driver JVM compiles with C1 only, and early.  Under the default
# tiered policy the C2 compiler was still busy a minute into a run, and
# how far it had got depended on how much CPU other tenants left, so
# each run measured another point of the JIT's warm-up.  C1 with a
# twentieth of the default thresholds levels off within two or three
# warm iterations; it needs the tiered policy's code cache size.
JVM_OPTIONS = ("-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 "
               "-XX:ReservedCodeCacheSize=240m -XX:-UsePerfData")
CLK_TCK = os.sysconf("SC_CLK_TCK")

# inputs per workload and size; "tiny" is the self-test's size
SIZES = {
    "full": {"flagship": {"pages": 10_000},
             "trajectory_ops": {"users": 200, "docs": 1_000}},
    "tiny": {"flagship": {"pages": 5_000},  # 2 files: per-task spreads
             "trajectory_ops": {"users": 30, "docs": 200}},
}

END_TO_END = {"setup_s": "s", "rows_per_cpu_s": "rows/cpu_s"}


def _process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree, sampled at a fixed
    interval (the JVM and the Python workers are children)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._stop_event = threading.Event()

    def run(self) -> None:
        from perfbench.trace import sample_rss_mb
        while not self._stop_event.is_set():
            self.peak_mb = max(self.peak_mb, sample_rss_mb(os.getpid()))
            self._stop_event.wait(RSS_INTERVAL_S)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_mb


class Runner:
    """Runs iterations of one workload, timing (and, when tracing,
    probing) each operation, and counts what was attempted and failed."""

    def __init__(self, workload, tracer, probe):
        self.workload = workload
        self.tracer = tracer
        self.probe = probe
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.outputs: dict[str, tuple[int, int]] = {}
        self.iterations: list[dict] = []
        self.checks: dict[str, int] = {}
        self._ops: dict[str, dict] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def op(self, name: str, build, action=None):
        from perfbench.workloads import force
        action = action or force
        self.attempted += 1
        if self.tracing:
            self.probe.mark()
        with self.tracer.span(name, kind="operation"):
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"{name} build", kind="build") as b_id:
                    built = build()
                t1 = time.perf_counter()
                with self.tracer.span(f"{name} action", kind="action") as a_id:
                    out = action(built)
            except Exception:
                traceback.print_exc()
                self.fail(f"{name}: raised")
                return None
            t2 = time.perf_counter()
        rec = {"s": t2 - t0, "build_s": t1 - t0, "rows": out[0]}
        if self.tracing:
            counters, executions = self.probe.collect()
            rec.update(counters)
            build_end = self.tracer.spans[b_id]["end"]
            for ex in executions:
                parent = b_id if ex["start"] < build_end else a_id
                self.tracer.add(f"sql {ex['description']}", ex["start"],
                                ex["end"], parent, kind="sql",
                                execution_id=ex["execution_id"])
        first = self.outputs.setdefault(name, out)
        if out != first:
            self.fail(f"{name}: output {out} differs from first run {first}")
        self._ops[name] = rec
        return out

    def iteration(self, k: int, traced: bool) -> None:
        import bench
        self.tracing = traced
        self.tracer.enabled = traced
        self.tracer.iteration = k
        self._ops = {}
        s0 = bench._proc_sample()
        t0 = time.perf_counter()
        with self.tracer.span("iteration", kind="iteration"):
            try:
                self.workload.iteration(self.op)
            except Exception:
                traceback.print_exc()
                self.attempted += 1
                self.fail(f"iteration {k}: raised")
        wall = time.perf_counter() - t0
        s1 = bench._proc_sample()
        self.iterations.append({
            "k": k, "s": wall, "cpu_s": tree_cpu_s(s1) - tree_cpu_s(s0),
            "traced": traced, "ops": self._ops,
            "ext_cores": round(bench._ext_cores(s0, s1, wall), 3)})

    def report(self, name: str, mismatches: int) -> None:
        self.attempted += 1
        self.checks[name] = mismatches
        if mismatches:
            self.fail(f"check {name}: {mismatches} mismatching rows")


def tree_cpu_s(sample) -> float:
    """CPU seconds used so far by this process tree (driver Python, the
    JVM, Python workers, and the children they reaped), from a
    ``bench._proc_sample``.  Hypervisor steal is not in it."""
    return sum(own + reaped for own, reaped in sample[1].values()) / CLK_TCK


def _isolate(run_dir: str) -> dict[str, str]:
    """Keep every file the run writes inside the checkout, and put the
    checkout on the Python workers' import path."""
    dirs = {d: os.path.join(run_dir, d)
            for d in ("tmp", "spark-local", "warehouse", "work", "cache",
                      "traces", "runs")}
    for name, d in dirs.items():
        if name in ("tmp", "spark-local", "work"):  # left by a killed run
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return dirs


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        proc.wait(timeout=60)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def enough(kept: list[dict], trace: bool) -> bool:
    plain = sum(not it["traced"] for it in kept)
    return plain >= MIN_ITERS and (
        not trace or len(kept) - plain >= MIN_TRACED)


def per_layer_metrics(runner: Runner, workload, kept: list[dict],
                      overhead: float, get_spark_s: float,
                      peak_rss_mb: float) -> dict[str, float]:
    """Medians over the kept traced iterations.  Metrics of operations
    (or layers) the workload does not run read 0."""
    from perfbench.workloads import ALL_OPS
    traced = [it for it in kept if it["traced"]]
    out: dict[str, float] = {"session.get_spark.s": get_spark_s}
    for op in ALL_OPS:
        recs = [it["ops"][op] for it in traced if op in it["ops"]]
        for key in ("s", "build_s", "jobs", "tasks"):
            out[f"{op}.{key}"] = _median([r.get(key, 0.0) for r in recs])

    def layer(key: str, how=sum) -> float:
        return _median([how([r.get(key, 0.0) for r in it["ops"].values()]
                            or [0.0]) for it in traced])

    for key in ("codegen.s", "broadcast.bytes", "broadcast.build_s",
                "python.boot_s", "python.init_s", "python.total_s",
                "python.bytes_sent", "python.bytes_received",
                "exchange.bytes", "exchange.records", "exchange.write_s",
                "exchange.fetch_wait_s", "scan.bytes", "write.bytes",
                "spill_bytes"):
        out[f"spark.{key}"] = layer(key)
    out["spark.agg.peak_memory_bytes"] = layer("agg.peak_memory_bytes", max)
    out["spark.task_skew"] = layer("task_skew", max)

    def op_median(op: str, key: str) -> float:
        return _median([it["ops"][op].get(key, 0.0) for it in traced
                        if op in it["ops"]])

    candidates = op_median("pipeline.flagship", "join.max_rows")
    out["pip.match_per_candidate"] = (
        op_median("pipeline.flagship", "rows") / candidates
        if candidates else 0.0)
    in_bytes = getattr(workload, "input_bytes", 0)
    out["write.bytes_per_input_byte"] = (
        op_median("tiles.write_pyramid", "write.bytes") / in_bytes
        if in_bytes else 0.0)
    out["peak_rss_mb"] = peak_rss_mb
    out["trace_overhead_frac"] = overhead
    out["failed_frac"] = runner.failed / max(runner.attempted, 1)
    return out


PER_LAYER_UNITS = {
    "rows_per_s": "rows/s", ".s": "s", ".build_s": "s", ".jobs": "count",
    ".tasks": "count", "_s": "s", "_mb": "MB", ".bytes": "B", "_bytes": "B",
    ".bytes_sent": "B", ".bytes_received": "B", ".records": "count",
}


def layer_unit(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio"


def main(argv: list[str] | None = None) -> int:
    proc_start = _process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=list(SIZES), default="full")
    args = ap.parse_args(argv)

    for need in ("mobilitydb_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found in {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    os.makedirs(RUN_DIR, exist_ok=True)
    with open(os.path.join(RUN_DIR, "lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            print("perfbench: another benchmark instance is running in "
                  "this checkout; refusing to start", file=sys.stderr)
            return 3
        return _run(args, proc_start)


def _run(args, proc_start: float) -> int:
    dirs = _isolate(RUN_DIR)
    from perfbench import inputs

    import bench
    cpu_before_inputs = tree_cpu_s(bench._proc_sample())
    spec = SIZES[args.size][args.workload]
    t_in = time.time()
    if args.workload == "trajectory_ops":
        data = inputs.sf_dir(dirs["cache"], args.seed, spec["users"],
                             spec["docs"])
        n_source = spec["users"] * inputs.EVENTS_PER_USER
    else:
        data = inputs.pages(dirs["cache"], args.seed, spec["pages"])
        n_source = spec["pages"]
    inputs_s = time.time() - t_in

    t_c = time.time()
    canary = [bench._bandwidth_canary_gbps(CANARY_BYTES)]
    canary_s = time.time() - t_c
    cpu_untimed = tree_cpu_s(bench._proc_sample()) - cpu_before_inputs

    rss = RssSampler()
    rss.start()
    spark = None
    workload = None
    try:
        from mobilitydb_spark import session
        from perfbench.trace import SparkProbe, Tracer
        from perfbench.workloads import WORKLOADS

        tracer = Tracer(enabled=bool(args.trace))
        nproc = len(os.sched_getaffinity(0))
        t0 = time.time()
        with tracer.span("session.get_spark", kind="setup"):
            spark = session.get_spark(
                "mobilitydb-spark-perfbench", master=f"local[{nproc}]",
                extra_conf={
                    "spark.driver.memory": DRIVER_MEMORY,
                    "spark.local.dir": dirs["spark-local"],
                    "spark.sql.warehouse.dir": dirs["warehouse"],
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={dirs['tmp']} {JVM_OPTIONS}",
                    "spark.ui.showConsoleProgress": "false"})
        get_spark_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("register_inputs", kind="setup"):
            workload = WORKLOADS[args.workload](
                spark, data, n_source,
                os.path.join(dirs["work"], f"{args.workload}-{os.getpid()}"))
        probe = SparkProbe(spark) if args.trace else None
        runner = Runner(workload, tracer, probe)
        runner.iteration(0, traced=bool(args.trace))
        setup_s = tree_cpu_s(bench._proc_sample()) - cpu_untimed
        setup_wall_s = time.time() - proc_start - inputs_s - canary_s

        start = time.perf_counter()
        k = 1
        while True:
            runner.iteration(k, traced=bool(args.trace) and k % 2 == 0)
            k += 1
            kept = runner.iterations[1 + workload.warmup_iters:]
            if (time.perf_counter() - start >= args.seconds
                    and enough(kept, bool(args.trace))):
                break
        peak_rss = rss.stop()

        t_chk = time.time()
        try:
            workload.check(runner.report)
        except Exception:
            traceback.print_exc()
            runner.attempted += 1
            runner.fail("oracle check: raised")
        check_s = time.time() - t_chk
    finally:
        if rss.is_alive():
            rss.stop()
        if workload is not None:
            workload.close()
        if spark is not None:
            _stop_spark(spark)
    canary.append(bench._bandwidth_canary_gbps(CANARY_BYTES))

    plain = [it for it in kept if not it["traced"]]
    plain_cpu_s = _median([it["cpu_s"] for it in plain])
    rows_per_cpu_s = n_source / plain_cpu_s
    if args.trace:
        traced_cpu_s = _median([it["cpu_s"] for it in kept if it["traced"]])
        values = per_layer_metrics(runner, workload, kept,
                                   1.0 - plain_cpu_s / traced_cpu_s,
                                   get_spark_s, peak_rss)
        values["rows_per_s"] = n_source / _median([it["s"] for it in plain])
        values["setup_wall_s"] = setup_wall_s
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in values.items()}
        span_path = os.path.join(
            dirs["traces"], f"{args.workload}-s{args.seed}.json")
        tracer.write(span_path, {"workload": args.workload,
                                 "seed": args.seed})
    else:
        values = {"setup_s": setup_s, "rows_per_cpu_s": rows_per_cpu_s}
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
        span_path = None

    meta = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "master": f"local[{nproc}]",
        "source_rows": n_source, "inputs_s": round(inputs_s, 3),
        "setup_wall_s": round(setup_wall_s, 3),
        "check_s": round(check_s, 3), "membw_canary_gbps": canary,
        "iterations": [{"k": it["k"], "s": round(it["s"], 4),
                        "cpu_s": round(it["cpu_s"], 2),
                        "traced": it["traced"],
                        "ext_cores": it["ext_cores"],
                        "ops_s": {op: round(r["s"], 4)
                                  for op, r in it["ops"].items()}}
                       for it in runner.iterations],
        "measured_iterations": [it["k"] for it in kept],
        "outputs": runner.outputs, "checks": runner.checks,
        "span_file": span_path and os.path.relpath(span_path, ROOT),
    }
    with open(os.path.join(dirs["runs"], f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as fh:
        json.dump({"meta": meta, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"meta": meta}, separators=(",", ":")))
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}),
          flush=True)
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
