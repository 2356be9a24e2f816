#!/usr/bin/env python3
"""Self-test of the benchmark at its tiny input size (a few minutes).

    python3 perfbench/selftest.py

Runs every workload in ``BENCHMARK.json`` once untraced and once traced
and checks that each run exits 0, passes its correctness checks, prints
every end-to-end metric (untraced) or per-layer metric (traced) by name
with its unit, and that the traced run wrote its span file.  It also
checks that a second instance is refused while the lock is held and
that the benchmark fails without printing a result when the library is
not next to it.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench")
TIMEOUT_S = 600


def _run(cwd: str, workload: str, trace: int, size: str = "tiny"):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "0", "--seconds", "1",
         "--trace", str(trace), "--size", size],
        cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT_S)


def check_workload(bench: dict, workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace)
    tag = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        sys.exit(f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{tag}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        sys.exit(f"{tag}: {result['attempted']} attempted, "
                 f"{result['failed']} failed")
    want = {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        sys.exit(f"{tag}: missing {missing}, extra {extra}, "
                 f"wrong unit {wrong}")
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v["value"], (int, float))]
    if bad:
        sys.exit(f"{tag}: non-numeric values for {bad}")
    spans = os.path.join(RUN_DIR, "traces", f"{workload}-s0.json")
    if trace and not os.path.exists(spans):
        sys.exit(f"{tag}: no span file {spans}")
    print(f"ok  {tag}: {len(got)} metrics", flush=True)


def check_lock_refusal(workload: str) -> None:
    os.makedirs(RUN_DIR, exist_ok=True)
    with open(os.path.join(RUN_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        proc = _run(ROOT, workload, 0)
    if proc.returncode != 3 or proc.stdout.strip():
        sys.exit(f"lock held: exit {proc.returncode}, stdout "
                 f"{proc.stdout[-300:]!r}")
    print("ok  refuses to start while another instance holds the lock")


def check_alone_fails(workload: str) -> None:
    alone = os.path.join(RUN_DIR, "tmp", "alone")
    shutil.rmtree(alone, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(alone, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    try:
        proc = _run(alone, workload, 0)
    finally:
        shutil.rmtree(alone, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        sys.exit(f"without the library: exit {proc.returncode}, stdout "
                 f"{proc.stdout[-300:]!r}")
    print("ok  fails without a result when the library is absent")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    check_lock_refusal(names[0])
    check_alone_fails(names[0])
    for name in names:
        for trace in (0, 1):
            check_workload(bench, name, trace)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
