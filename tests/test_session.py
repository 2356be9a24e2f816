"""Defaults picked without a Spark session: the local master and the
bench_extra command line."""

import os
import sys
import time

from mobilitydb_spark import session

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
import bench_extra  # noqa: E402


def test_default_master_uses_every_core(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_master() == f"local[{os.cpu_count()}]"


def test_default_master_env_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert session.default_master() == "local[2]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local-cluster[2,1,1024]")
    assert session.default_master() == "local-cluster[2,1,1024]"


def test_bench_extra_reps_both_spellings():
    for argv in (["--reps", "3", "q1"], ["--reps=3", "q1"]):
        a = bench_extra.parse_args(argv)
        assert (a.reps, a.queries, a.noop) == (3, ["q1"], False)
    a = bench_extra.parse_args(["--noop", "q1", "q2"])
    assert (a.reps, a.queries, a.noop) == (2, ["q1", "q2"], True)


def test_bench_extra_timed_counts_process_cpu():
    def spin(cpu_s):
        t0 = time.process_time()
        while time.process_time() - t0 < cpu_s:
            pass
    wall, cpu = bench_extra.timed(spin, 0.3)
    assert wall > 0 and cpu >= 0.25
