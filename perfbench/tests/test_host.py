"""The /proc readers behind the per-operation CPU and steal figures."""

import argparse

from perfbench import host, worker


def test_steal_share_is_steal_over_all_ticks():
    before = [100, 0, 20, 500, 0, 0, 0, 10, 0, 0]
    after = [160, 0, 30, 520, 0, 0, 0, 20, 0, 0]
    # deltas: user 60, system 10, idle 20, steal 10 -> 10 of 100
    assert host.steal_share(before, after) == 0.1
    assert host.steal_share(before, before) == 0.0


def test_cpu_s_counts_own_work():
    t0 = host.cpu_s()
    x = 0
    for i in range(3_000_000):
        x += i
    assert host.cpu_s() > t0
    assert len(host.cpu_ticks()) >= 8


def test_measured_ops_sized_from_seconds():
    def ops(seconds, nominal):
        run = object.__new__(worker.Run)
        run.args = argparse.Namespace(seconds=seconds)
        return run.measured_ops(nominal)

    assert ops(10, worker.NOMINAL_INGEST_S) == 1
    assert ops(1, worker.NOMINAL_INGEST_S) == 1  # never zero
    assert ops(30, worker.NOMINAL_INGEST_S) == 3
    assert ops(10, 0.5) == 20
