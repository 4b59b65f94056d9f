"""The benchmark's loop, input cache, shims and declared metric names."""

import json
import os
import subprocess
import sys
import time

import pytest

import proctree
import run
from workloads import _materialize, golden_counts, pixel_failures, seed_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class FakeWorkload:
    def __init__(self, times, bad=()):
        self.times = list(times)
        self.bad = set(bad)
        self.calls = 0

    def op(self):
        from workloads import Sample

        t = self.times[self.calls]
        self.calls += 1
        s = Sample(t, t, 0, 0, total_s=t, first_s=t)
        if self.calls in self.bad:
            s.expect("output", 1, 2)
        return s


def test_steady_drops_leading_operations_that_have_not_settled():
    loop = run.Loop(FakeWorkload([9.0, 7.0, 5.0, 4.8, 5.1, 4.9]), max_ops=6)
    samples, warm = loop.steady(seconds=60)
    assert [s.run_s for s in samples] == [5.0, 4.8, 5.1, 4.9]
    assert warm == 2
    assert loop.attempted == 6


def test_steady_runs_at_least_min_ops_and_keeps_them():
    loop = run.Loop(FakeWorkload([9.0, 7.0, 5.0, 3.0]), max_ops=10)
    samples, warm = loop.steady(seconds=0)
    assert [s.run_s for s in samples] == [9.0, 7.0, 5.0]
    assert warm == 0
    assert loop.attempted == run.MIN_OPS


def test_failed_operations_are_counted():
    loop = run.Loop(FakeWorkload([1.0, 1.0, 1.0], bad={2}), max_ops=3)
    loop.steady(seconds=0)
    assert (loop.attempted, loop.failed) == (3, 1)
    assert loop.problems == ["output: got 1, want 2"]


def test_materialize_leaves_nothing_when_generation_fails(tmp_path):
    path = str(tmp_path / "table")

    def broken(p):
        os.makedirs(p)
        open(os.path.join(p, "part-0"), "w").close()
        raise RuntimeError("generation died")

    with pytest.raises(RuntimeError):
        _materialize(path, broken)
    assert os.listdir(tmp_path) == []

    _materialize(path, os.makedirs)
    assert os.listdir(tmp_path) == ["table"]
    _materialize(path, broken)  # cached: not regenerated


def test_seed_inputs():
    assert seed_rows(1000, 7) == seed_rows(1000, 7)
    assert {seed_rows(10_000, s) for s in range(20)} != {seed_rows(10_000, 0)}
    assert golden_counts(2000)["unique_image_id"] == 4
    # i = 1999 is injected on both fmt and width
    assert pixel_failures(2000) == 5 + 8 - 1


def test_tracer_restores_and_times_calls():
    class Owner:
        def work(self, x):
            return x + 1

    tracer = run.Tracer()
    tracer.wrap(Owner, "work", "owner.work")
    assert Owner().work(1) == 2
    tracer.restore()
    assert Owner().work(1) == 2
    assert len(tracer.spans) == 1
    calls, _ = tracer.in_window("owner.work", 0, 2**62)
    assert calls == 1
    assert tracer.in_window("owner.work", 0, 1) == (0, 0)


def test_process_tree_counts_this_process_and_its_children():
    child = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                             stdin=subprocess.PIPE)
    try:
        assert child.pid in proctree.tree(os.getpid())
        assert proctree.rss_bytes(os.getpid()) > proctree.rss_bytes(child.pid) > 0
    finally:
        child.communicate(b"")
    before = proctree.cpu_s(os.getpid())
    t0 = time.process_time()
    while time.process_time() - t0 < 0.2:
        pass
    assert proctree.cpu_s(os.getpid()) - before >= 0.1


def test_benchmark_json_declares_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOADS
