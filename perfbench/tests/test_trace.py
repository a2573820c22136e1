"""Self-time arithmetic on synthetic span trees, the wrappers, and the
CPU-time reading of a process tree."""

import subprocess
import sys
import time
import types

import pytest

from perfbench import trace, workloads
from perfbench.trace import Span


def _tree():
    # root 0..10 with children 1..4 and 3..6 (overlapping), 8..12 (past
    # the end); grandchild 1.5..2 under the first child
    return [
        Span(1, "root", 0.0, 10.0, None, 1),
        Span(2, "a", 1.0, 4.0, 1, 1),
        Span(3, "b", 3.0, 6.0, 1, 1),
        Span(4, "c", 8.0, 12.0, 1, 1),
        Span(5, "spark.collect", 1.5, 2.0, 2, 1),
    ]


def test_self_time_subtracts_union_of_children():
    st = trace.self_times(_tree())
    assert st[1] == pytest.approx(10 - (5 + 2))  # [1,6] and [8,10]
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(3)
    assert st[5] == pytest.approx(0.5)


def test_covered_merges_and_clips():
    assert trace.covered([], 0, 1) == 0
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert trace.covered([(-5, 15)], 0, 10) == pytest.approx(10)


def test_spark_time_counts_nested_actions_once():
    spans = _tree()
    kids = trace.children(spans)
    assert trace.spark_time(spans[0], kids) == pytest.approx(0.5)


def test_wrappers_patch_callers_and_record_parents(monkeypatch):
    t = trace.Tracer()
    calls = []

    def leaf(x):
        calls.append(x)
        return x

    def outer(x):
        return holder.leaf(x) + 1

    holder = types.SimpleNamespace(leaf=t.wrap(leaf, "layer.leaf"))
    wrapped_outer = t.wrap(outer, "layer.outer")
    assert wrapped_outer(1) == 2 and not t.spans  # disabled: no spans
    t.enabled = True
    t.set_request(7)
    assert wrapped_outer(2) == 3
    by_name = {s.name: s for s in t.spans}
    assert by_name["layer.leaf"].parent == by_name["layer.outer"].id
    assert {s.rid for s in t.spans} == {7}
    assert calls == [1, 2]


def test_nested_spark_actions_record_one_span():
    t = trace.Tracer()
    t.enabled = True
    inner = t.wrap(lambda: 1, "spark.collect")
    outer = t.wrap(lambda: inner(), "spark.first")
    outer()
    assert [s.name for s in t.spans] == ["spark.first"]


def test_attach_false_restores_the_program():
    t = trace.Tracer()

    def fn():
        return 1

    class Frame:
        def collect(self):
            return []

    class Sub(Frame):
        pass

    mod = types.ModuleType("prog")
    mod.fn = fn
    t._patch(mod, "fn", t.wrap(fn, "prog.fn"))
    t._patch(Sub, "collect", t.wrap(Frame.collect, "spark.collect"))
    assert mod.fn is not fn and "collect" in vars(Sub)
    t.attach(False)
    assert mod.fn is fn and "collect" not in vars(Sub)
    t.attach(True)
    assert mod.fn is not fn and Sub().collect() == []


def test_tree_cpu_counts_live_child_processes():
    busy = ("import sys, time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\n"
            "sys.stdin.read()\n")
    child = subprocess.Popen([sys.executable, "-c", busy],
                             stdin=subprocess.PIPE)
    try:
        deadline = time.time() + 30
        while workloads.tree_cpu_s(child.pid) < 0.45:
            assert time.time() < deadline
            time.sleep(0.05)
        # the child's CPU time counts towards this process's tree
        assert workloads.tree_cpu_s() >= workloads.tree_cpu_s(child.pid)
        assert workloads.tree_cpu_s() - time.process_time() >= 0.4
    finally:
        child.stdin.close()
        child.wait()
