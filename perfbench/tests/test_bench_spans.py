"""Span self-time arithmetic (children's self times plus the root's self
time add up to the root's wall) and the process-tree CPU reading."""

import math
import os
import subprocess
import time

import pytest

from spans import Span, Tracer, covered, descendants_cpu_s, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def _tree():
    # root 0..10; children 1..3, 3..6 (with a grandchild 4..5), 8..9.5
    return [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),
        Span("b.x", 4.0, 5.0, parent=2),
        Span("c", 8.0, 9.5, parent=0),
    ]


def test_self_times_of_a_tree():
    assert self_times(_tree()) == pytest.approx([3.5, 2.0, 2.0, 1.0, 1.5])


def test_self_times_sum_to_root_wall():
    spans = _tree()
    assert math.isclose(sum(self_times(spans)), spans[0].wall)


def test_overlapping_children_are_not_double_counted():
    spans = [Span("root", 0.0, 4.0), Span("a", 0.0, 3.0, parent=0), Span("b", 2.0, 4.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(0.0)


def test_tracer_nesting_and_layer_totals():
    tr = Tracer()
    op = tr.new_op()
    with tr.span("root"):
        for name in ("a", "b", "a"):
            with tr.span(name, rows_out=2):
                time.sleep(0.01)
    assert [s.parent for s in tr.spans] == [None, 0, 0, 0]
    totals = tr.layer_totals(op)
    assert totals["a"]["rows_out"] == 4
    walls = sum(t["wall_s"] for t in totals.values())
    assert walls == pytest.approx(tr.spans[0].wall)


def test_descendants_cpu_counts_grandchildren_only_while_they_run():
    # sh forks python (a grandchild of this process), which burns about
    # 0.3 s of CPU, reports, and then idles until it is killed
    burn = (
        "import time; t = time.process_time()\n"
        "while time.process_time() - t < 0.3: pass\n"
        "print('done', flush=True); time.sleep(30)"
    )
    before = descendants_cpu_s(os.getpid())  # e.g. a Spark JVM of another test
    child = subprocess.Popen(["sh", "-c", f'python3 -c "{burn}"; true'], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert 0.25 <= descendants_cpu_s(os.getpid()) - before < 2.0
    finally:
        child.kill()
        child.wait(timeout=10)
        child.stdout.close()


def test_wait_ended_returns_when_processes_end_and_kills_the_rest():
    from run import running, wait_ended

    quick = subprocess.Popen(["sleep", "0.2"])
    stuck = subprocess.Popen(["sh", "-c", "trap '' TERM; exec sleep 30"])
    try:
        t0 = time.monotonic()
        wait_ended([quick.pid], grace_s=10)
        assert time.monotonic() - t0 < 5 and not running(quick.pid)
        wait_ended([stuck.pid], grace_s=0.1)  # ignores SIGTERM, so SIGKILL ends it
        assert not running(stuck.pid)
    finally:
        for p in (quick, stuck):
            p.kill()
            p.wait(timeout=10)
