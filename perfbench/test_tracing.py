"""Unit tests of the span arithmetic in perfbench/tracing.py.

Run from the repository root: python3 -m pytest perfbench -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import self_times, task_metrics, wall_attribution  # noqa: E402


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def _spans():
    # a 10 s pass; its sink job runs two parallel kernel batches, one of
    # which calls the image layer
    root = _span("r", "pass", 0.0, 10.0)
    sink = _span("s", "sink", 1.0, 9.0, "r")
    k1 = _span("k1", "kernel", 2.0, 6.0, "s")
    k2 = _span("k2", "kernel", 4.0, 8.0, "s")
    img = _span("i", "images", 4.0, 5.0, "k2")
    return root, [root, sink, k1, k2, img]


def test_self_times_subtract_covered_child_time():
    _, spans = _spans()
    st = self_times(spans)
    assert st["pass"] == pytest.approx(2.0)
    assert st["sink"] == pytest.approx(2.0)      # 8 s minus the 2..8 union
    assert st["kernel"] == pytest.approx(7.0)    # 4 + (4 - 1)
    assert st["images"] == pytest.approx(1.0)


def test_wall_attribution_sums_to_the_pass():
    root, spans = _spans()
    attr = wall_attribution(spans, root)
    assert sum(attr.values()) == pytest.approx(10.0)
    assert attr["pass"] == pytest.approx(2.0)
    assert attr["sink"] == pytest.approx(2.0)
    # 2..4 and 6..8 one kernel alone; 4..5 kernel k1 shares with images;
    # 5..6 the two kernels share
    assert attr["kernel"] == pytest.approx(2.0 + 0.5 + 1.0 + 2.0)
    assert attr["images"] == pytest.approx(0.5)


def test_task_metrics_window_and_skew():
    tasks = [{"stage": (0, 0), "launch": t, "finish": t + d, "shuffle_write": 10, "spill": 0}
             for t, d in ((1.0, 1.0), (1.0, 1.0), (1.0, 3.0), (50.0, 9.0))]
    m = task_metrics(tasks, 0.0, 4.0, cores=2)
    assert m["tasks"] == 3
    assert m["core_busy_frac"] == pytest.approx(5.0 / 8.0)
    assert m["shuffle_write_bytes"] == 30
    assert m["task_skew"] == pytest.approx(3.0)
