"""Span recording, SQL-metric parsing and process-tree CPU time."""

import os

import pytest

from spans import Tracer, parse_metric, tree_cpu_s


def test_spans_record_parent_and_operation():
    tr = Tracer()
    with tr.span("op", 3, query="q"):
        with tr.span("exec", 3):
            pass
    op, ex = tr.spans
    assert ex["parent"] == op["id"] and ex["op"] == 3 and op["query"] == "q"
    assert op["start"] <= ex["start"] <= ex["end"] <= op["end"]


@pytest.mark.parametrize("text,value", [
    ("60,000", 60000.0),
    ("1069.9 KiB", 1069.9 * 1024),
    ("510 ms", 0.51),
    ("total (min, med, max (stageId: taskId))\n10.3 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB (stage 1.0: task 2))",
     10.3 * 2**20),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_tree_cpu_counts_this_process():
    before = tree_cpu_s(os.getpid())
    x = 0
    for i in range(2_000_000):
        x += i
    assert tree_cpu_s(os.getpid()) > before
