"""Event-log fold, span self times and the tail order statistic."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402
from run import quantile_tail  # noqa: E402

# A real Spark 4.1.2 event log of two ops (``op0:exec`` ran a group-by
# count, ``op1:exec`` a count), cut down to the events the fold reads.
FIXTURE = os.path.join(HERE, "data")


def test_fold_pins_committed_event_log():
    groups = tracing.fold_event_log(tracing.event_log_files(FIXTURE))
    assert set(groups) == {"op0:exec", "op1:exec"}
    op0, op1 = groups["op0:exec"], groups["op1:exec"]
    assert (op0["jobs"], op0["stages"], op0["tasks"]) == (3, 3, 4)
    assert (op1["jobs"], op1["stages"], op1["tasks"]) == (2, 2, 3)
    assert op0["executor_run_ms"] == 1189
    assert op0["executor_cpu_ms"] == pytest.approx(406.394167)
    assert op0["gc_ms"] == 109
    assert op0["shuffle_write_bytes"] == op0["shuffle_read_bytes"] == 364
    assert op1["shuffle_write_bytes"] == op1["shuffle_read_bytes"] == 118
    assert op0["spill_bytes"] == op1["spill_bytes"] == 0


def test_self_times_subtract_children():
    tr = tracing.Tracer(True)
    tr.op = 7
    with tr.span("op"):
        with tr.span("build"):
            with tr.span("load"):
                pass
        with tr.span("exec"):
            pass
    own = tr.self_times()
    assert [s.name for s in tr.spans] == ["op", "build", "load", "exec"]
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]
    assert all(s.op == 7 for s in tr.spans)
    assert sum(own) == pytest.approx(tr.spans[0].dur)
    assert own[1] == pytest.approx(tr.spans[1].dur - tr.spans[2].dur)


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(False)
    with tr.span("op"):
        pass
    assert tr.spans == []


def test_tail_has_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 41)]
    value, pct = quantile_tail(values)
    assert value == 30.0 and sum(v > value for v in values) == 10
    assert pct == 75.0
    assert quantile_tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
