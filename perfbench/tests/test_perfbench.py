"""Unit tests of the benchmark's own parts that need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import cdcgen  # noqa: E402
import eventlog  # noqa: E402
from spans import SPAN_PROPERTY, Span, self_time  # noqa: E402

FIXTURE = HERE / "fixtures" / "eventlog"


def test_eventlog_attributes_jobs_to_span_owners():
    """A real local[2] log, trimmed to the fields the parser reads and split
    into two rolling files: span 7 ran a count on the main thread, span 9 a
    group-by on a second thread, and a third count ran outside any span.
    Each count is a map job plus a job whose first stage is skipped."""
    usage = eventlog.parse(eventlog.read_lines(FIXTURE), SPAN_PROPERTY)
    assert set(usage) == {"7", "9", None}
    got = {
        owner: (u.jobs, u.stages, u.tasks, u.executor_run_ms, u.jvm_gc_ms, u.shuffle_write_bytes)
        for owner, u in usage.items()
    }
    assert got == {
        "7": (2, 2, 3, 357, 33, 118),
        "9": (2, 2, 3, 608, 10, 266),
        None: (2, 2, 3, 90, 9, 118),
    }
    assert usage["9"].executor_cpu_ns == 267396717
    assert usage["9"].shuffle_read_bytes == usage["9"].shuffle_write_bytes
    assert usage["7"].task_ms == {(0, 0): [290, 265], (2, 0): [177]}
    assert abs(usage["7"].task_skew_max() - 290 / 277.5) < 1e-12


def test_eventlog_usage_add_merges_owners():
    usage = eventlog.parse(eventlog.read_lines(FIXTURE), SPAN_PROPERTY)
    total = eventlog.Usage()
    for u in usage.values():
        total.add(u)
    assert (total.jobs, total.stages, total.tasks) == (6, 6, 9)
    assert total.executor_run_ms == 357 + 608 + 90
    assert len(total.task_ms) == 6


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        Span(1, "run_job", 0, None, 0.0, 10.0),
        Span(2, "read", 0, 1, 1.0, 4.0),
        Span(3, "write", 0, 1, 3.0, 6.0),  # overlaps "read" (another thread)
        Span(4, "swap", 0, 1, 9.0, 12.0),  # outlives its parent
    ]
    own = self_time(spans)
    assert own[1] == 10.0 - (6.0 - 1.0) - (10.0 - 9.0)
    assert own[2] == 3.0


def test_last_state_applies_cdc_semantics():
    I, D, U, N = cdcgen.OP_INITIAL, cdcgen.OP_DELETE, cdcgen.OP_UPDATE, cdcgen.OP_INSERT
    changes = pd.DataFrame(
        {
            "id": [1, 2, 3, 1, 2, 2, 4, 3],
            cdcgen.OP_COL: [I, I, I, U, D, N, U, U],
            "v": [1.0, 2.0, 3.0, 10.0, 0.0, 20.0, 40.0, 30.0],
            "_seq": [0, 1, 2, 3, 4, 5, 6, 7],
        }
    )
    got = cdcgen.last_state(changes).sort_values("id").reset_index(drop=True)
    # 1 updated, 2 deleted then re-inserted, 3 updated, 4 an orphan update
    assert got["id"].tolist() == [1, 2, 3]
    assert got["v"].tolist() == [10.0, 20.0, 30.0]
    assert cdcgen.digest(got) == cdcgen.digest(got.iloc[::-1])
