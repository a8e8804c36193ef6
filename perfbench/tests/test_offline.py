"""Tests that need no Spark session: the event-log parser, the span
self-time arithmetic and the output checks."""

from __future__ import annotations

import os

import checks
import datagen
import eventlog
from tracing import Span, Tracer

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_v2_local-1")


def test_eventlog_sums_by_job_group():
    per = eventlog.summarize(FIXTURE, eventlog.job_group)
    q = per["perfbench:q1:0"]
    assert (q.jobs, q.stages, q.tasks, q.leaf_tasks) == (1, 2, 3, 2)
    assert q.executor_cpu_s == 3.5
    assert q.executor_run_s == 2.25
    assert q.gc_s == 0.015
    assert (q.shuffle_write_bytes, q.shuffle_records, q.spill_bytes) == (160, 5, 4096)
    assert q.input_records == 100
    # the ungrouped job is not attributed to anything
    assert set(per) == {"perfbench:q1:0", "run-1"}


def test_eventlog_streaming_key_ignores_non_batch_jobs():
    per = eventlog.summarize(FIXTURE, eventlog.streaming_query)
    assert set(per) == {"abc"}
    assert (per["abc"].tasks, per["abc"].input_records) == (1, 7)


def test_self_time_nets_out_children_once():
    t = Tracer("r", enabled=True)
    t.spans = [
        Span(1, "drain", "streaming", 0.0, 10.0, None, "r"),
        Span(2, "emit", "sinks", 1.0, 4.0, 1, "r"),
        Span(3, "emit", "sinks", 3.0, 6.0, 1, "r"),  # overlaps span 2
        Span(4, "bad", "sinks", 2.0, 3.0, 2, "r"),
    ]
    self_time = t.self_time_by_layer()
    assert self_time["streaming"] == 5.0  # 10 - union(1..6)
    assert self_time["sinks"] == (3.0 - 1.0) + 3.0 + 1.0


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("x", "sinks"):
        pass
    assert t.spans == []


def test_records_are_a_function_of_the_seed():
    import numpy as np

    seqs = np.arange(100, 200)
    a = datagen.RecordMaker(3).payloads(seqs)
    assert a == datagen.RecordMaker(3).payloads(seqs)
    assert a != datagen.RecordMaker(4).payloads(seqs)
    good = [p for p in a if p is not None]
    assert [datagen.parse_seq(p)[0] for p in good] == [
        s for s, p in zip(seqs.tolist(), a) if p is not None
    ]
    assert all(datagen.expected_row_type(p) for p in good)


def _backlog_args(**over):
    h = checks.MultisetHash(98, 11, 22)
    args = dict(generated=100, nulls=2, expected=h, committed_good=98, committed_bad=2,
                bad_lines=2, replayed=h, misrouted=0, failed=0)
    args.update(over)
    return args


def test_backlog_check_passes_clean_output():
    assert checks.check_backlog(**_backlog_args()) == []


def test_backlog_check_catches_drop_dup_and_misroute():
    dropped = checks.MultisetHash(97, 10, 20)
    assert checks.check_backlog(**_backlog_args(committed_good=97, replayed=dropped))
    dup = checks.MultisetHash(99, 12, 25)
    assert checks.check_backlog(**_backlog_args(committed_good=99, replayed=dup))
    assert checks.check_backlog(**_backlog_args(misrouted=1))


def test_backlog_check_counts_failures_instead_of_flagging_them():
    assert checks.check_backlog(**_backlog_args(committed_good=50, committed_bad=0, failed=50,
                                                bad_lines=0)) == []


def test_paced_check():
    base = dict(generated=6, null_seqs=[2], committed_bad=1, bad_lines=1, misrouted=0, failed=0)
    assert checks.check_paced(committed_seqs=[0, 1, 3, 4, 5], **base) == []
    assert checks.check_paced(committed_seqs=[0, 1, 3, 4], **base)  # dropped
    assert checks.check_paced(committed_seqs=[0, 1, 3, 4, 5, 5], **base)  # duplicated
    assert checks.check_paced(committed_seqs=[0, 1, 3, 4, 5], **{**base, "misrouted": 1})


def test_oracle_check():
    ok = dict(name="q", rows_match=True, cols_match=True, values_match=True,
              spark_rows=3, duck_rows=3)
    assert checks.check_oracle(ok) == []
    assert checks.check_oracle({**ok, "values_match": False})
