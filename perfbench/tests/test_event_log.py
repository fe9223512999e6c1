"""The event-log reader on a small recorded log.

tests/data/eventlog_small.jsonl is a real Spark 4 event log, trimmed to
the events and fields the reader uses. It was recorded on local[2] with
a Tracer tagged "rec" over four spans: 0 "write" (a parquet write of
2000 rows), 1 "outer" holding 2 "shuffle" (read + groupBy + collect),
and 3 "python" (read + a scalar pandas UDF); one job ran outside any
span."""

import os

import pytest

from spans import RunView, Span, Tracer, parse_event_log, span_stage_metrics

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(LOG) as f:
        return parse_event_log(f)


def recorded_tracer():
    tr = Tracer("rec")
    tr.spans = [
        Span(0, "write", None, 0, 0.0, 1.0, jobs=[0], stages=[0]),
        Span(1, "outer", None, 0, 1.0, 3.0),
        Span(2, "shuffle", 1, 0, 1.1, 2.9, jobs=[1, 2, 3], stages=[1, 2, 3, 4]),
        Span(3, "python", None, 0, 3.0, 4.0, jobs=[4, 5], stages=[5, 6]),
    ]
    return tr


def test_stages_carry_the_job_group_that_submitted_them(log):
    groups = {s: st["group"] for s, st in log["stages"].items()}
    assert groups[0] == "pb-span-rec-0"
    assert {groups[s] for s in (1, 2, 4)} == {"pb-span-rec-2"}
    assert {groups[s] for s in (5, 6)} == {"pb-span-rec-3"}
    assert groups[7] is None and groups[9] is None
    assert 3 not in groups  # skipped: its shuffle output was reused


def test_task_metrics_are_summed_per_stage(log):
    write = log["stages"][0]
    assert write["tasks"] == 2 and len(write["task_ms"]) == 2
    assert write["output_records"] == 2000 and write["output_bytes"] > 0
    assert write["failed_tasks"] == 0
    assert log["stages"][2]["shuffle_write_bytes"] > 0
    assert log["stages"][6]["python_bytes"] > 0
    assert all(st["run_s"] >= 0 and st["cpu_s"] >= 0 for st in log["stages"].values())


def test_scan_bytes_come_from_sql_executions_of_a_group(log):
    assert set(log["scan_bytes"]) == {"pb-span-rec-2", "pb-span-rec-3"}
    assert log["scan_bytes"]["pb-span-rec-2"] == log["scan_bytes"]["pb-span-rec-3"] > 0


def test_span_metrics_attribute_own_stages_and_roll_up_subtrees(log):
    tr = recorded_tracer()
    per_span = span_stage_metrics(log, tr)
    assert per_span[0]["output_records"] == 2000
    assert per_span[1]["shuffle_write_bytes"] == 0  # only its child ran jobs
    assert per_span[2]["shuffle_write_bytes"] > 0
    assert per_span[3]["python_bytes"] > 0 and per_span[3]["scan_bytes"] > 0
    view = RunView(tr.spans, traced_passes=[0], untraced_passes=[], stage_metrics=per_span)
    assert view.traced("outer", "shuffle_write_bytes") == per_span[2]["shuffle_write_bytes"]
    assert view.traced("outer", "jobs") == 3
    assert view.traced("outer", "stages") == 4
    assert view.traced("write", "dur") == pytest.approx(1.0)
