"""The event-log reader against a committed fixture.

``fixtures/eventlog_tiny.jsonl`` is a real uncompressed Spark 4.1 event
log of q_filter_simple and q_llm_exact_dedup over the benchmark corpus
on ``local[2]``, each under its own job group, cut down to the events and
fields the reader uses. ``eventlog_tiny_ops.json`` holds the two ops'
timer records as the benchmark wrote them.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def parsed():
    with open(os.path.join(FIXTURES, "eventlog_tiny_ops.json")) as fh:
        ops = json.load(fh)
    log = eventlog.EventLog(
        eventlog.read_events(os.path.join(FIXTURES, "eventlog_tiny.jsonl"))
    )
    return log, ops


def test_counts(parsed):
    log, _ops = parsed
    assert len(log.jobs) == 5
    assert len(log.stages) == 5
    assert sum(len(t) for t in log.tasks.values()) == 6
    assert sorted(log.plans) == [0, 1]


def test_jobs_attributed_by_group(parsed):
    log, ops = parsed
    jobs = eventlog.attribute_jobs(log, ops)
    assert {g: [j["id"] for j in js] for g, js in jobs.items()} == {
        "fixture/q_filter_simple#0": [0, 1],
        "fixture/q_llm_exact_dedup#0": [2, 3, 4],
    }


def test_layer_metrics(parsed):
    log, ops = parsed
    m = eventlog.layer_metrics(log, ops, n_passes=1, slots=2)
    assert m["spark.jobs"] == 5
    assert m["spark.stages"] == 5
    assert m["spark.tasks"] == 6
    assert m["spark.exchanges"] == 1
    assert m["spark.shuffle_records"] == 1000
    assert m["spark.input_rows"] == 61000
    assert m["operators.relational.eager_jobs"] == 1
    assert m["operators.llm_text.eager_jobs"] == 1
    assert m["spark.in_memory_scans"] == 0
    # Σ "number of output rows" over both plans / the 16 525 result rows
    assert m["spark.rows_examined_per_row_out"] * 16525 == pytest.approx(139525)
    assert 0 < m["spark.slot_busy_frac"] < 1


def test_span_tree_nests_and_keeps_self_time(parsed):
    log, ops = parsed
    run = {"name": "run", "start": ops[0]["build0"], "end": ops[-1]["exec1"]}
    tree = eventlog.span_tree(log, ops, run)

    def spans(s):
        return 1 + sum(spans(c) for c in s["children"])

    # run, pass, 2 ops, 2 x {build, execute}, 5 jobs, 5 stages
    assert spans(tree) == 18
    (pass_span,) = tree["children"]
    for op in pass_span["children"]:
        build, execute = op["children"]
        assert op["self_ms"] == pytest.approx(0, abs=1e-6)
        assert 0 <= execute["self_ms"] <= execute["end"] - execute["start"]
