"""Self-tests of the benchmark's arithmetic: the percentile rule, the
seeded ingest feed, the digest normalizer and the metric catalogue.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import digest, metrics, workloads
from perfbench.stats import tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "n, p, beyond",
    [(100, 90, 10), (200, 90, 20), (30, 66, 10), (20, 50, 10), (11, 50, 5)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p, beyond):
    got_p, value, got_beyond = tail_percentile(range(1, n + 1))
    assert (got_p, got_beyond) == (p, beyond)
    # nearest rank: the value is the rank-th smallest sample
    assert value == n - beyond


def test_tail_percentile_is_the_highest_such_percentile():
    values = list(range(40))
    p, _value, beyond = tail_percentile(values)
    assert beyond >= 10
    # one percentile higher would leave fewer than ten samples beyond
    assert p == 90 or tail_percentile(values, cap=p + 1, floor=p + 1)[2] < 10


def test_tail_percentile_needs_samples():
    with pytest.raises(ValueError):
        tail_percentile([])


DOC_IDS = list(range(1, 501))


def _feed_bytes(seed: int, out_dir) -> list[tuple[str, bytes]]:
    import pyarrow.parquet as pq

    doc_ids = pq.read_table(
        os.path.join(digest.CORPUS, "documents.parquet"), columns=["doc_id"]
    ).column("doc_id").to_pylist()
    workloads.write_feed(workloads.feed_plan(doc_ids, seed), str(out_dir))
    return [
        (name, (out_dir / name).read_bytes()) for name in sorted(os.listdir(out_dir))
    ]


def test_feed_is_a_function_of_the_seed(tmp_path):
    a = _feed_bytes(7, tmp_path / "a")
    assert a == _feed_bytes(7, tmp_path / "b")
    c = _feed_bytes(8, tmp_path / "c")
    assert [name for name, _ in a] == [name for name, _ in c]
    assert a != c
    # same documents in each file, in another row order
    assert workloads.feed_plan(DOC_IDS, 7) != workloads.feed_plan(DOC_IDS, 8)
    assert workloads.feed_plan(DOC_IDS, 7) == workloads.feed_plan(
        list(reversed(DOC_IDS)), 7
    )


def test_feed_holds_every_document_and_the_reimports():
    plan = workloads.feed_plan(DOC_IDS, 3)
    assert len(plan) == workloads.FEED_FILES
    rows = [d for ids in plan for d in ids]
    assert set(rows) == set(DOC_IDS)
    assert len(rows) == len(DOC_IDS) + round(workloads.REIMPORT_FRAC * len(DOC_IDS))
    # a document's first arrival is in doc_id order across files, so the
    # stream's first-seen keeper is the batch query's min(doc_id)
    first_file = {}
    for k, ids in enumerate(plan):
        for d in ids:
            first_file.setdefault(d, k)
    assert [first_file[d] for d in DOC_IDS] == sorted(first_file[d] for d in DOC_IDS)


def test_digest_tells_int_from_float():
    assert digest.digest(["x"], [(5,)]) != digest.digest(["x"], [(5.0,)])


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a"), (2, "b"), (2, "b")]
    assert digest.digest(["k", "v"], rows) == digest.digest(
        ["v", "k"], [(v, k) for k, v in reversed(rows)]
    )
    # a multiset: the duplicate row counts
    assert digest.digest(["k", "v"], rows) != digest.digest(["k", "v"], rows[:2])


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
