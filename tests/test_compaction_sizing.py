"""State-sized bucketed generations and the JVM-planned empty state.

A bucketed fold with no explicit ``n_buckets`` writes one bucket per
``spark.sql.files.maxPartitionBytes`` of folded state (at most
``MAX_BUCKETS``); an explicit count stays exact. The exact-dedup
stream's report must not depend on the bucket count, and reading a
state dir that does not exist yet must not start Python workers."""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from micmac_li3ds_spark.streaming import compaction as C
from micmac_li3ds_spark.streaming import jobs

DDL = "k long, v string"


def _write_batches(spark, path, rows_by_batch):
    for b, rows in rows_by_batch.items():
        spark.createDataFrame(rows, DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/batch={b}")


def _data_files(d):
    return [
        os.path.join(root, n)
        for root, _dirs, names in os.walk(d)
        for n in names
        if n.endswith(".parquet")
    ]


@pytest.fixture(scope="module")
def feed(spark, sf_dir, tmp_path_factory):
    """One parquet file per micro-batch: doc_id-ascending chunks, so
    first-seen keepers are the min-doc_id keepers, and a last file
    re-importing the first chunk, so later batches match folded
    state."""
    from micmac_li3ds_spark.tables import load

    root = tmp_path_factory.mktemp("sizing_feed")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    cuts = [ids[round(k * len(ids) / 3)] for k in range(3)] + [ids[-1] + 1]
    ranges = [(cuts[k], cuts[k + 1]) for k in range(3)] + [(cuts[0], cuts[1])]
    flat = root / "feed"
    flat.mkdir()
    for k, (lo, hi) in enumerate(ranges):
        sub = root / f"part{k}"
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).orderBy(
            "doc_id"
        ).coalesce(1).write.parquet(str(sub))
        src = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        os.link(sub / src, flat / f"{k}.parquet")
        # the file stream orders by modification time
        os.utime(flat / f"{k}.parquet", (1_600_000_000 + k,) * 2)
    return str(flat)


def _run_dedup(spark, feed, base):
    seen, dups = f"{base}/seen", f"{base}/dups"
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = jobs.run_streaming_exact_dedup(
        stream, seen, dups, f"{base}/ckpt", compact_every=2
    )
    q.awaitTermination(300)
    report = sorted(
        tuple(r) for r in jobs.read_exact_dedup(spark, seen, dups).collect()
    )
    return seen, dups, report


def _batch_dedup(spark, feed):
    from micmac_li3ds_spark.operators.llm_text import exact_fingerprint

    return sorted(
        tuple(r)
        for r in spark.read.parquet(feed)
        .select("doc_id", exact_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id"), F.count(F.lit(1)))
        .collect()
    )


def test_in_stream_fold_of_small_state_writes_one_bucket(
    spark, feed, tmp_path
):
    """(a) compact_every=2 over four micro-batches folds twice; the
    small first-seen state lands in one bucket, and each state dir ends
    as one data file. (b) With maxPartitionBytes set small the same
    feed folds into several buckets (batches 2 and 3 read the first
    generation through the pruned path) and the report is unchanged."""
    seen, dups, report_a = _run_dedup(spark, feed, str(tmp_path / "a"))
    assert json.load(open(f"{seen}/_GEN_META_1")) == {
        "bucket_by": "fp",
        "n_buckets": 1,
    }
    for d in (seen, dups):
        names = set(os.listdir(d))
        assert "gen=1" in names and "_GEN_COMMIT_1_4" in names
        assert not any(n.startswith("batch=") for n in names)
        assert len(_data_files(d)) == 1, d
    assert report_a == _batch_dedup(spark, feed)
    assert any(n > 1 for _fp, _keep, n in report_a)  # re-import matched

    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    try:
        seen_b, _dups_b, report_b = _run_dedup(
            spark, feed, str(tmp_path / "b")
        )
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    meta = json.load(open(f"{seen_b}/_GEN_META_1"))
    assert meta["bucket_by"] == "fp"
    assert 1 < meta["n_buckets"] <= C.MAX_BUCKETS
    pb_dirs = [
        n for n in os.listdir(f"{seen_b}/gen=1") if n.startswith("pb=")
    ]
    assert len(pb_dirs) > 1
    assert report_b == report_a


def test_bucket_count_sizing_rule_and_explicit_override(spark, tmp_path):
    """No n_buckets → ceil(folded bytes / maxPartitionBytes) clamped to
    [1, MAX_BUCKETS]; an explicit n_buckets is exact, also over an
    inherited layout; INHERIT_LAYOUT alone keeps the previous count."""
    path = str(tmp_path / "state")
    _write_batches(spark, path, {0: [(1, "a")], 1: [(2, "b")]})
    r0 = C.compact_state_dir(spark, path, DDL, bucket_by="k", up_to=2)
    assert r0["n_buckets"] == 1

    _write_batches(spark, path, {2: [(3, "c")]})
    fs, _ = C._fs(spark, path)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    folded = sum(
        fs.getContentSummary(Path(d)).getLength()
        for d in (f"{path}/gen=0", f"{path}/batch=2")
    )
    per_bucket = folded // 3 + 1  # → exactly 3 buckets
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(per_bucket))
    try:
        r1 = C.compact_state_dir(spark, path, DDL, bucket_by="k", up_to=3)
        assert r1["n_buckets"] == 3
        _write_batches(spark, path, {3: [(4, "d")]})
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        r2 = C.compact_state_dir(spark, path, DDL, bucket_by="k", up_to=4)
        assert r2["n_buckets"] == C.MAX_BUCKETS
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")

    _write_batches(spark, path, {4: [(5, "e")]})
    r3 = C.compact_state_dir(
        spark, path, DDL, bucket_by=C.INHERIT_LAYOUT, up_to=5
    )
    assert r3["bucket_by"] == "k" and r3["n_buckets"] == C.MAX_BUCKETS
    _write_batches(spark, path, {5: [(6, "f")]})
    r4 = C.compact_state_dir(
        spark, path, DDL, bucket_by=C.INHERIT_LAYOUT, n_buckets=5, up_to=6
    )
    assert r4["bucket_by"] == "k" and r4["n_buckets"] == 5
    got = sorted(tuple(r) for r in C.resolve_state(spark, path, DDL).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"), (6, "f")]


def _jobs_run(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_one_bucket_generation_skips_the_pruning_job(spark, tmp_path):
    """A one-bucket generation's pruned read runs no bucket-collecting
    job (pb IN (0) would keep every row); a multi-bucket generation
    still collects its buckets and prunes."""
    keys = spark.createDataFrame([(1,)], "k long")
    for n, want_jobs in ((1, False), (4, True)):
        path = str(tmp_path / f"state{n}")
        _write_batches(
            spark, path, {0: [(1, "a"), (2, "b")], 1: [(3, "c")]}
        )
        C.compact_state_dir(
            spark, path, DDL, bucket_by="k", n_buckets=n, up_to=2
        )
        out = []
        ran = _jobs_run(
            spark,
            f"sizing-prune-{n}",
            lambda: out.append(
                C.resolve_state(spark, path, DDL, prune_keys=keys)
            ),
        )
        assert bool(ran) == want_jobs, (n, ran)
        got = {tuple(r) for r in out[0].collect()}
        assert (1, "a") in got and got <= {(1, "a"), (2, "b"), (3, "c")}


@pytest.mark.parametrize("ddl", [jobs._EXACT_SEEN_DDL, jobs._SEM_VEC_DDL])
def test_missing_state_is_planned_without_python(spark, tmp_path, ddl):
    """A state dir that does not exist yet reads as an empty frame
    of the declared schema (nullability included, equal to a
    file-source read of the same DDL) whose plan has no ExistingRDD or
    Python scan, so it starts no Python worker."""
    df = C.resolve_state(spark, str(tmp_path / "nothing_yet"), ddl)
    assert df.schema == _parse_datatype_string(ddl)
    written = str(tmp_path / "written")
    spark.range(0).selectExpr(
        *[f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
          for f in df.schema.fields]
    ).write.parquet(written)
    assert df.schema == spark.read.schema(ddl).parquet(written).schema
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    assert df.collect() == []


def test_cli_sizes_buckets_unless_n_buckets_given(
    spark, tmp_path, monkeypatch, capsys
):
    """tools/compact_state.py: --bucket-by alone uses the state-sized
    rule; --n-buckets stays exact."""
    from micmac_li3ds_spark import session
    from tools import compact_state

    monkeypatch.setattr(session, "get_spark", lambda *_a, **_k: spark)
    path = str(tmp_path / "state")

    def cli(*flags):
        argv = ["compact_state.py", "--dir", path, "--ddl", DDL, *flags]
        monkeypatch.setattr(sys, "argv", argv)
        compact_state.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    _write_batches(spark, path, {0: [(1, "a")], 1: [(2, "b")]})
    assert cli("--bucket-by", "k", "--up-to", "2")["n_buckets"] == 1
    _write_batches(spark, path, {2: [(3, "c")]})
    res = cli("--bucket-by", "k", "--n-buckets", "3", "--up-to", "3")
    assert res["n_buckets"] == 3
