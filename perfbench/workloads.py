"""The workloads and the operations they run.

An operation is built (the engine entry point is called), executed (the
result is fully collected, the write finished or the stream terminated)
and then checked against its expected output outside the timers. Every
operation drives the engine through a public entry point only.
"""

from __future__ import annotations

import os
import random
import shutil
from statistics import median

from perfbench.digest import CORPUS, digest

# Op lists are subsets of bench.py's HEADLINE + EXTENDED groups, so
# numbers cross-reference. A run pays a JVM start and a cold warm-up pass
# (about twice a warm one) before it times anything, and comparing two
# commits takes a few dozen runs per workload, so each pass is kept near
# 7-10 s on four cores (METRICS.md, "Workloads").
RELATIONAL = [
    "q_pricing_summary", "q_agg_count_distinct", "q_join_broadcast",
    "q_join_sortmerge", "q_win_dedup_latest", "q_topk_global",
    "q_shipping_priority", "q_local_supplier_volume",
]
LLM_SIMILARITY = [
    "q_llm_exact_dedup", "q_llm_near_dedup", "q_llm_embed_dedup",
    "q_llm_knn", "q_llm_lsh_recall", "q_llm_curate_pipeline",
]

# Ingest feed: documents split into FEED_FILES micro-batch files
# (doc_id-ascending chunks, so first-seen keepers equal the batch
# min-doc_id keepers) plus a seeded REIMPORT_FRAC of documents imported
# a second time into the same or a later file.
FEED_FILES = 3
REIMPORT_FRAC = 0.1
COMPACT_EVERY = 2
_FEED_MTIME0 = 1_600_000_000  # file-stream order is by modification time

SINK_PARTITIONS = ("l_returnflag", "l_linestatus")
# the batch exact dedup of the feed, with q_llm_exact_dedup's fingerprint
FEED_DEDUP_SQL = """
SELECT sha256(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp,
       min(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies
FROM read_parquet('{feed}/*.parquet')
GROUP BY fp
"""


class Query:
    """A registered query: build = ``registry()[name].fn``, execute =
    ``collect()``, check = digest against its DuckDB oracle."""

    def __init__(self, name: str):
        from micmac_li3ds_spark import registry

        self.name = name
        self.query = registry.get(name)
        self.oracle = self.query.oracle
        # the operator module the query fn is defined in
        self.module = self.query.fn.__wrapped__.__module__.replace(
            "micmac_li3ds_spark.", ""
        )

    def build(self, ctx):
        return self.query.fn(ctx.spark, CORPUS)

    def execute(self, ctx, df):
        return df.collect()

    def check(self, ctx, df, rows) -> bool:
        return digest(df.columns, rows) == ctx.expected[self.name]


class SinkLineitem:
    """Partitioned zstd parquet sink of lineitem; checked by reading the
    whole sink back as the same multiset as its source."""

    name = "sink_lineitem_parquet"
    module = "sources.sinks"
    oracle = None

    def build(self, ctx):
        from micmac_li3ds_spark.sources.sinks import write_partitioned_parquet
        from micmac_li3ds_spark.tables import load

        src = load(ctx.spark, CORPUS, "lineitem")
        write_partitioned_parquet(
            src, ctx.sink_path, SINK_PARTITIONS, compression="zstd"
        )
        return src

    def execute(self, ctx, src):
        return None

    def check(self, ctx, src, _rows) -> bool:
        from micmac_li3ds_spark.tables import load

        ctx.observed["sink_files"], ctx.observed["sink_bytes"] = _dir_stats(
            ctx.sink_path
        )
        if ctx.sink_source_print is None:
            ctx.sink_source_print = multiset_print(src)
        back = load(ctx.spark, ctx.sink_dir, "lineitem").select(*src.columns)
        return multiset_print(back) == ctx.sink_source_print


def multiset_print(df) -> tuple:
    """Order-insensitive fingerprint of a frame's rows, computed in one
    Spark job: the row count and the sums of two independent row hashes
    (each reduced mod a prime, so the sums cannot overflow)."""
    from pyspark.sql import functions as F

    p = F.lit(2_147_483_647)
    row = df.columns
    return tuple(
        df.agg(
            F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64(*row), p)),
            F.sum(F.pmod(F.hash(*row).cast("long"), p)),
        ).first()
    )


class SinkReadback:
    """Partition-pruned read-back of the sink through ``tables.load``."""

    name = "sink_readback_pruned"
    module = "tables"
    oracle = "SELECT * FROM lineitem WHERE l_returnflag = 'R'"

    def build(self, ctx):
        from pyspark.sql import functions as F

        from micmac_li3ds_spark.tables import load

        df = load(ctx.spark, ctx.sink_dir, "lineitem")
        return df.filter(F.col("l_returnflag") == "R")

    def execute(self, ctx, df):
        return df.collect()

    def check(self, ctx, df, rows) -> bool:
        return digest(df.columns, rows) == ctx.expected[self.name]


class StreamExactDedup:
    """``run_streaming_exact_dedup`` over the seeded feed, one file per
    micro-batch, compacting every COMPACT_EVERY batches. The report
    (``read_exact_dedup``) must equal the batch dedup of the feed."""

    name = "stream_exact_dedup"
    module = "streaming.jobs"
    oracle = None

    def build(self, ctx):
        from micmac_li3ds_spark.streaming import jobs

        base = os.path.join(ctx.run_dir, "stream")
        shutil.rmtree(base, ignore_errors=True)
        self.seen, self.dups = f"{base}/seen", f"{base}/dups"
        stream = (
            ctx.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(ctx.feed_dir)
        )
        return jobs.run_streaming_exact_dedup(
            stream, self.seen, self.dups, f"{base}/checkpoint",
            compact_every=COMPACT_EVERY,
        )

    def execute(self, ctx, query):
        query.awaitTermination()
        return None

    def check(self, ctx, query, _rows) -> bool:
        from micmac_li3ds_spark.streaming import jobs

        progress = [
            p["durationMs"] for p in query.recentProgress if p["numInputRows"] > 0
        ]
        gens = [
            os.path.join(d, g) for d in (self.seen, self.dups)
            for g in _generations(d)
        ]
        ctx.observed.update(
            batches=progress,
            state=_dir_stats(self.seen, self.dups),
            generation_bytes=_dir_stats(*gens)[1],
        )
        report = jobs.read_exact_dedup(ctx.spark, self.seen, self.dups)
        rows = report.collect()
        return (
            len(progress) == FEED_FILES
            and sum(r["n_copies"] for r in rows) == ctx.feed_rows
            and digest(report.columns, rows) == ctx.feed_digest
        )


def _generations(state_dir: str) -> list[str]:
    if not os.path.isdir(state_dir):
        return []
    return [d for d in os.listdir(state_dir) if d.startswith("gen=")]


def _dir_stats(*dirs) -> tuple[int, int]:
    """(data files, bytes) of the parquet part files under ``dirs``."""
    files = size = 0
    for d in dirs:
        for root, _subdirs, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


def compaction_ms(batches) -> float:
    """addBatch time of one stream's folding batches above the median of
    its other batches."""
    adds = [b.get("addBatch", 0) for b in batches]
    plain = [a for i, a in enumerate(adds) if (i + 1) % COMPACT_EVERY]
    base = median(plain) if plain else 0.0
    return sum(
        max(0.0, a - base)
        for i, a in enumerate(adds)
        if (i + 1) % COMPACT_EVERY == 0
    )


def feed_plan(doc_ids, seed: int) -> list[list[int]]:
    """Doc ids per feed file, in file order and in row order."""
    ids = sorted(doc_ids)
    rng = random.Random(f"feed:{seed}")
    bounds = [round(k * len(ids) / FEED_FILES) for k in range(FEED_FILES + 1)]
    files = [ids[bounds[k]:bounds[k + 1]] for k in range(FEED_FILES)]
    home = {d: k for k, chunk in enumerate(files) for d in chunk}
    for d in sorted(rng.sample(ids, round(REIMPORT_FRAC * len(ids)))):
        files[rng.randrange(home[d], FEED_FILES)].append(d)
    for chunk in files:
        rng.shuffle(chunk)
    return files


def write_feed(plan, out_dir: str) -> int:
    """Write the feed files from the corpus documents; returns the row
    count."""
    import pyarrow.parquet as pq

    docs = pq.read_table(
        os.path.join(CORPUS, "documents.parquet"), columns=["doc_id", "text"]
    )
    pos = {d: i for i, d in enumerate(docs.column("doc_id").to_pylist())}
    os.makedirs(out_dir, exist_ok=True)
    for k, ids in enumerate(plan):
        path = os.path.join(out_dir, f"feed-{k:03d}.parquet")
        pq.write_table(docs.take([pos[d] for d in ids]), path)
        os.utime(path, (_FEED_MTIME0 + k, _FEED_MTIME0 + k))
    return sum(len(ids) for ids in plan)


def relational_ingest_units():
    """TPC-H-shaped queries plus the reference's populate-the-store path;
    the sink and its read-back stay adjacent."""
    return [[Query(n)] for n in RELATIONAL] + [
        [Query("q_etl_xml_normalize")],
        [Query("q_etl_explode_block")],
        [SinkLineitem(), SinkReadback()],
        [Query("q_jdbc_roundtrip")],
        [StreamExactDedup()],
    ]


WORKLOADS = {
    "relational_ingest": relational_ingest_units,
    "llm_similarity": lambda: [[Query(n)] for n in LLM_SIMILARITY],
}

