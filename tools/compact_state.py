"""Maintenance CLI for streaming-state generation compaction.

The scheduled counterpart of the jobs' in-stream ``compact_every``
cadence (streaming/compaction.py): fold a state dir's committed
batch=<k> parquet directories (plus the previous generation) into one
new generation of a few large files, bounding file count on a
continuous feed. Safe to run while the stream is live — the default
``up_to`` excludes the highest listed batch id (which may be the
stream's in-flight, not-yet-checkpointed write), readers resolve
generations atomically via commit markers, and the create-exclusive
``_COMPACT_LEASE`` makes a second concurrent compactor fail loudly
instead of racing.

Usage:
    python tools/compact_state.py --dir /lake/state/seen \
        --ddl "fp string, kept_doc_id long" [--num-files N] [--up-to K]
        [--bucket-by COL] [--n-buckets N] [--min-src-batch K]
        [--count-only]

Layout flags: ``--bucket-by``/``--n-buckets`` select the hash-bucketed
generation layout the in-stream cadence writes for its file-pruned
state joins. ``--bucket-by`` without ``--n-buckets`` sizes the bucket
count to the folded state exactly as the in-stream fold does (one
bucket per ``spark.sql.files.maxPartitionBytes``, at most 64); an
explicit ``--n-buckets`` is used as given. When ``--bucket-by`` is
not given, the previous generation's ``_GEN_META`` settings are
reused — so running the CLI on a dir the stream keeps bucketed
(seen/fp, bands/band_key, vectors/cid) preserves the pruning layout
instead of silently rewriting it unbucketed (ADVICE r16 #3). Pass
``--bucket-by ''`` to force an unbucketed rewrite explicitly.

``--min-src-batch K`` is the retention horizon: state rows first
written under a batch id < K are dropped and the count reported
(``dropped_rows``) — bounds state bytes to the deployment's
contamination window. REPLAY CAVEAT: a stream stopped before its
newest batch's checkpoint committed will replay that batch on
restart, and the replay re-reads state. Keep K at or below
(newest batch id − the job's read window) — for a job running
``horizon_batches=H`` that is ``newest − H``, the same one-behind lag
the in-stream cadence applies automatically (code-review r18 #1) —
or confirm the stream's last batch is committed before folding
deeper. Cumulative drops persist in the dir's ``_RETENTION`` record
(``compaction.read_retention``).

``--count-only`` prints the current data-file count and exits — the
observability half (q_audit_small_files measures lake tables; this
measures state dirs).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True, help="state dir (any Hadoop-visible URI)")
    ap.add_argument("--ddl", help="declared row schema, e.g. 'fp string, n long'")
    ap.add_argument("--num-files", type=int, default=None)
    ap.add_argument("--up-to", type=int, default=None)
    ap.add_argument(
        "--bucket-by",
        default=None,
        help="hash-bucket the generation on this column (default: reuse "
        "the previous generation's _GEN_META layout; '' forces unbucketed)",
    )
    ap.add_argument(
        "--n-buckets",
        type=int,
        default=None,
        help="exact bucket count (default: sized to the folded state; "
        "with an inherited layout, the previous generation's count)",
    )
    ap.add_argument(
        "--min-src-batch",
        type=int,
        default=None,
        help="retention horizon: drop state rows with src_batch < K "
        "(dropped count is reported, never silent)",
    )
    ap.add_argument("--count-only", action="store_true")
    args = ap.parse_args()

    from micmac_li3ds_spark.session import get_spark
    from micmac_li3ds_spark.streaming import compaction as C

    spark = get_spark("compact_state")
    if args.count_only:
        print(
            json.dumps(
                {
                    "dir": args.dir,
                    "data_files": C.state_file_count(spark, args.dir),
                }
            )
        )
        return
    if not args.ddl:
        ap.error("--ddl is required unless --count-only")

    # default: inherit the previous generation's layout so a
    # maintenance run cannot silently drop the stream's file-pruning
    # bucketing. Resolved INSIDE compact_state_dir under the fold's
    # lease — a pre-read here could go stale if the in-stream cadence
    # folds between the read and the lease (code-review r17 #3).
    bucket_by = args.bucket_by
    if bucket_by is None:
        bucket_by = C.INHERIT_LAYOUT
    elif bucket_by == "":
        bucket_by = None

    res = C.compact_state_dir(
        spark,
        args.dir,
        args.ddl,
        num_files=args.num_files,
        up_to=args.up_to,
        bucket_by=bucket_by,
        n_buckets=args.n_buckets,
        min_src_batch=args.min_src_batch,
    )
    res["data_files_after"] = C.state_file_count(spark, args.dir)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
