"""Generation compaction for by-batch-id streaming state directories.

Every streaming job in this package externalizes its accumulated state
as ``<dir>/batch=<k>/part-*.parquet`` — one directory per micro-batch,
written mode=overwrite so a WAL replay is idempotent. On a continuous
feed that layout is O(batches) in FILE COUNT: a year of 30-second
micro-batches is ~1M directories per state dir, and every per-batch
semi-join against the accumulated state must list and plan all of them
— the classic small-files death q_audit_small_files exists to measure
(r15 verdict item 4 named this the one scale gap the streaming family
opened).

``compact_state_dir`` folds the committed batch directories (and the
previous generation, if any) into ONE new generation directory
``<dir>/gen=<g>`` of a few large files, with the same write-then-commit
marker discipline as :class:`~micmac_li3ds_spark.functions.iterate.
DurableLoopState`:

  * the generation's rows carry an extra ``src_batch`` column — the
    batch id each row was first written under. This is what keeps the
    replay-correctness contract exact: ``_read_or_empty(...,
    before_batch=b)`` (state must be STRICTLY EARLIER than the batch
    being processed — the exact-dedup WAL-replay rule) filters the
    generation on ``src_batch < b``, which is bit-identical to the
    batch-dir pruning it replaces.
  * write ``gen=<g>`` first (mode=overwrite — a crashed attempt is
    simply overwritten), THEN create the empty marker
    ``<dir>/_GEN_COMMIT_<g>_<up_to>``. A generation without its marker
    is invisible to readers; marker creation is the atomic commit
    point, and its name records ``up_to`` — readers include only batch
    dirs with ``k >= up_to``, so a crash between commit and prune can
    never double-count a folded batch (the leftover dir is garbage,
    ignored by every reader, removed by the next compaction).
  * prune AFTER the commit: delete the folded ``batch=<k>`` dirs
    (k < up_to) and the superseded older generations + markers.

Readers resolve state as: newest committed generation (if any) +
batch dirs ``k >= up_to`` — see ``resolve_state`` /
``jobs._read_or_empty``. Everything goes through the Hadoop FileSystem
API resolved from the state dir's own scheme, so compaction works on
the object-storage layouts (s3a://, hdfs://) the jobs advertise.

Concurrency contract: one compactor per state dir at a time — and the
contract is ENFORCED, not just documented (r16 verdict item 2): every
fold takes a create-exclusive ``_COMPACT_LEASE`` file for its duration
(a second compactor fails loudly instead of racing), and ``list_state``
refuses loudly if it ever finds two commit markers for one generation
(the observable damage a historical race could have left — ``up_to``
must never depend on listing order). Compacting MID-FEED is safe with
respect to the stream itself: an EXTERNAL fold's default ``up_to``
excludes the highest listed batch id (which may be the stream's
in-flight, not-yet-checkpointed foreachBatch write — folding a partial
dir and pruning it post-commit would lose that batch's replayed state
rows behind the committed boundary), and the in-stream ``auto_compact``
cadence pins ``up_to`` to its own just-written batch + 1, which IS safe
to fold because a crash-replay of that batch reads strictly-earlier
state and rewrites only invisible garbage.

At 100 TB: state rows are small relative to the corpus (fingerprints,
band keys, vectors), so a generation re-write is a seconds-to-minutes
parallel job; ``num_files`` sizes the output (defaults to one file per
``spark.sql.shuffle.partitions`` worth of input dirs, min 1 — callers
with byte-size targets pass an explicit count). A BUCKETED generation
is sized to the bytes it folds: ``ceil(folded_bytes /
spark.sql.files.maxPartitionBytes)`` buckets, clamped to
[1, ``MAX_BUCKETS``], where ``folded_bytes`` is the previous
generation plus the folded batch dirs (one Hadoop
``getContentSummary`` per dir, no Spark job). At scale that reaches the
64-bucket ceiling; at small state it is one bucket. A fixed 64 cost a
fold over ~100 KB of state 64 write tasks, two 63-path distributed
listing jobs and ~450 forked ``chmod`` processes (Hadoop's local
filesystem without native IO forks one per created file and dir),
about half the forks of a 3-batch exact-dedup stream. File
count after compaction is num_files (or the bucket count) + O(batches
since last compaction), bounded by compaction cadence instead of feed
lifetime.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

SRC_BATCH_COL = "src_batch"
BUCKET_COL = "pb"
#: ceiling of the state-sized bucket count (``_sized_buckets``)
MAX_BUCKETS = 64
LEASE_NAME = "_COMPACT_LEASE"
RETENTION_NAME = "_RETENTION"
#: bucket_by sentinel: adopt the previous generation's _GEN_META layout
#: (resolved under the fold's lease, never from a stale pre-read)
INHERIT_LAYOUT = "__inherit__"
_GEN_RE = re.compile(r"^gen=(\d+)$")
_MARKER_RE = re.compile(r"^_GEN_COMMIT_(\d+)_(\d+)$")


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def bucket_expr(col_name: str, n_buckets: int):
    """The writer/reader-shared bucket function: stable across
    sessions (xxhash64 is a fixed algorithm, not a seeded runtime
    hash), so buckets computed at read time match the layout written
    at compaction time."""
    return F.pmod(F.xxhash64(F.col(col_name)), F.lit(n_buckets)).cast("int")


def _sized_buckets(spark, fs, dirs) -> int:
    """Bucket count for a generation folding ``dirs``: one bucket per
    ``spark.sql.files.maxPartitionBytes`` of their summed bytes, in
    [1, MAX_BUCKETS]. The per-bucket size is the same setting that
    sizes a scan's input splits, so one bucket is one read task."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    folded = sum(fs.getContentSummary(Path(d)).getLength() for d in dirs)
    per_bucket = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    return min(MAX_BUCKETS, max(1, -(-folded // per_bucket)))


def _empty_state(spark: SparkSession, ddl: str) -> DataFrame:
    """Zero-row frame of the declared schema, planned on the JVM:
    ``spark.range(0)`` projected to typed null literals, so it starts
    no Python worker (a frame from an empty Python list cost a
    stream's batch 0 one worker per default-parallelism task, ~1.4 s
    on 4 cores) and the optimizer folds a join against it away.
    Columns are nullable, exactly as a file-source read of the same
    DDL declares them."""
    schema = _parse_datatype_string(ddl)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _write_meta(spark, fs, path: str, g: int, meta: dict) -> None:
    import json

    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    out = fs.create(Path(f"{path}/_GEN_META_{g}"), True)
    out.write(bytearray(json.dumps(meta).encode()))
    out.close()


def _read_meta(spark, path: str, g: int) -> "dict | None":
    """Bucketing metadata of generation ``g`` ({'bucket_by', 
    'n_buckets'}), or None for an unbucketed generation. Written
    BEFORE the commit marker, so a committed generation's meta is
    always present when it exists at all."""
    import json

    fs, _ = _fs(spark, path)
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_GEN_META_{g}")
    if not fs.exists(p):
        return None
    # readFullyToByteArray mutates JVM-side and returns the array,
    # which py4j maps back cleanly (a positional readFully into a
    # gateway-created array does not round-trip the mutation)
    return json.loads(_read_small_file(spark, fs, p).decode())


def list_state(spark: SparkSession, path: str):
    """One listing pass over a state dir. Returns
    ``(batches, gens, markers)`` where ``batches`` maps batch id →
    dir URI, ``gens`` maps generation id → dir URI (committed or not),
    and ``markers`` maps generation id → up_to for COMMITTED
    generations. Missing dir → all empty.

    Refuses loudly on two commit markers for ONE generation: that state
    can only be left by two compactors racing in violation of the lease
    contract, and silently picking either marker would make ``up_to``
    (hence which batch dirs readers include) depend on listing order —
    readers could nondeterministically double-count or drop a folded
    batch. The operator must inspect the dir and delete the marker
    whose ``up_to`` does not match the generation's contents."""
    fs, hpath = _fs(spark, path)
    batches: dict[int, str] = {}
    gens: dict[int, str] = {}
    markers: dict[int, int] = {}
    if not fs.exists(hpath):
        return batches, gens, markers
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            batches[int(name.split("=", 1)[1])] = st.getPath().toString()
        elif st.isDirectory() and (m := _GEN_RE.match(name)):
            gens[int(m.group(1))] = st.getPath().toString()
        elif (m := _MARKER_RE.match(name)) is not None:
            g = int(m.group(1))
            if g in markers and markers[g] != int(m.group(2)):
                raise RuntimeError(
                    f"duplicate commit markers for generation {g} in "
                    f"{path}: _GEN_COMMIT_{g}_{markers[g]} and {name} — "
                    "two compactors raced; refusing to guess which "
                    "up_to boundary is real"
                )
            markers[g] = int(m.group(2))
    return batches, gens, markers


def newest_generation(gens: dict, markers: dict):
    """(gen_id, dir URI, up_to) of the newest COMMITTED generation, or
    None. A gen dir without its marker is an uncommitted crash leftover
    and is never read."""
    committed = [g for g in markers if g in gens]
    if not committed:
        return None
    g = max(committed)
    return g, gens[g], markers[g]


def resolve_state(
    spark: SparkSession,
    path: str,
    ddl: str,
    before_batch: "int | None" = None,
    prune_keys: "DataFrame | None" = None,
    min_src_batch: "int | None" = None,
) -> DataFrame:
    """Generation-aware accumulated-state read: the newest committed
    generation (rows filtered to ``src_batch < before_batch`` when
    set) unioned with the live batch dirs ``k >= up_to`` (same
    ``before_batch`` pruning). Declared schema throughout; empty frame
    of the declared schema when nothing exists yet.

    ``prune_keys`` — a ONE-column DataFrame of the join keys this read
    will be matched against. When the newest generation is BUCKETED on
    that column (compact_state_dir's ``bucket_by``), the generation
    scan is partition-pruned to the keys' hash buckets: the distinct
    bucket ids (≤ n_buckets integers) are computed executor-side and
    collected, and only matching ``pb=<b>`` directories are listed and
    read — per-batch I/O scales with the batch's touched buckets, not
    the accumulated state size (SCALE.md §13's file-pruning layout).
    Correctness-neutral by construction: the filter keeps a SUPERSET
    of every row that can match a key (same hash, same modulus), and
    is silently skipped when the generation is unbucketed, bucketed
    on a different column, or has ONE bucket (the filter would keep
    every row, so the bucket-collecting job is not run).

    ``min_src_batch`` — the READ side of the retention horizon
    (code-review r18 #1): rows first written before it are excluded
    (generation rows by ``src_batch``, live dirs by batch id). Jobs
    with a horizon derive it from their OWN batch id, so a WAL replay
    reads exactly the window the original run read REGARDLESS of fold
    timing — without this, a fold inside batch b that drops state and
    commits before b's checkpoint would make b's replay recompute
    fewer pairs and mode=overwrite away already-emitted output rows."""
    batches, gens, markers = list_state(spark, path)
    newest = newest_generation(gens, markers)
    up_to = newest[2] if newest else 0

    parts: list[DataFrame] = []
    if newest is not None:
        meta = _read_meta(spark, path, newest[0])
        gen_ddl = f"{ddl}, {SRC_BATCH_COL} long"
        if meta is not None:
            gen_ddl += f", {BUCKET_COL} int"
        gen = spark.read.schema(gen_ddl).parquet(newest[1])
        if (
            meta is not None
            and meta["n_buckets"] > 1
            and prune_keys is not None
            and prune_keys.columns == [meta["bucket_by"]]
        ):
            buckets = [
                r[0]
                for r in prune_keys.select(
                    bucket_expr(meta["bucket_by"], meta["n_buckets"]).alias(
                        "b"
                    )
                )
                .distinct()
                .collect()
            ]
            gen = gen.filter(F.col(BUCKET_COL).isin(buckets))
        if meta is not None:
            gen = gen.drop(BUCKET_COL)
        if before_batch is not None:
            gen = gen.filter(F.col(SRC_BATCH_COL) < before_batch)
        if min_src_batch is not None:
            gen = gen.filter(F.col(SRC_BATCH_COL) >= min_src_batch)
        parts.append(gen.drop(SRC_BATCH_COL))
    live = [
        uri
        for k, uri in batches.items()
        if k >= up_to
        and (before_batch is None or k < before_batch)
        and (min_src_batch is None or k >= min_src_batch)
    ]
    if live:
        parts.append(spark.read.schema(ddl).parquet(*live))
    if not parts:
        return _empty_state(spark, ddl)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_small_file(spark, fs, p) -> bytes:
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        return bytes(
            jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
        )
    finally:
        stream.close()


def _acquire_lease(spark, fs, path: str, owner: "str | None" = None):
    """Atomically create ``_COMPACT_LEASE`` WITH its content — the
    enforced single-compactor contract. The token is written to a
    uniquely-named sidecar temp file first and then ``fs.rename``-d to
    the lease name; rename-onto-existing fails on HDFS and local FS, so
    a second compactor gets a loud error, never a silent race — and a
    lease, once visible, is never observably empty (ADVICE r17 #1: the
    old create-then-write left the CLI's ownerless lease empty for the
    fold's whole duration, indistinguishable from a crash stub, so a
    concurrent owner-bearing compactor would break a LIVE lease).

    ``owner`` is the self-healing seam for compactors whose IDENTITY
    guarantees no concurrent twin: the in-stream ``auto_compact`` passes
    its stream's checkpoint path (Spark's checkpoint lock ensures one
    running instance per checkpoint), so a lease left by a process
    DEATH of the SAME stream is recognized by its recorded owner and
    broken automatically on replay — without this, a SIGKILL mid-fold
    would wedge the restarted stream in a raise-replay loop forever
    (code-review r17 #1). That contract makes owner UNIQUENESS
    load-bearing (self-heal is read-then-delete-then-create, not
    atomic): two live processes claiming the same owner could both
    break a dead predecessor and both acquire. Callers MUST pass an
    owner only when some external lock (Spark's checkpoint lock)
    guarantees at most one live process per owner value; empty or
    blank owners are refused outright, and
    tests/test_round18_compaction.py pins both behaviors. An
    owner-bearing caller also breaks an EMPTY lease — with atomic
    creation that can only be a pre-atomic-era crash stub, never a
    live compactor. Ownerless callers (the maintenance CLI) get a
    unique anonymous token, so their live lease is never breakable by
    anyone, and they never self-heal: a foreign or unreadable lease
    always raises with recovery instructions, because two
    default-identity CLIs racing must not break each other."""
    import uuid

    if owner is not None and not owner.strip():
        raise ValueError(
            "lease owner must be a non-empty unique identity (e.g. the "
            "stream's checkpoint path); got an empty/blank string — an "
            "empty lease is reserved for crash stubs and a shared blank "
            "owner would let two compactors self-heal each other"
        )
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    p = Path(f"{path}/{LEASE_NAME}")
    token = owner if owner is not None else f"anon:{uuid.uuid4().hex}"
    tmp = Path(f"{path}/.{LEASE_NAME}.tmp.{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    out.write(bytearray(token.encode()))
    out.close()
    try:
        for attempt in (0, 1, 2):
            if fs.rename(tmp, p):
                return p
            holder: "bytes | None" = None
            if not fs.exists(p):
                # released between our failed rename and this check (a
                # finishing compactor's normal delete) — retry instead
                # of raising for a now-free dir (ADVICE r17 #2)
                if attempt < 2:
                    continue
            else:
                try:
                    holder = _read_small_file(spark, fs, p)
                except Exception:
                    pass  # vanished under the read, or unreadable
                if (
                    attempt == 0
                    and owner is not None
                    and holder is not None
                    and holder in (b"", owner.encode())
                ):
                    # our own dead predecessor (or a pre-atomic-era
                    # create-crash stub): break and retry the rename
                    fs.delete(p, False)
                    continue
            raise RuntimeError(
                f"compaction lease already held for {path} "
                f"({LEASE_NAME} exists"
                + (
                    f", owner {holder.decode(errors='replace')!r}"
                    if holder
                    else ""
                )
                + "): another compactor is running, or one died "
                "mid-fold — confirm no compactor is live, then delete "
                "the lease file to recover"
            )
        raise AssertionError("unreachable")  # pragma: no cover
    finally:
        fs.delete(tmp, False)  # no-op when the rename consumed it


def compact_state_dir(
    spark: SparkSession,
    path: str,
    ddl: str,
    num_files: "int | None" = None,
    up_to: "int | None" = None,
    bucket_by: "str | None" = None,
    n_buckets: "int | None" = None,
    min_src_batch: "int | None" = None,
    lease_owner: "str | None" = None,
) -> dict:
    """Fold committed batch dirs (k < ``up_to``) and the previous
    generation into one new generation. ``up_to`` defaults to the max
    LIVE batch id present (exclusive) — the highest listed dir is
    deliberately NOT folded, because on a live stream it may be the
    in-flight foreachBatch write whose checkpoint has not committed:
    folding a partial dir and pruning it would strand that batch's
    WAL-replay rewrite behind the committed boundary (ADVICE r16 #1).
    Callers that KNOW the boundary (the in-stream ``auto_compact``,
    which just finished writing batch B) pass ``up_to`` explicitly.
    Returns a summary dict; {"folded_batches": 0, ...} is the no-op
    case (nothing new to fold).

    ``min_src_batch`` — optional retention horizon (r16 verdict item
    6): state rows whose ``src_batch`` is STRICTLY BELOW it are dropped
    during the fold, and the count is reported as ``dropped_rows`` in
    the summary (the no-silent-caps pattern). This bounds state BYTES
    (compaction alone bounds only file count — exact-dedup first-seen
    fingerprints and LSH band state otherwise grow with feed lifetime)
    at the documented cost: a duplicate of a document first seen before
    the horizon is re-admitted. A 100-TB deployment sets the horizon to
    its contamination window.

    ``bucket_by`` writes the generation HASH-BUCKETED on that column:
    partitioned ``pb=<bucket_expr(col)>`` directories, one data file
    per occupied bucket (rows are repartitioned on the bucket id
    before the write, so a bucket's rows land in exactly one task).
    This is the production layout SCALE.md §13 argues for — the
    per-batch semi-joins prune to the touched buckets' files via
    ``resolve_state(prune_keys=...)``. The bucketing metadata rides a
    ``_GEN_META_<g>`` file written before the commit marker; each
    fold re-clusters the whole state, so changing ``bucket_by`` or
    ``n_buckets`` between folds is safe (the newest generation's meta
    is the only one readers consult). ``n_buckets`` is exact when
    given; when None the count is sized to the state the fold reads
    (the previous generation plus the folded batch dirs): one bucket
    per ``spark.sql.files.maxPartitionBytes``, in [1, MAX_BUCKETS] —
    a fixed 64 made every small-state fold pay 64 write tasks, two
    distributed listings and ~450 ``chmod`` forks (module docstring).
    ``num_files`` is ignored when bucketing (layout is per-bucket).
    ``bucket_by=INHERIT_LAYOUT`` adopts the previous generation's
    ``_GEN_META`` settings (an explicit ``n_buckets`` still wins; plain
    when there is no meta) — resolved UNDER the lease, so a concurrent
    fold cannot change the layout between the decision and the write
    (code-review r17 #3). ``lease_owner`` — see ``_acquire_lease``."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return {"generation": None, "folded_batches": 0, "up_to": 0}
    lease = _acquire_lease(spark, fs, path, owner=lease_owner)
    try:
        return _compact_under_lease(
            spark, fs, path, ddl, num_files, up_to, bucket_by,
            n_buckets, min_src_batch,
        )
    finally:
        fs.delete(lease, False)


def _compact_under_lease(
    spark, fs, path, ddl, num_files, up_to, bucket_by, n_buckets,
    min_src_batch,
) -> dict:
    batches, gens, markers = list_state(spark, path)
    newest = newest_generation(gens, markers)
    prev_up_to = newest[2] if newest else 0
    if bucket_by == INHERIT_LAYOUT:
        meta = (
            _read_meta(spark, path, newest[0]) if newest is not None else None
        )
        bucket_by = meta["bucket_by"] if meta is not None else None
        if meta is not None and n_buckets is None:
            n_buckets = meta["n_buckets"]
    if up_to is None:
        # exclude the highest live id: on a live stream it may be the
        # in-flight, not-yet-checkpointed foreachBatch write
        live_ids = [k for k in batches if k >= prev_up_to]
        up_to = max(live_ids) if live_ids else prev_up_to
    if up_to < prev_up_to:
        raise ValueError(
            f"up_to={up_to} would roll back the committed generation "
            f"boundary {prev_up_to}"
        )
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    # GC batch dirs already behind the committed boundary: leftovers of
    # a crash between a previous commit and its prune, or of a
    # fresh-checkpoint WAL replay rewriting folded ids — invisible to
    # every reader, safe to remove at any time
    for k, uri in list(batches.items()):
        if k < prev_up_to:
            fs.delete(Path(uri), True)
            del batches[k]
    fold = {k: uri for k, uri in batches.items() if prev_up_to <= k < up_to}
    if not fold:
        return {
            "generation": newest[0] if newest else None,
            "folded_batches": 0,
            "up_to": prev_up_to,
        }

    gen_ddl = f"{ddl}, {SRC_BATCH_COL} long"
    parts = []
    if newest is not None:
        prev_meta = _read_meta(spark, path, newest[0])
        prev_ddl = gen_ddl + (
            f", {BUCKET_COL} int" if prev_meta is not None else ""
        )
        prev = spark.read.schema(prev_ddl).parquet(newest[1])
        if prev_meta is not None:
            prev = prev.drop(BUCKET_COL)
        parts.append(prev)
    for k in sorted(fold):
        parts.append(
            spark.read.schema(ddl)
            .parquet(fold[k])
            .withColumn(SRC_BATCH_COL, F.lit(k))
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)

    dropped_rows = None
    if min_src_batch is not None:
        # retention horizon: count what we drop (no silent caps) —
        # state is small relative to the corpus, the extra scan is a
        # deliberate observability cost
        dropped_rows = merged.filter(
            F.col(SRC_BATCH_COL) < F.lit(min_src_batch)
        ).count()
        merged = merged.filter(F.col(SRC_BATCH_COL) >= F.lit(min_src_batch))

    new_g = (newest[0] + 1) if newest else 0
    gen_dir = f"{path}/gen={new_g}"
    if bucket_by is not None:
        if n_buckets is None:
            read = ([newest[1]] if newest else []) + list(fold.values())
            n_buckets = _sized_buckets(spark, fs, read)
        merged = merged.withColumn(
            BUCKET_COL, bucket_expr(bucket_by, n_buckets)
        )
        # one data file per occupied bucket: hash-repartition on the
        # bucket id so each bucket's rows sit in exactly one task
        merged = merged.repartition(n_buckets, F.col(BUCKET_COL))
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
            gen_dir
        )
        _write_meta(
            spark,
            fs,
            path,
            new_g,
            {"bucket_by": bucket_by, "n_buckets": n_buckets},
        )
    else:
        if num_files is None:
            shuffle = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
            num_files = max(1, len(fold) // max(1, shuffle))
        merged.coalesce(num_files).write.mode("overwrite").parquet(gen_dir)
        # a CRASHED bucketed attempt at this same generation id left a
        # _GEN_META_<g>; committing an unbucketed retry under it would
        # make readers declare an all-NULL pb column and prune-reads
        # filter out the whole generation (ADVICE r16 #2)
        stale_meta = Path(f"{path}/_GEN_META_{new_g}")
        if fs.exists(stale_meta):
            fs.delete(stale_meta, False)
    # COMMIT: marker creation is the atomic visibility point —
    # create-exclusive, so a marker that somehow already exists (a
    # lease-contract violation) fails the fold instead of silently
    # replacing a committed boundary
    fs.create(Path(f"{path}/_GEN_COMMIT_{new_g}_{up_to}"), False).close()

    # prune AFTER commit — a crash anywhere below leaves only garbage
    # that readers already ignore and the next compaction removes
    for k in sorted(fold):
        fs.delete(Path(fold[k]), True)
    for g, uri in gens.items():
        if g < new_g:
            # marker first: an unmarked gen dir is invisible, so the
            # intermediate state after a crash here stays consistent
            if g in markers:
                fs.delete(
                    Path(f"{path}/_GEN_COMMIT_{g}_{markers[g]}"), False
                )
            fs.delete(Path(f"{path}/_GEN_META_{g}"), False)
            fs.delete(Path(uri), True)
    out = {
        "generation": new_g,
        "folded_batches": len(fold),
        "up_to": up_to,
    }
    if bucket_by is not None:
        out["bucket_by"] = bucket_by
        out["n_buckets"] = n_buckets
    else:
        out["num_files"] = num_files
    if dropped_rows is not None:
        out["dropped_rows"] = dropped_rows
        out["min_src_batch"] = min_src_batch
        # durable no-silent-caps record: the in-stream cadence discards
        # the summary dict, so horizon drops also accumulate in ONE
        # _RETENTION file (under the lease — no concurrent writer).
        # Written AFTER the commit marker: a crash in between
        # undercounts (at-most-once), never double-counts a replayed
        # fold's drops.
        _write_retention(
            spark, fs, path, new_g, min_src_batch, dropped_rows
        )
    return out


def _write_retention(spark, fs, path, g, min_src_batch, dropped_rows):
    """Overwrite the cumulative record via tmp + delete + rename — the
    same never-observably-truncated discipline as the lease
    (code-review r18 #3: a bare overwrite-create killed mid-write left
    an unparseable file that wedged every later horizon fold). A crash
    mid-sequence leaves the old file, no file, or the new file — a
    LOST file costs the cumulative history (documented undercount),
    never a wedge. Runs under the fold's lease: no concurrent writer."""
    import json
    import uuid

    prev = read_retention(spark, path) or {"dropped_total": 0}
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    p = Path(f"{path}/{RETENTION_NAME}")
    tmp = Path(f"{path}/.{RETENTION_NAME}.tmp.{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    out.write(
        bytearray(
            json.dumps(
                {
                    "dropped_total": prev["dropped_total"] + dropped_rows,
                    "last": {
                        "generation": g,
                        "min_src_batch": min_src_batch,
                        "dropped_rows": dropped_rows,
                    },
                }
            ).encode()
        )
    )
    out.close()
    fs.delete(p, False)
    if not fs.rename(tmp, p):  # pragma: no cover - lease excludes races
        fs.delete(tmp, False)
        raise RuntimeError(
            f"could not publish {RETENTION_NAME} for {path}: rename "
            "refused — another writer is violating the lease contract"
        )


def read_retention(spark: SparkSession, path: str) -> "dict | None":
    """The state dir's cumulative retention-horizon record:
    ``{"dropped_total": N, "last": {"generation", "min_src_batch",
    "dropped_rows"}}``, or None when no horizon fold has ever run.
    This is how an operator audits what a contamination window has
    aged out of a LIVE stream's matching state (the fold summaries the
    in-stream cadence produces are not otherwise observable). A
    pre-atomic-era truncated file reads as None (fresh start — the
    named recoverable condition, never a wedge)."""
    import json

    fs, _ = _fs(spark, path)
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        f"{path}/{RETENTION_NAME}"
    )
    if not fs.exists(p):
        return None
    try:
        return json.loads(_read_small_file(spark, fs, p).decode())
    except ValueError:
        return None


def auto_compact(
    spark: SparkSession,
    specs: "list[tuple]",
    batch_id: int,
    every: "int | None",
    owner: "str | None" = None,
    horizon_batches: "int | None" = None,
) -> "list[dict]":
    """In-stream compaction cadence: called at the END of a job's
    foreachBatch body with the job's (state_dir, ddl[, bucket_by])
    triples (bucket_by → hash-bucketed generation layout for the
    pruned semi-join reads), folds all
    committed batches every ``every`` micro-batches (no-op when
    ``every`` is None). Safe inside the batch that also wrote state: a
    crash between this fold and the checkpoint commit replays the
    batch, whose strictly-earlier reads filter the generation on
    src_batch and whose rewritten (now-folded) batch dir is invisible
    garbage the next fold GCs — the exact crash states the compaction
    unit tests pin. ``up_to`` is pinned to this batch id + 1 so a
    concurrent listing anomaly can never fold a FUTURE batch's
    replay-pending write.

    ``owner`` should be the stream's checkpoint path: it makes the
    fold's lease self-healing across a process DEATH of the same
    stream (Spark's checkpoint lock guarantees one running instance
    per checkpoint, so a lease recording our own checkpoint can only
    be a dead predecessor's — see ``_acquire_lease``). Jobs pass it;
    without it a SIGKILL mid-fold would wedge the replayed stream in
    a lease-refusal loop.

    ``horizon_batches`` — the in-stream retention horizon (r17 verdict
    item 5): specs whose 4th element is True (the job's MATCHING-state
    dirs — exact-dedup fingerprints, LSH shingle/band state, SemDeDup
    vectors; never its emitted output logs) fold with
    ``min_src_batch = batch_id - horizon_batches`` — ONE BATCH BEHIND
    the jobs' read-side window (resolve_state's ``min_src_batch``),
    so the still-uncommitted batch's WAL replay reads exactly what its
    original run read (code-review r18 #1); state retains
    horizon_batches + 1 batches. Drops are reported in the returned
    summaries AND accumulated durably in the dir's ``_RETENTION`` file
    (``read_retention``) — the no-silent-caps pattern for a fold whose
    caller is a foreachBatch body that discards return values. A
    100-TB deployment sets this to its contamination window; the
    documented cost is that a duplicate of a document first seen
    before the horizon is re-admitted."""
    if horizon_batches is not None and horizon_batches < 1:
        # 0 is NOT "disabled" (that is None): min_src would equal the
        # fold's own up_to and every row including the current batch's
        # would silently age out at each fold — refuse loudly, the
        # module's every-anomaly-raises posture
        raise ValueError(
            f"horizon_batches must be >= 1 (got {horizon_batches}); "
            "pass None to disable the retention horizon"
        )
    if every is None or every < 1 or (batch_id + 1) % every != 0:
        return []
    out = []
    for spec in specs:
        path, ddl = spec[0], spec[1]
        bucket_by = spec[2] if len(spec) > 2 else None
        bounded = bool(spec[3]) if len(spec) > 3 else False
        _batches, gens, markers = list_state(spark, path)
        newest = newest_generation(gens, markers)
        if newest is not None and newest[2] >= batch_id + 1:
            # WAL replay of an already-folded batch: the boundary has
            # moved past us; folding again would be a rollback — skip
            continue
        # ONE BATCH BEHIND the read window (code-review r18 #1): the
        # fold runs inside batch b, BEFORE b's checkpoint commits, so
        # b may still replay — and its replay reads min_src_batch =
        # b - horizon (the read-side horizon in resolve_state). Keeping
        # src_batch >= b - horizon guarantees the replay sees exactly
        # what the original run saw; state therefore retains
        # horizon_batches + 1 batches, the matching window plus the
        # in-flight batch's replay needs.
        min_src = (
            max(0, batch_id - horizon_batches)
            if bounded and horizon_batches is not None
            else None
        )
        res = compact_state_dir(
            spark, path, ddl, up_to=batch_id + 1, bucket_by=bucket_by,
            lease_owner=owner, min_src_batch=min_src,
        )
        res["path"] = path
        out.append(res)
    return out


def state_file_count(spark: SparkSession, path: str) -> int:
    """Data-file count across the state dir (the quantity compaction
    bounds) — parquet part files in batch dirs and generations; markers
    and _SUCCESS excluded."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return 0
    n = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(".parquet") or (
            name.startswith("part-") and not name.endswith(".crc")
        ):
            n += 1
    return n
