"""Structured Streaming ingest — the Spark-native answer to the
reference's insert-trigger append path (columnar_store_insert_trigger,
imcs.c:4617-4812, and TABLE_append with ascending-timestamp
enforcement, imcs.c:4299-4300).

The reference appends row-by-row under a writer lock. Here a stream
(file source, rate source, Kafka, ...) is appended micro-batch-wise to
a Parquet-backed series table via foreachBatch; each batch is checked
for timestamp monotonicity against the running per-series maximum —
the same out-of-order rejection, but batched and parallel. Late data
can alternatively be *watermarked* away instead of erroring, which the
reference cannot express (SURVEY §2.8: it has no watermarks).
"""

from __future__ import annotations

import hashlib
import threading
import uuid

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

# All engine-spawned worker threads (the per-batch append worker, the
# concurrent cells/sigs sub-table writers) use InheritableThread, not
# threading.Thread: under PySpark's pinned-thread mode every Python
# thread gets a DEDICATED JVM thread that is only released when
# InheritableThread's wrapper runs at exit — a plain Thread leaks one
# ~1 MB-stack JVM thread per spawn, i.e. three per micro-batch for the
# life of a stream. InheritableThread also inherits the parent's local
# properties (job group, scheduler pool), so cancelling the streaming
# query cancels these jobs with it (round-12 review finding).


# --------------------------------------------------------------------- #
# Versioned parquet side-table protocol, shared by append_stream and
# near_dedup_stream: one state snapshot per micro-batch
# ({side}/v{batch_id}, overwrite-written so _SUCCESS marks a complete
# snapshot), read newest-usable-first, GC'd down to {fallback, newest}
# after each batch.  All probes go through the Hadoop FileSystem API so
# the protocol works on any scheme (s3a://, hdfs://, file:) — os.path
# would be local-only and would silently disable the checks on remote
# storage.
# --------------------------------------------------------------------- #


def _hfs(spark, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _data_exists(spark, path: str) -> bool:
    """Data-table probe: plain existence. A legitimate table may lack
    _SUCCESS (markers can be disabled at write time); treating it as
    absent would silently skip the first-batch state derivation."""
    fs, hpath, _ = _hfs(spark, path)
    return bool(fs.exists(hpath))


def _write_snapshot(spark, df, path: str, n_files: int | None = 8) -> None:
    """Write a state snapshot and stamp the protocol's OWN commit
    marker (_COMMITTED). Snapshot reads must not depend on Hadoop's
    _SUCCESS alone: with mapreduce.fileoutputcommitter.marksuccessfuljobs
    =false (a common object-store tuning) _SUCCESS never appears and a
    marker-gated protocol would silently ignore every snapshot it
    itself wrote — the replay protection would be inert.

    n_files=8 suits small state (per-series maxes); pass None to keep
    the plan's own parallelism for state that grows with the corpus
    (the LSH bucket table) — coalesce(8) there would funnel the whole
    reduce side through 8 tasks."""
    w = df if n_files is None else df.coalesce(n_files)
    w.write.mode("overwrite").parquet(path)
    fs, _, jvm = _hfs(spark, path)
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{path}/_COMMITTED"), True).close()


def _write_state(
    spark, cells: DataFrame, sigs: DataFrame, path: str,
    n_files: int | None = None, sort: bool = False,
) -> None:
    """Write one near-dedup state version in the SPLIT layout (v2):

      {path}/cells  — (band, bucket, hub_id): the narrow collision
                      probe — what every batch scans
      {path}/sigs   — (hub_id, mh_0..mh_{H-1}): ONE row per hub doc
                      (not per cell), read only under sim_threshold
                      and only for the batch's collided hubs

    vs the v1 flat layout (band, bucket, hub_id, mh_*) this cuts the
    per-batch state-read bytes ~6-8x: the signature longs — `bands`
    copies per hub in v1 — are stored once per hub and never decoded
    by the collision probe. Written zstd-compressed; with sort=True
    (compaction-time snapshots) cells are range-sorted BUCKET-major
    so the bucket column's row-group/page stats are tight — a small batch's IN-pushdown probe (see handle_batch) then
    skips most pages instead of scanning the corpus. Deltas only get a
    within-partition sort (no shuffle; an O(batch) write must not pay
    a corpus-shaped exchange).

    The version-level _COMMITTED marker is stamped only after BOTH
    sub-tables land, and the target dir is cleared first: subdir
    overwrite does not clear a parent-level marker or v1 flat part
    files the way v1's flat overwrite did, and a crash between the two
    writes must not leave a committed-looking half-version. Clearing
    only _COMMITTED is NOT enough (round-10 review): a v1 dir being
    overwritten in place (upgrade replay) also carries Hadoop's
    _SUCCESS at the version-dir level, which _committed() accepts — a
    crash after the cells write would leave cells/ + stale _SUCCESS +
    stale flat files, a committed-looking half-version that wedges
    every later read on the missing sigs/. The full recursive delete
    is safe: no _write_state target is ever an input of its own write
    (replays read only versions < batch_id; pre/derived snapshots are
    rebuilt from the target table), and an interrupted overwrite was
    already a to-be-replayed state."""
    fs, _, jvm = _hfs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    fs.delete(P(path), True)
    # ORDER MATTERS (round-10 review findings): repartitionByRange
    # only RANGE-PARTITIONS — rows inside each partition stay unsorted,
    # and a coalesce AFTER a sortWithinPartitions concatenates sorted
    # runs back into unsorted files. So: partition/coalesce first,
    # sort within partitions LAST. And the sort is BUCKET-major, not
    # (band, bucket): the trickle fast path pushes an IN predicate on
    # `bucket` alone, and under band-major ordering every band resets
    # the bucket range, so a row group holding 2+ bands spans most of
    # the 64-bit bucket space and nothing skips (measured: median
    # row-group span 0.25, max ~1.0 of the range under band-major vs
    # ~1/n_groups under bucket-major). The collision probe is a hash
    # join — layout-agnostic — so bucket-major costs nothing else.
    # Compression is asymmetric by READ frequency (round 11): the
    # snapshot (sort=True, corpus-scale) is DECODED by every subsequent
    # micro-batch's collision probe + hub fetch — zstd decode there was
    # the r10 soak's measured ~2-3 s/batch CPU regression — so
    # snapshots take snappy (fast decode, read O(compact_every) times
    # before the next compaction supersedes them). Deltas are the
    # per-batch WRITE cost the O(batch) protocol optimizes (the
    # recorded nd2m_delta_bytes metric) and are read at most
    # compact_every times while small: they keep zstd.
    codec = "snappy" if sort else "zstd"
    c = cells.repartitionByRange(
        max(cells.sparkSession.sparkContext.defaultParallelism, 8),
        "bucket", "band",
    ) if sort else cells
    if n_files is not None:
        # repartition, not coalesce: n_files is only passed for BATCH-
        # bounded writes (deltas, tiny pre-snapshots), where the
        # round-robin exchange is trivial but coalesce would collapse
        # the whole upstream narrow stage (the fresh-cells anti-join)
        # to n_files tasks
        c = c.repartition(n_files)
    c = c.sortWithinPartitions("bucket", "band")
    s = sigs if n_files is None else sigs.repartition(n_files)

    # The two sub-table writes are INDEPENDENT jobs — run them on two
    # threads so their fixed job-submission + task-commit cost overlaps
    # (round 12: ~0.5-1 s/batch off the state_write phase at the 2M
    # soak, where each delta write is a small 1-4-file job whose wall
    # is mostly commit machinery). The _COMMITTED marker still lands
    # only after BOTH complete, so crash atomicity is unchanged.
    errs: list[BaseException] = []

    def _wr(df, sub):
        try:
            df.write.mode("overwrite").option("compression", codec).parquet(
                f"{path}/{sub}"
            )
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errs.append(e)

    tc = InheritableThread(target=_wr, args=(c, "cells"))
    ts = InheritableThread(target=_wr, args=(s, "sigs"))
    tc.start(); ts.start()
    tc.join(); ts.join()
    if errs:
        raise errs[0]
    fs.create(P(f"{path}/_COMMITTED"), True).close()


_STATE_SCHEMA_CACHE: dict[str, tuple] = {}


def clear_state_schema_cache(path: str | None = None) -> None:
    """Drop the per-side-table (cells, sigs) schema cache — all entries,
    or just ``path``'s. Call when RESHAPING a stream's state in-process:
    deleting a side table and recreating it at the same path with a
    different id type would otherwise be served the stale schema and
    read NULL ids (round-12 ADVICE fix). The near_dedup_stream batch
    handler also invalidates automatically whenever it creates state at
    a path fresh (no usable versions), so the delete-and-recreate case
    self-heals without this helper; it remains for external tooling
    that rewrites state files directly."""
    if path is None:
        _STATE_SCHEMA_CACHE.clear()
    else:
        _STATE_SCHEMA_CACHE.pop(path.rstrip("/"), None)


def _read_state(spark, paths: list[str]) -> tuple[DataFrame, DataFrame, bool]:
    """Union the (cells, sigs) pair across state version paths,
    reading v2 split layouts and v1 flat layouts side by side (a
    stream upgraded mid-corpus has a v1 base snapshot plus v2 deltas
    until the next compaction rewrites everything as v2). A v1 dir is
    split on the fly: its sigs carry `bands` duplicate rows per hub —
    harmless on the read path (every consumer applies distinct on the
    drop set) and deduped at the next compaction, which the returned
    `legacy` flag triggers.

    All v2 versions are read as ONE multi-path ``spark.read.parquet``
    per sub-table (round 11): the previous per-version read planned a
    separate scan per dir — with compact_every=8 that is up to 16
    listings + footer samples of per-batch driver latency on EVERY
    micro-batch, a fixed re-planning tax the r10 soak measured at
    seconds/batch. A file written before the eviction column reads its
    ``_v`` as NULL under the unified schema → coalesced to -1
    ("unknown origin, never evict" — the conservative direction,
    keeping old state drops MORE duplicates, matching the no-TTL
    semantics those files were written under). Only when the sampled
    schema itself predates ``_v`` (upgrade replay over a pre-eviction
    base) does the read fall back to the per-version union.

    The (cells, sigs) schema is CACHED per side table after the first
    read and passed explicitly from then on: a stream's state schema is
    fixed (same id type, same num_hashes for its lifetime), and the
    explicit schema skips parquet's per-batch footer-sampling job —
    ~0.3-0.6 s of fixed driver latency per micro-batch at the 2M soak
    (phase-timed). The cache is keyed by the side-table dir and only
    populated by a sampled schema that already carries ``_v``, so the
    upgrade fallback still sees real schemas. Reshape guard (round-12
    ADVICE fix): near_dedup_stream invalidates this cache whenever it
    creates state at a path FRESH (no usable versions), so deleting a
    side table and recreating it at the same path with a different id
    type or num_hashes within one driver process re-samples real
    footers instead of silently reading NULL ids through the stale
    schema; :func:`clear_state_schema_cache` covers external tooling
    that rewrites state files directly."""
    v2, v1 = [], []
    for p in paths:
        fs, _, jvm = _hfs(spark, p)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{p}/cells")):
            v2.append(p)
        else:
            v1.append(p)
    cells, sigs, legacy = None, None, bool(v1)
    if v2:
        # normalize ONCE at the keying site (round-13 ADVICE fix): a
        # user-supplied state_path with a trailing slash produced
        # version paths like ".../buckets//v3", whose rsplit parent
        # keeps the slash — clear_state_schema_cache pops the
        # rstripped key and would miss the stale entry it exists to
        # clear. Both the get and the set below share this key.
        parent = v2[0].rsplit("/", 1)[0].rstrip("/")
        cached = _STATE_SCHEMA_CACHE.get(parent)
        if cached is not None:
            c = spark.read.schema(cached[0]).parquet(*[f"{p}/cells" for p in v2])
            s = spark.read.schema(cached[1]).parquet(*[f"{p}/sigs" for p in v2])
        else:
            c = spark.read.parquet(*[f"{p}/cells" for p in v2])
            s = spark.read.parquet(*[f"{p}/sigs" for p in v2])
            if "_v" in c.columns:
                _STATE_SCHEMA_CACHE[parent] = (c.schema, s.schema)
        if "_v" in c.columns:
            cells = c.withColumn("_v", F.coalesce(F.col("_v"), F.lit(-1)))
            sigs = s
        else:
            # sampled file predates _v but a sibling delta may carry it:
            # per-version reads keep each dir's own schema exact
            for p in v2:
                c = spark.read.parquet(f"{p}/cells")
                s = spark.read.parquet(f"{p}/sigs")
                if "_v" not in c.columns:
                    c = c.withColumn("_v", F.lit(-1))
                cells = c if cells is None else cells.unionByName(c)
                sigs = s if sigs is None else sigs.unionByName(s)
    for p in v1:  # v1 flat layout
        flat = spark.read.parquet(p)
        c = flat.select("band", "bucket", "hub_id").withColumn("_v", F.lit(-1))
        s = flat.drop("band", "bucket")
        cells = c if cells is None else cells.unionByName(c)
        sigs = s if sigs is None else sigs.unionByName(s)
    return cells, sigs, legacy


# Serializes the ONE session-conf mutation the engine makes at runtime
# (the trickle fast path's parquet inFilterThreshold raise): two
# near-dedup streams sharing a SparkSession run their foreachBatch
# callbacks on separate query-execution threads, and an unserialized
# read-modify-write of shared session conf can interleave so that one
# stream's "restore" writes back the other stream's raised value —
# leaking the planner change session-wide (round-10 review finding).
_IN_THRESH_LOCK = threading.Lock()


def _committed(fs, hpath) -> bool:
    return bool(
        fs.exists(hpath.suffix("/_COMMITTED"))
        or fs.exists(hpath.suffix("/_SUCCESS"))
    )


def _snapshot_ok(spark, path: str) -> bool:
    """State-snapshot probe: existence AND a commit marker (our
    _COMMITTED, or _SUCCESS for snapshots written before the marker
    existed). A snapshot dir left by a crash mid-write (created,
    partial files, no marker) must not be trusted — the replay
    re-derives state instead."""
    fs, hpath, _ = _hfs(spark, path)
    return bool(fs.exists(hpath) and _committed(fs, hpath))


def _versions(spark, side_path: str, prefix: str = "v") -> list[int]:
    """Committed (marker-gated) snapshot versions, ascending.
    prefix 'v' = full snapshots; 'd' = delta versions (rows ADDED by
    one batch, read as base-snapshot ∪ deltas — see near_dedup_stream's
    state protocol)."""
    fs, hside, _ = _hfs(spark, side_path)
    if not fs.exists(hside):
        return []
    out = []
    for st in fs.listStatus(hside):
        nm = st.getPath().getName()
        if nm.startswith(prefix) and not nm.endswith("pre"):
            try:
                v = int(nm[1:])
            except ValueError:
                continue
            if _committed(fs, st.getPath()):
                out.append(v)
    return sorted(out)


def _gc_versions(
    spark, side_path: str, versions: list[int], keep: set[int], batch_id: int
) -> None:
    """Delete superseded snapshots. Keeps `keep` (the snapshot just
    read — the crash fallback — plus the one just written) and every
    pre-append snapshot with version >= batch_id: v{N}pre protects THIS
    batch's replay until the stream checkpoint commits (which happens
    only after this function returns), so it is reclaimed by the NEXT
    batch's GC, never by its own — deleting it in-batch re-opens the
    poisoned-target replay window the pre-snapshot exists to close."""
    fs, hside, jvm = _hfs(spark, side_path)
    P = jvm.org.apache.hadoop.fs.Path
    for v in versions:
        if v not in keep:
            fs.delete(P(f"{side_path}/v{v}"), True)
    for st in fs.listStatus(hside):
        nm = st.getPath().getName()
        if nm.startswith("v") and nm.endswith("pre"):
            try:
                if int(nm[1:-3]) < batch_id:
                    fs.delete(st.getPath(), True)
            except ValueError:
                pass


def _gc_deltas(spark, side_path: str, base: int | None, batch_id: int) -> None:
    """Delete delta versions outside (base, batch_id]: deltas at or
    below the base snapshot are folded into it (superseded); deltas
    above batch_id cannot belong to a live stream (batch ids are
    sequential — they only appear if a checkpoint was deleted while
    the state dir was kept, the documented no-no, and deleting them is
    the safe recovery). Deltas in (base, batch_id) are this batch's
    crash fallback — a replay of batch_id re-reads base ∪ those deltas
    — and are reclaimed only once a later compaction moves the base
    past them."""
    fs, hside, _ = _hfs(spark, side_path)
    if not fs.exists(hside):
        return
    lo = base if base is not None else -1
    for st in fs.listStatus(hside):
        nm = st.getPath().getName()
        if nm.startswith("d") and not nm.endswith("pre"):
            try:
                v = int(nm[1:])
            except ValueError:
                continue
            if v <= lo or v > batch_id:
                fs.delete(st.getPath(), True)


def _stream_token(spark, checkpoint: str | None) -> str:
    """Stable per-stream file-name token: replays of a checkpointed
    stream must reuse the SAME (token, batch_id) keys for idempotent
    appends, while distinct streams targeting one table must not
    collide. The checkpoint path is Hadoop-qualified first so spelling
    variants of one location ('/chk', '/chk/', 'file:///chk') hash to
    one token — a raw-string hash would give a restart under a variant
    spelling a fresh token and re-append the replayed batch. Without a
    checkpoint a replay cannot happen, so a random token is safe.

    Versioning note: any change to this keying (it previously hashed
    the raw string) re-keys in-flight streams' file names, so a batch
    that crashed pre-commit under the OLD keying replays under the new
    one without replacing the old files — drain or checkpoint-commit
    running streams before upgrading across a keying change."""
    if checkpoint:
        fs, hpath, _ = _hfs(spark, checkpoint)
        qualified = fs.makeQualified(hpath).toString()
        return hashlib.md5(qualified.encode()).hexdigest()[:8]
    return uuid.uuid4().hex[:8]


def _idempotent_append(
    spark, df: DataFrame, target_path: str, prefix: str, n_files: int = 8
) -> None:
    """Replay-idempotent batch append: write to a scratch dir
    (overwrite mode — itself idempotent), then move the part files into
    the target under DETERMINISTIC names ({prefix}{i}.parquet),
    deleting anything a previous attempt of the same batch left under
    the same prefix. A replayed batch therefore REPLACES its own output
    instead of appending a second copy — exactly-once target contents
    on plain parquet, no transaction log needed. (mode('append') alone
    is at-least-once: a crash between the append and the checkpoint
    commit duplicates the batch's rows on replay.) Determinism of the
    NAMES is what matters: even if a replay distributes rows across
    part files differently, the same name set is replaced wholesale."""
    target = target_path.rstrip("/")
    scratch = f"{target}_staging/{prefix.rstrip('-')}"
    # repartition, NOT coalesce: coalesce(8) collapses the whole final
    # narrow stage — the kept anti-join and the batch scan included —
    # to 8 tasks (measured ~1 s/batch on the 2M soak's append phase);
    # the round-robin exchange on a batch-bounded frame is far cheaper
    # than quartering the upstream parallelism.
    df.repartition(n_files).write.mode("overwrite").parquet(scratch)
    fs, htgt, jvm = _hfs(spark, target)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(htgt):
        fs.mkdirs(htgt)
    for st in fs.listStatus(htgt):
        if st.getPath().getName().startswith(prefix):
            fs.delete(st.getPath(), False)
    parts = sorted(
        st.getPath().getName()
        for st in fs.listStatus(P(scratch))
        if st.getPath().getName().startswith("part-")
    )
    for i, nm in enumerate(parts):
        if not fs.rename(P(f"{scratch}/{nm}"), P(f"{target}/{prefix}{i:05d}.parquet")):
            raise IOError(f"rename failed moving {nm} into {target}")
    fs.delete(P(scratch), True)
    # the {target}_staging PARENT is deliberately left in place: it is
    # shared by every stream writing this table, and an exists-then-
    # delete of an "empty" parent races a concurrent stream creating
    # its scratch dir inside it (the delete would yank that stream's
    # in-flight write out from under it)


def append_stream(
    stream_df: DataFrame,
    target_path: str,
    ts_col: str,
    id_col: str | None = None,
    on_violation: str = "error",  # error | drop
    checkpoint: str | None = None,
    trigger_once: bool = True,
    maxes_path: str | None = None,
) -> StreamingQuery:
    """Write a stream into a series table with ordered-append
    semantics. on_violation='drop' silently discards rows older than
    the stored per-series max (watermark-style); 'error' raises —
    matching the reference trigger's behavior.

    Scale design: the per-series max timestamps live in a versioned
    parquet SIDE TABLE (``{target}_maxes/v{batch_id}`` snapshots, the
    newest usable version read each batch), never in driver memory —
    the check is a distributed left join (Spark auto-broadcasts the
    side table while it is small and shuffle-joins past that), and the
    post-batch snapshot is ``old ∪ batch-maxes → groupBy max``, an
    O(#series) distributed job. Millions of series cost a small
    parquet join per micro-batch and zero driver state, where the
    previous design collected every series max into a driver dict and
    re-broadcast it per batch. Snapshots older than the one just read
    are deleted after each batch; on a batch replay after a crash,
    post-batch snapshots written by the failed attempt (version >=
    current batch_id) are ignored. When no prior snapshot exists (the
    first batch over a pre-existing table), the PRE-batch state is
    itself persisted (``v{batch_id}pre``) BEFORE the data append: a
    crash between append and post-snapshot then replays against the
    true pre-append maxes instead of re-deriving them from a table
    that already contains the failed attempt's own rows (which would
    poison 'error' mode permanently and silently drop rows in 'drop'
    mode). The data append itself is replay-idempotent: each batch's
    rows land under deterministic file names keyed by (checkpoint,
    batch_id), so a replayed batch replaces its own files instead of
    appending a second copy — exactly-once target contents (do not
    delete the checkpoint while keeping the target: that restarts
    batch numbering and reuses the keys).

    Dropped-late rows can never advance a series max (they are behind
    it by definition), so batch maxes are folded from the RAW batch —
    the join lineage is not recomputed for state maintenance."""
    side_path = (maxes_path or target_path.rstrip("/") + "_maxes").rstrip("/")
    token = _stream_token(stream_df.sparkSession, checkpoint)

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        versions = _versions(spark, side_path)
        usable = [v for v in versions if v < batch_id]
        pre_path = f"{side_path}/v{batch_id}pre"
        if usable:
            old = spark.read.parquet(f"{side_path}/v{usable[-1]}")
        elif _snapshot_ok(spark, pre_path):
            # replay of a crashed attempt that had already persisted
            # this batch's pre-append state — use it, NOT the data
            # table (which may contain the failed attempt's own rows).
            # Marker-gated (_COMMITTED/_SUCCESS): a pre dir from a
            # crash mid-write means the append never ran, so
            # re-deriving below is correct.
            old = spark.read.parquet(pre_path)
        elif _data_exists(spark, target_path):
            # first batch over a pre-existing table: derive the maxes
            # from the data once (distributed) and persist them BEFORE
            # appending, so a replay never checks the batch against
            # its own partial write
            current = spark.read.parquet(target_path)
            if id_col:
                old = current.groupBy(id_col).agg(F.max(ts_col).alias("_maxts"))
            else:
                old = current.agg(F.max(ts_col).alias("_maxts")).filter(
                    F.col("_maxts").isNotNull()
                )
            _write_snapshot(spark, old, pre_path)
            old = spark.read.parquet(pre_path)
        else:
            # genuinely fresh target — persist an EMPTY pre snapshot
            # before appending. Without it, a replay of a crashed
            # first batch finds the target EXISTING (the failed
            # attempt's own files) and the derive branch above builds
            # state from the batch's own rows: 'drop' mode would then
            # filter the replay against its own in-batch maxes
            # (silently deleting rows) and 'error' mode would reject
            # the batch forever. The empty snapshot routes the replay
            # through the pre branch with the true (empty) state.
            if id_col:
                empty = batch.groupBy(id_col).agg(
                    F.max(ts_col).alias("_maxts")
                ).limit(0)
            else:
                empty = batch.agg(F.max(ts_col).alias("_maxts")).limit(0)
            _write_snapshot(spark, empty, pre_path, n_files=1)
            old = None
        out = batch
        if old is not None:
            if id_col:
                out = batch.join(old, id_col, "left")
            else:
                # 0-or-1-row side: condition-true left join keeps every
                # batch row even when the side is empty (a crossJoin
                # against an empty side would silently drop the batch)
                out = batch.join(old, F.lit(True), "left")
            late = out.filter(F.col(ts_col) < F.col("_maxts"))
            if on_violation == "error":
                if late.limit(1).count():
                    raise ValueError(
                        f"out-of-order append into {target_path} (batch {batch_id})"
                    )
            else:
                out = out.filter(
                    F.col("_maxts").isNull() | (F.col(ts_col) >= F.col("_maxts"))
                )
            out = out.drop("_maxts")
        _idempotent_append(spark, out, target_path, f"batch-{token}-{batch_id}-")
        # next maxes snapshot: old ∪ raw-batch maxes, distributed
        if id_col:
            bm = batch.groupBy(id_col).agg(F.max(ts_col).alias("_maxts"))
            new = bm if old is None else old.unionByName(bm).groupBy(id_col).agg(
                F.max("_maxts").alias("_maxts")
            )
        else:
            bm = batch.agg(F.max(ts_col).alias("_maxts")).filter(
                F.col("_maxts").isNotNull()
            )
            new = bm if old is None else old.unionByName(bm).agg(
                F.max("_maxts").alias("_maxts")
            ).filter(F.col("_maxts").isNotNull())
        _write_snapshot(spark, new, f"{side_path}/v{batch_id}")
        # GC: keep the snapshot just read (crash fallback) + new; this
        # batch's pre snapshot survives until the NEXT batch's GC
        keep = {batch_id} | ({usable[-1]} if usable else set())
        _gc_versions(spark, side_path, versions, keep, batch_id)

    writer = stream_df.writeStream.foreachBatch(handle_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_agg_stream(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    agg_exprs: list | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Event-time tumbling-window aggregate with late-data watermark —
    the streaming counterpart of cs_grid_* positional buckets, keyed by
    event time instead of position."""
    aggs = agg_exprs or [F.count(F.lit(1)).alias("cnt")]
    groups = [F.window(ts_col, window_duration)] + [F.col(c) for c in (group_cols or [])]
    return stream_df.withWatermark(ts_col, watermark).groupBy(*groups).agg(*aggs)


def sessionize_stream_native(
    stream_df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-user gap sessions via the BUILT-IN ``session_window`` —
    the default sessionize path. Gap-based session state is maintained
    entirely JVM-side (merging-session state store, no Python
    boundary), which measures ~1.6 s vs the ~2.0 s protocol floor of
    an applyInPandasWithState equivalent on a 100k-row replay here,
    and at cluster scale keeps sessionization inside whole-stage
    codegen + native state stores.

    Emission semantics are append-mode standard: a session row is
    emitted once the watermark passes its end (last event + gap), so
    sessions closed by a later event inside the final watermark
    horizon stay in state — use :func:`sessionize_stream` (custom
    keyed state) when eager emit-on-close or non-aggregate per-session
    logic is required; that is the case built-ins cannot express.

    Output schema matches batch ``series.sessionize``:
    (user, session_start, session_end=last event ts, n_events).
    """
    return (
        stream_df.select(user_col, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, f"{gap_seconds} seconds"), user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            "session_end",
            "n_events",
        )
    )


def sessionize_stream(
    stream_df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
):
    """Custom stateful streaming operator (applyInPandasWithState): the
    streaming counterpart of batch ``series.sessionize`` — per-user
    gap-based sessions maintained as keyed state across micro-batches.
    Prefer :func:`sessionize_stream_native` (built-in session_window,
    fully JVM-side) for the plain gap-session aggregate; this variant
    exists for semantics the built-in cannot express — sessions are
    emitted EAGERLY the moment a later event closes them (not when the
    watermark passes), and the per-session Python kernel can carry
    arbitrary logic (custom payload aggregation, dynamic gaps).

    Emits one row per CLOSED session: (user, session_start, session_end,
    n_events). A session closes when a later event for the same user
    arrives more than ``gap_seconds`` after the previous one, or when
    the event-time timeout fires (watermark has passed the open
    session's last event + gap). State per key is three scalars — at
    1000-executor scale this shuffles once per batch on user_id and
    stores O(active users) state, the standard keyed-state layout.

    The reference cannot express this at all (no streaming state; its
    insert trigger is row-at-a-time, imcs.c:4617-4812)."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_dt = stream_df.schema[user_col].dataType
    if not isinstance(key_dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # the numpy kernel and output schema carry the key as int64; a
        # string key would die mid-query inside the state worker with an
        # opaque Arrow error — fail upfront with the alternative
        raise TypeError(
            f"sessionize_stream: {user_col} must be an integer type, got"
            f" {key_dt.simpleString()}; use sessionize_stream_native for"
            " arbitrary key types"
        )
    out_schema = (
        f"{user_col} long, session_start timestamp, "
        "session_end timestamp, n_events long"
    )
    state_schema = "session_start long, last_ts long, n long"
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        # This function runs once per key per micro-batch, so per-call
        # (and per-event) Python overhead is the dominant cost at high
        # key cardinality: the whole batch for a key is segmented into
        # sessions with vectorized numpy (gap mask -> segment bounds),
        # never a per-event loop, and the emitted frame is built from
        # int64->datetime64 array casts, never per-row pd.Timestamp
        # objects. Measured 2x end-to-end on a 100k-row replay.
        import numpy as np

        uid = key[0]
        if state.hasTimedOut:
            if state.exists:
                s0, s1, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        user_col: np.array([uid], dtype="int64"),
                        "session_start": np.array([s0], dtype="datetime64[us]"),
                        "session_end": np.array([s1], dtype="datetime64[us]"),
                        "n_events": np.array([n], dtype="int64"),
                    }
                )
            else:
                state.remove()
            return
        parts = []
        for pdf in pdfs:
            arr = pdf[ts_col].to_numpy()
            if arr.dtype.kind == "M":
                parts.append(arr.astype("datetime64[us]").astype("int64"))
            else:
                parts.append(pd.to_datetime(pdf[ts_col]).astype("int64").to_numpy() // 1000)
        if not parts:
            return
        ts_arr = np.sort(np.concatenate(parts))
        if ts_arr.size == 0:
            # non-empty chunk list of zero-length arrays (empty Arrow
            # batches) — nothing to do, and gaps[0] below would throw
            return
        # within-batch gap segmentation (vectorized): segment boundaries
        # wherever consecutive sorted events are > gap apart
        interior = (np.flatnonzero(np.diff(ts_arr) > gap_us) + 1).astype("int64")
        bounds = np.concatenate(
            (np.array([0], dtype="int64"), interior, np.array([ts_arr.size], dtype="int64"))
        )
        segs = [
            [int(ts_arr[bounds[i]]), int(ts_arr[bounds[i + 1] - 1]),
             int(bounds[i + 1] - bounds[i])]
            for i in range(len(bounds) - 1)
        ]
        # merge the stored open session as an INTERVAL into the sorted
        # segment list. Comparing only against the stored end (the old
        # gaps[0] test) mishandled late events: an event long BEFORE the
        # open session unconditionally "extended" it (one wrong merged
        # span) instead of forming its own earlier session. The interval
        # merge places the stored session by start time and coalesces
        # any neighbors within the gap on either side.
        if state.exists:
            segs.append([int(v) for v in state.get])
            segs.sort()
            merged = [segs[0]]
            for st, en, cn in segs[1:]:
                if st - merged[-1][1] <= gap_us:
                    merged[-1][1] = max(merged[-1][1], en)
                    merged[-1][2] += cn
                else:
                    merged.append([st, en, cn])
            segs = merged
        # all sessions but the time-latest close now; the latest stays
        # open in state with its timeout at end + gap
        closed, last = segs[:-1], segs[-1]
        state.update((last[0], last[1], last[2]))
        state.setTimeoutTimestamp((last[1] + gap_us) // 1000)
        if closed:
            c = np.asarray(closed, dtype="int64")
            yield pd.DataFrame(
                {
                    user_col: np.full(len(closed), uid, dtype="int64"),
                    "session_start": c[:, 0].astype("datetime64[us]"),
                    "session_end": c[:, 1].astype("datetime64[us]"),
                    "n_events": c[:, 2],
                }
            )

    return (
        # project to the two columns the state op reads BEFORE the
        # stateful exchange: every retained column is Arrow-transferred
        # to the Python workers for every row otherwise.
        stream_df.select(user_col, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
    digest_col: str = "_digest",
) -> DataFrame:
    """Streaming exact dedup — the streaming face of
    pipeline.dedup.exact_dedup: keep the first arrival of each
    normalized-content digest, drop later duplicates across
    micro-batches.

    With ``ts_col`` the digest state is bounded by the watermark
    (dropDuplicatesWithinWatermark): a duplicate arriving within the
    watermark horizon of the first copy is dropped, and state for
    digests older than the watermark is evicted — the only formulation
    whose state does NOT grow with the full history, which is the one
    that survives an unbounded 100 TB/day stream. Without ``ts_col``
    it falls back to global dropDuplicates (state = one row per
    distinct digest — bounded corpora only)."""
    digest = F.md5(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    )
    s = stream_df.withColumn(digest_col, digest)
    if ts_col:
        s = s.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [digest_col]
        )
    else:
        s = s.dropDuplicates([digest_col])
    return s.drop(digest_col)


def near_dedup_stream(
    stream_df: DataFrame,
    target_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    sim_threshold: float | None = None,
    checkpoint: str | None = None,
    trigger_once: bool = True,
    state_path: str | None = None,
    compact_every: int = 8,
    keep_all_columns: bool = False,
    evict_after: int | None = None,
) -> StreamingQuery:
    """Streaming NEAR-duplicate dedup — the streaming face of the batch
    MinHash/LSH pipeline (pipeline.dedup): keep a document only if none
    of its LSH band buckets has been occupied by an earlier document;
    survivors are appended to ``target_path``.

    By default only (id_col, text_col) of each survivor are persisted
    to the dedup table — the minimal near-dedup product, and what the
    first-batch state derivation re-reads. ``keep_all_columns=True``
    instead joins the kept ids back to the ORIGINAL batch rows so every
    stream column survives (one extra broadcast-sized join per batch;
    the state derivation over a pre-existing target still reads only
    id+text).

    Greedy arrival-order semantics, matching batch
    ``minhash_dedup``'s candidate rule exactly: a document is dropped
    when ANY of its (band, bucket) cells collides with (a) any document
    from an earlier micro-batch, or (b) a smaller-id document within
    its own batch — whether or not that document itself survived (the
    same non-transitive greedy rule the batch path applies). With
    ``sim_threshold`` set, a collision only drops the document if its
    signature-estimated Jaccard (matching minhash components /
    num_hashes) against the bucket's FIRST occupant (the hub — the
    same hub convention as pair_mode='star') reaches the threshold;
    without it, any collision drops (signature-level dedup, the
    standard streaming-ingest trade).

    Scale design — no driver state, versioned-side-table protocol
    shared with :func:`append_stream` plus DELTA versions: the
    seen-bucket set lives in a parquet side table split per version
    into a narrow ``cells`` sub-table (one row per occupied
    (band, bucket) with its hub id — what every batch's collision
    probe scans) and a ``sigs`` sub-table (ONE signature row per hub
    doc, num_hashes longs — read only under ``sim_threshold`` and only
    for the batch's collided hubs). The split (round 10) cuts the
    per-batch state-read bytes ~6-8x vs storing the signature on every
    cell row: the collision probe decodes 3 narrow columns, and the
    signature longs — previously duplicated ``bands`` times per hub —
    are stored once and fetched by a broadcast semi-join on the tiny
    collided-hub set. Each batch joins against the state with the
    BATCH side broadcast (round 9): the batch's cell set is
    micro-batch-bounded by construction while the state grows with the
    corpus, so the state is scanned once per batch and never shuffled
    — the collision set the scan yields (bounded by the batch) then
    drives the fresh-cell anti-joins without touching the state again.
    Snapshots are written zstd-compressed and range-sorted
    BUCKET-major; a trickle batch (≤512 distinct buckets) pushes its
    bucket set into the state scan as a parquet IN predicate whose
    row-group stats are tight under the bucket-major sort (both
    plan- and stats-asserted in tests). Honest measurement note: at
    the 2M-doc soak's state size the probe is fixed-cost-bound
    (~150 ms of job floor + footer reads for the whole 16M-cell scan),
    so no wall win is measurable there — the skip lever matters when
    the state scan is IO-bound (cells >> page cache), which is the
    regime the layout is built for. Per-batch state READ for
    normal batches stays one sequential column-pruned scan (O(corpus)
    narrow cells, parallel across executors); state WRITE maintenance is
    **O(batch), not O(corpus)**: a batch writes only its NEWLY-occupied cells as a
    delta version (``{state}/d{batch_id}``) and readers take
    ``base snapshot ∪ deltas`` — cells are disjoint across versions
    because each delta was anti-joined against the state it was built
    on, so the union IS the state, no merge needed. Every
    ``compact_every`` batches the union is rewritten as a full
    snapshot (``v{batch_id}``) and superseded versions are GC'd, so
    read fan-in stays bounded at ``compact_every`` files while a small
    late micro-batch never rewrites a corpus-scale table (the per-batch
    state I/O is proportional to the batch's new cells; compaction
    cost amortizes to corpus/compact_every per batch).

    Crash-replay safe: only committed (_COMMITTED/_SUCCESS-gated)
    versions with version < batch_id are read, the first batch over a
    pre-existing target derives + persists the pre-append state before
    writing (``v{batch_id}pre``, reclaimed only by the NEXT batch's
    GC), delta writes are overwrite-mode (a replayed batch replaces
    its own delta), and the data append itself is idempotent — each
    batch's rows land under deterministic file names keyed by
    (checkpoint, batch_id), so a replay replaces its own output
    instead of appending duplicate rows into the deduplicated table
    (do not delete the checkpoint while keeping the target: that
    restarts batch numbering and reuses the keys).

    State growth: without ``evict_after`` the state grows with the
    distinct-bucket count of the corpus — content dedup has no
    inherent time locality to evict by, the same trade as global
    dropDuplicates (use dedup_stream's watermarked digest variant when
    near-miss detection is not needed). ``evict_after=K`` (round 10)
    makes the locality assumption EXPLICIT and bounds the state: a
    cell stops gating new documents once its origin batch is more than
    K batches old ("near-dup within the last K batches" — the
    unbounded-ingest shape where only recent history matters). Every
    cell row carries its origin version (``_v``); reads filter by the
    horizon — a pushable predicate, so whole row groups of old sorted
    state files skip — and compaction physically drops evicted cells
    and their orphaned hub signatures, making steady-state size
    O(cells added in the last K batches). A re-occupied cell takes the
    new batch's hub (the old occupant aged out, so the newcomer IS the
    first live occupant). Already-kept documents are never retracted —
    eviction changes only future gating decisions.

    Negative result, recorded so it is not retried (round 12): an
    in-process block-store cache of the state (persisted read-backs of
    the committed version dirs, stamped by the (base, deltas) listing)
    was built and A/B-measured at the 2M soak — cached columnar scans
    LOST to the page-cache-hot snappy parquet read by ~+3 s/batch
    (310 s no-cache vs 443 s cached on the same box), and the fixed
    listing/plan cost did not move. The versioned parquet protocol IS
    the fast path; per-batch reads stay on it.
    """
    from ..pipeline import dedup as D

    side_path = state_path or f"{target_path.rstrip('/')}_buckets"
    sig_cols = [f"mh_{k}" for k in range(num_hashes)]
    token = _stream_token(stream_df.sparkSession, checkpoint)

    def _cells_sigs(
        bb: DataFrame, sigs: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Split state for a doc set: cells = one row per (band,
        bucket) with its minimum-id occupant; sigs = ONE signature row
        per hub doc (left_semi — sigs is one row per doc, so no
        distinct pass over hub ids is needed)."""
        cells = bb.groupBy("band", "bucket").agg(
            F.min(id_col).alias("hub_id")
        )
        hub_sigs = (
            sigs.withColumnRenamed(id_col, "hub_id")
            .join(cells.select("hub_id"), "hub_id", "left_semi")
        )
        return cells, hub_sigs

    def _est_sim(prefix: str) -> F.Column:
        matches = None
        for c in sig_cols:
            m = (F.col(c) == F.col(f"{prefix}{c}")).cast("int")
            matches = m if matches is None else matches + m
        return matches / F.lit(num_hashes)

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # Persisted per-batch frames are released in the finally: an
        # exception mid-batch must not leak sigs/bb/prev cache blocks
        # into a long-lived stream's storage pool. (The trickle-path
        # conf guard that used to wrap the whole batch here is now
        # scoped — with a cross-stream lock — to the one
        # materialization that needs it; see the trickle branch.)
        sigs = bb = prev = app_t = None
        state_tmp: list = []
        try:
            full_batch = batch
            # spread BEFORE the shingle/minhash chain (round 12): a
            # micro-batch often arrives as one or two source files whose
            # scan yields only a handful of partitions, serializing the
            # tokenize+hash work — the soak's dominant per-batch phase —
            # through a fraction of the cores (measured: 5.2 s -> 1.4 s
            # on a 100k-doc single-file batch at local[32]). One
            # round-robin exchange of the raw batch-bounded rows buys
            # full parallelism for everything downstream; no-op when the
            # source already scans wide (the 100 TB shape).
            batch = D.spread(batch.select(id_col, text_col)).persist()
            state_tmp.append(batch)
            sigs = D.minhash_signatures(
                batch, text_col=text_col, id_col=id_col, num_hashes=num_hashes
            ).persist()
            bb = D.band_buckets(sigs, id_col, num_hashes, bands).persist()
            versions = _versions(spark, side_path)
            usable = [v for v in versions if v < batch_id]
            deltas = (
                [d for d in _versions(spark, side_path, "d") if usable[-1] < d < batch_id]
                if usable
                else []
            )
            pre_path = f"{side_path}/v{batch_id}pre"
            srow = None
            if usable:
                # overlap the state-read PLANNING (driver-side parquet
                # listing/schema py4j work, ~0.4 s/batch) with the
                # batch's minhash materialization: the srow agg below is
                # the batch's heaviest job and blocks only on a socket
                # read, so a planning thread runs driver-side work in
                # parallel (round 14, r13-verdict item 3 phase budget).
                # The thread does not propagate exceptions: a failed read
                # is captured and re-raised after the join, like the
                # append worker below.
                _rs_out: dict = {}

                def _rs():
                    try:
                        _rs_out["seen"] = _read_state(
                            spark,
                            [f"{side_path}/v{usable[-1]}"]
                            + [f"{side_path}/d{d}" for d in deltas],
                        )
                    except BaseException as e:  # noqa: BLE001 - re-raised on join
                        _rs_out["error"] = e

                _rs_t = InheritableThread(target=_rs)
                _rs_t.start()
                id_is_str = isinstance(
                    batch.schema[id_col].dataType, T.StringType
                )
                srow = bb.agg(
                    F.count(F.lit(1)).alias("n"),
                    (
                        F.sum(F.length(id_col)) if id_is_str else F.lit(0)
                    ).alias("idb"),
                    F.count_distinct("bucket").alias("nb"),
                ).collect()[0]
                _rs_t.join()
                if "error" in _rs_out:
                    raise _rs_out["error"]
                seen = _rs_out["seen"]
            elif _snapshot_ok(spark, pre_path):
                seen = _read_state(spark, [pre_path])
            elif _data_exists(spark, target_path):
                # first batch over a pre-existing table: derive its bucket
                # state once and persist BEFORE appending (replay safety).
                # State is being CREATED fresh at side_path — drop any
                # stale schema cached by a previous stream that lived at
                # this path in the same driver process (a recreated
                # stream with a different id type would otherwise read
                # NULL ids through the stale schema; round-12 ADVICE fix)
                _STATE_SCHEMA_CACHE.pop(side_path.rstrip("/"), None)
                existing = spark.read.parquet(target_path).select(id_col, text_col)
                esigs = D.minhash_signatures(
                    existing, text_col=text_col, id_col=id_col, num_hashes=num_hashes
                )
                ebb = D.band_buckets(esigs, id_col, num_hashes, bands)
                ec, es = _cells_sigs(ebb, esigs)
                # derived cells are stamped with THIS batch's version: the
                # existing corpus's true ages are unknown, and dating the
                # derivation point is the conservative TTL reading
                _write_state(
                    spark, ec.withColumn("_v", F.lit(batch_id)), es, pre_path,
                    sort=True,
                )
                seen = _read_state(spark, [pre_path])
            else:
                # fresh target: persist an EMPTY pre snapshot before the
                # append (same reasoning as append_stream — without it, a
                # replay of a crashed first batch would derive bucket
                # state from the failed attempt's own kept docs, drop
                # every replayed doc as a self-collision, and the
                # idempotent replace would wipe the first batch from the
                # dedup table)
                # fresh state lineage at side_path: same stale-schema
                # invalidation as the derive-pre branch above
                _STATE_SCHEMA_CACHE.pop(side_path.rstrip("/"), None)
                ec, es = _cells_sigs(bb, sigs)
                _write_state(
                    spark, ec.withColumn("_v", F.lit(batch_id)).limit(0),
                    es.limit(0), pre_path, n_files=1,
                )
                seen = None

            # (a) collisions against earlier batches. Join DIRECTION matters
            # at scale (round 9): the batch side is micro-batch-bounded by
            # construction while `seen` grows with the corpus, so the batch
            # cells are BROADCAST and the state table is scanned exactly
            # once per batch with NO shuffle — the previous shape
            # (bb.join(seen, ...) + two left_antis against seen) shuffled
            # the corpus-scale state (16 signature longs per cell, ~2 GB at
            # 2M docs) up to three times per batch. `prev` (bounded by the
            # batch's cell count) is persisted so the collision set and the
            # drop set share the single state scan.
            if seen is not None:
                cells_s, sigs_s, legacy = seen
                if evict_after is not None:
                    # TTL horizon: cells older than K batches stop gating.
                    # _v < 0 = unknown origin (pre-eviction layouts) ->
                    # never evicted (conservative: keeps dedup state). The
                    # comparison is a pushable predicate over the sorted
                    # state files, so fully-aged row groups skip at scan.
                    cells_s = cells_s.filter(
                        (F.col("_v") < 0) | (F.col("_v") >= batch_id - evict_after)
                    )
                # guard the one unbounded case: availableNow with no
                # maxFilesPerTrigger delivers the whole backlog as a single
                # batch, whose cell set may not fit a driver broadcast.
                # Sized by estimated BYTES, not row count (round-10 ADVICE
                # fix: a caller-supplied STRING id can blow the driver
                # broadcast well under any row cap): one cell row is
                # band int4 + bucket int8 + id + per-row overhead ≈ 32 B
                # plus the id's actual string bytes. bb is persisted and
                # reused by every later step, so the one agg job
                # materializes work that happens anyway; it also yields
                # the distinct-bucket count the trickle fast path needs.
                if srow is None:
                    id_is_str = isinstance(
                        batch.schema[id_col].dataType, T.StringType
                    )
                    srow = bb.agg(
                        F.count(F.lit(1)).alias("n"),
                        (
                            F.sum(F.length(id_col)) if id_is_str else F.lit(0)
                        ).alias("idb"),
                        F.count_distinct("bucket").alias("nb"),
                    ).collect()[0]
                est_bytes = srow["n"] * 32 + (srow["idb"] or 0)
                hint = F.broadcast if est_bytes <= (128 << 20) else (lambda d: d)
                probe = cells_s
                trickle = srow["nb"] <= 512
                if trickle:
                    # trickle batch (a handful of late docs against a
                    # corpus-scale state): push the batch's bucket SET
                    # into the state scan as an IN predicate. Snapshots
                    # are range-sorted bucket-major at write time, so
                    # parquet's row-group/page stats on `bucket` are tight
                    # and a few-hundred-value IN skips most of the state's
                    # pages instead of scanning O(corpus).
                    vals = [r[0] for r in bb.select("bucket").distinct().collect()]
                    probe = probe.filter(F.col("bucket").isin(vals))
                # the collision probe scans ONLY the narrow cells table
                # (band, bucket, hub_id) — the signature longs (bands
                # copies per hub in the old flat layout, ~85% of the state
                # bytes) are in the separate sigs table and are fetched
                # below only for the batch's collided hubs
                prev = probe.join(hint(bb), ["band", "bucket"]).persist()
                if trickle:
                    # Spark only pushes IN to parquet below
                    # inFilterThreshold (default 10 — above it the pushed
                    # filter degrades to a min/max range, useless for
                    # uniform hash buckets), so the threshold is raised
                    # while the probe's scan is PLANNED. That raise is a
                    # session-global planner change: scope it to the one
                    # job that plans the scan — materialize the persisted
                    # `prev` under the raised conf (every later consumer
                    # reads the cached blocks; an evicted block recomputes
                    # the already-compiled cached plan, not a re-plan) and
                    # restore immediately, serialized across streams
                    # sharing this session by a module lock. The previous
                    # whole-batch set/restore raced a sibling stream's
                    # snapshot/restore and could leak the raised value
                    # session-wide (round-10 review finding).
                    key = "spark.sql.parquet.pushdown.inFilterThreshold"
                    with _IN_THRESH_LOCK:
                        _in_prev = spark.conf.get(key, "10")
                        spark.conf.set(key, "1024")
                        try:
                            prev.count()
                        finally:
                            spark.conf.set(key, _in_prev)
                # cells of THIS batch that already have an earlier occupant
                # (== bb \ fresh): tiny, reused by both anti-joins below so
                # the state table is never scanned for them
                collided = prev.select("band", "bucket").distinct()
                if sim_threshold is not None:
                    hubs = prev.select("hub_id").distinct()
                    hsig = sigs_s.join(hint(hubs), "hub_id").select(
                        "hub_id",
                        *[F.col(c).alias(f"_h_{c}") for c in sig_cols],
                    )
                    gated = (
                        prev.join(hsig, "hub_id")
                        .join(sigs, id_col)
                        .filter(_est_sim("_h_") >= sim_threshold)
                    )
                else:
                    gated = prev
                drop_prev = gated.select(id_col).distinct()
            else:
                prev = None
                collided = None
                drop_prev = None

            # ONE derivation of the batch's per-cell min-id spine (round
            # 14, r13-verdict item 3): rule (b)'s `mins` and the state
            # delta's fresh cells were the SAME relation computed twice —
            # two groupBy-over-bb exchanges per batch, one on the append
            # thread and one inside the state-write jobs (phase
            # attribution: the fresh chain was 1.4-1.9 s of the 3.4-4.4 s
            # state_write wall). Compute batch_cells once, persist it,
            # and derive both consumers from it. For a non-collided cell
            # the min over fresh_bb's rows equals the min over ALL bb
            # rows of that cell (the anti-join drops whole cells), so
            # fresh_cells IS rule (b)'s per-cell min table.
            batch_cells = bb.groupBy("band", "bucket").agg(
                F.min(id_col).alias("hub_id")
            ).persist()
            state_tmp.append(batch_cells)
            if collided is None:
                fresh_cells = batch_cells
            else:
                # partition count sized to the batch's estimated cell
                # bytes (round 12): a 20 MB delta in 8 files paid 8 task
                # commits + 8 footers on every later read for no
                # parallelism it could use
                nf = int(min(8, max(1, est_bytes // (16 << 20) + 1)))
                fresh_cells = batch_cells.join(
                    hint(collided), ["band", "bucket"], "left_anti"
                ).repartition(nf).persist()
                state_tmp.append(fresh_cells)

            # (b) within-batch: collision with a smaller-id document's cell
            # — restricted to cells with NO earlier-batch occupant: a seen
            # cell's hub is its ORIGINAL occupant and rule (a) already
            # gates every batch doc against that hub; gating against the
            # batch-local min id instead would over-drop under
            # sim_threshold (similar to the batch min but dissimilar to
            # the true hub must survive under the star convention)
            fresh_bb = bb if collided is None else bb.join(
                hint(collided), ["band", "bucket"], "left_anti"
            )
            inb = fresh_bb.join(
                fresh_cells.select(
                    "band", "bucket", F.col("hub_id").alias("_min_id")
                ),
                ["band", "bucket"],
            ).filter(F.col(id_col) > F.col("_min_id"))
            if sim_threshold is not None:
                hub_sigs = sigs.select(
                    F.col(id_col).alias("_min_id"),
                    *[F.col(c).alias(f"_h_{c}") for c in sig_cols],
                )
                inb = inb.join(hub_sigs, "_min_id").join(sigs, id_col)
                inb = inb.filter(_est_sim("_h_") >= sim_threshold)
            drop_in = inb.select(id_col).distinct()
            drops = drop_in if drop_prev is None else drop_prev.unionByName(drop_in).distinct()

            # The kept-rows append and the state maintenance below are
            # INDEPENDENT pipelines over the same cached per-batch
            # frames (both hang off the single persisted state scan in
            # `prev`), so the append runs on its own thread and joins
            # before GC (round 12): the two walls overlap instead of
            # adding. Crash semantics are unchanged — the append is
            # idempotent-replace, the delta write is overwrite-mode,
            # and a replay redoes whichever half (or both) landed.
            def _do_append():
                kept = batch.join(drops, id_col, "left_anti")
                if keep_all_columns:
                    kept = full_batch.join(
                        kept.select(id_col), id_col, "left_semi"
                    )
                _idempotent_append(
                    spark, kept, target_path, f"batch-{token}-{batch_id}-"
                )

            app_errs: list = []

            def _append_worker():
                try:
                    _do_append()
                except BaseException as e:  # noqa: BLE001 - re-raised on join
                    app_errs.append(e)

            app_t = InheritableThread(target=_append_worker)
            app_t.start()
            # NOTE (r14 negative result): eagerly materializing the
            # shared batch_cells spine on a third thread here measured
            # a LOSS (full soak 150.1 s / 7.23 med vs 138.4 / 6.81
            # without) — the extra count job contends with the append
            # job for the same cores; BlockManager already dedups the
            # computation between the two write threads.

            # post-batch state: earlier occupants win their cells; new
            # cells take this batch's min-id occupant. O(batch) path:
            # write ONLY the fresh cells (+ their hubs' signatures, one
            # row per hub) as a delta; compact the union to a full
            # snapshot every `compact_every` batches (bounding the
            # reader's file fan-in) or when no base snapshot exists yet.
            # Cells come from the SHARED batch_cells/fresh_cells spine
            # built above (round 14 — was a second _cells_sigs groupBy).
            if seen is None:
                batch_sigs = sigs.withColumnRenamed(id_col, "hub_id").join(
                    batch_cells.select("hub_id"), "hub_id", "left_semi"
                )
                _write_state(
                    spark,
                    batch_cells.withColumn("_v", F.lit(batch_id)),
                    batch_sigs,
                    f"{side_path}/v{batch_id}",
                    sort=True,
                )
                keep = {batch_id}
                base = None
            else:
                # fresh cells = batch cells with no earlier occupant — the
                # anti-join ran against the tiny collided set, not the
                # corpus-scale state (see rule (a) note); fresh sigs are
                # the fresh hubs' rows of the batch's per-doc signatures
                fresh = fresh_cells.withColumn("_v", F.lit(batch_id))
                fresh_sigs = sigs.withColumnRenamed(id_col, "hub_id").join(
                    fresh_cells.select("hub_id"), "hub_id", "left_semi"
                ).repartition(nf).persist()
                state_tmp.append(fresh_sigs)
                if usable and len(deltas) + 1 < compact_every:
                    _write_state(
                        spark, fresh, fresh_sigs, f"{side_path}/d{batch_id}",
                        n_files=None,
                    )
                    keep = {usable[-1]}
                    base = usable[-1]
                else:
                    # compaction (or first batch whose base was a pre/
                    # derived snapshot): one corpus-size write, amortized
                    # over compact_every delta-only batches. The old base
                    # + its deltas stay until the NEXT batch's GC — they
                    # are this batch's replay fallback. Range-sorted
                    # BUCKET-major (bucket, band) here — see _write_state
                    # — so the trickle IN-pushdown above gets tight page
                    # stats. A v1-flat base's split sigs
                    # carry `bands` duplicate rows per hub; compaction is
                    # where they are deduped away (one extra exchange, on
                    # the one batch that pays a corpus write anyway).
                    sig_all = sigs_s.unionByName(fresh_sigs)
                    if legacy:
                        sig_all = sig_all.dropDuplicates(["hub_id"])
                    cell_all = cells_s.unionByName(fresh)
                    if evict_after is not None:
                        # cells_s was horizon-filtered at read, so this
                        # union IS the surviving state; drop the evicted
                        # hubs' orphaned signatures with it (one semi-join
                        # on the one batch that pays a corpus write anyway)
                        sig_all = sig_all.join(
                            cell_all.select("hub_id").distinct(),
                            "hub_id", "left_semi",
                        )
                    _write_state(
                        spark, cell_all, sig_all,
                        f"{side_path}/v{batch_id}", sort=True,
                    )
                    keep = {batch_id} | ({usable[-1]} if usable else set())
                    base = usable[-1] if usable else None
            app_t.join()
            if app_errs:
                raise app_errs[0]
            _gc_versions(spark, side_path, versions, keep, batch_id)
            _gc_deltas(spark, side_path, base, batch_id)
        finally:
            if app_t is not None and app_t.is_alive():
                # an exception on the state-write path must not yank
                # cached blocks out from under the still-running append
                app_t.join(300)
            for _df in (sigs, bb, prev, *state_tmp):
                if _df is not None:
                    _df.unpersist()

    writer = stream_df.writeStream.foreachBatch(handle_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
