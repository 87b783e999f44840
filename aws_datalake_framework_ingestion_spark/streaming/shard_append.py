"""Streaming shard-append: a document stream is deduplicated against
the already-ingested corpus per micro-batch and appended as immutable
versioned SEGMENTS that training-shard materialization reads.

Bridges three proven pieces into the continuous-ingestion seam a
training pipeline runs 24/7 (the reference's streaming landing zone,
dataIngestionUtils.py:251-286, upgraded from "concatenate JSON" to
"content-dedup and publish"):

* per-batch content dedup = ``ns_incremental_dedup``'s fingerprint
  anti-join (32 B md5 keys; the join shuffles hashes, never text);
* the corpus storage = ``sources/versioned.py``'s immutable
  ``v=NNNNN`` directories with optimistic claim + pointer flip — here
  each version is a batch DELTA (segment), and the corpus is the
  UNION of segments, read with partition discovery so ``v`` is a
  partition column (as-of reads prune segments at the scan);
* the stream machinery = ``streaming/upsert.py``'s foreachBatch +
  AvailableNow + checkpoint recipe.

Exactly-once is CONTENT-level and rests on two properties:

1. a segment directory rename is atomic (a crash mid-write leaves an
   unreferenced ``_stage.tmp.*`` the versioned vacuum reaps; readers
   read only ``v=NNNNN`` directories and never see it);
2. a batch redelivered after a crash-between-side-effect-and-
   checkpoint-commit re-runs the anti-join against a corpus that now
   CONTAINS its fingerprints, so zero survivors remain and no second
   segment is published (empty batches publish nothing).

Together: any prefix of crashes/restarts converges to the same corpus
bytes as an uninterrupted run — pinned by
tests/test_streaming.py::test_shard_append_crash_mid_batch_resume.

Within a batch, duplicates keep the LOWEST doc_id; across batches the
first-arriving fingerprint wins (later re-crawls of the same content
are dropped).  At 100 TB the anti-join's corpus side is one pruned
column (fp) of an append-only dataset — a compact fingerprint scan
per batch; for lower latency keep a dedicated fp index segment
alongside (same join, smaller scan).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.versioned import _version_dirs, write_version

_FP_SCHEMA = T.StructType([T.StructField("fp", T.StringType())])


def corpus_fps(spark: SparkSession, corpus_dir: str) -> DataFrame | None:
    """Fingerprint column of every committed segment (None when the
    corpus has no segments yet).  The declared one-column schema means
    this scan reads ONLY the fp column at any corpus size, and infers
    no schema."""
    if not _version_dirs(spark, corpus_dir) and not _base_info(
        spark, corpus_dir
    ):
        return None
    return read_corpus(spark, corpus_dir, schema=_FP_SCHEMA).select("fp")


def read_corpus(
    spark: SparkSession,
    corpus_dir: str,
    as_of: int | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """The corpus as the union of committed segments, with the segment
    number as partition column ``v``.  ``as_of`` time-travels to the
    corpus after segment N — partition pruning on the live segments
    (a data filter on the stored ``v`` column after compaction).

    Resolves the compaction base when one is committed (see the
    segment-compaction section below): rows = the compacted directory
    (which carries each row's ORIGINAL segment number as a data
    column) plus any live segment published after the compaction's
    high-water mark.

    ``schema`` is the data schema of the segments (without ``v``),
    for a caller that wrote the store and so knows it.  Without it
    each Parquet read infers the schema from the footers, one Spark
    job each; with it the read launches none, ``v`` is still
    discovered from the segment paths (and read as the ``int`` data
    column it is in the compacted directory), and a subset of the
    stored columns reads only those columns.

    The live segments are read by their explicit ``v=NNNNN`` paths,
    taken from this call's directory listing, not by a ``v=*`` glob:
    a glob would also list every segment a compaction folded until
    ``vacuum_corpus`` deletes it.  Above 32 listed segments
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``) a
    read pays one parallel-listing job; compaction is the remedy, and
    it takes effect at once, before vacuum."""
    base = corpus_dir.rstrip("/")
    info = _base_info(spark, base)
    upto = -1 if info is None else info[1]
    live = [v for v in _version_dirs(spark, base) if v > upto]

    def _reader(sch: T.StructType | None):
        return spark.read if sch is None else spark.read.schema(sch)

    def _segments() -> DataFrame:
        # a store with no segment at all keeps the glob, which fails
        # as a missing path
        paths = [f"{base}/v={v:05d}" for v in live] or [f"{base}/v=*"]
        return _reader(schema).option("basePath", base).parquet(*paths)

    if info is None:
        df = _segments()
    else:
        c_num = info[0]
        # a new StructType: StructType.add would mutate the caller's
        c_schema = (
            None
            if schema is None
            else T.StructType(
                [*schema.fields, T.StructField("v", T.IntegerType())]
            )
        )
        df = _reader(c_schema).parquet(f"{base}/c={c_num:05d}")
        if live:
            df = df.unionByName(
                _segments().withColumn("v", F.col("v").cast("int"))
            )
    if as_of is not None:
        df = df.where(F.col("v") <= as_of)
    return df


def append_batch(
    spark: SparkSession, batch_df: DataFrame, corpus_dir: str
) -> int:
    """Dedup one batch against itself and the corpus, publish the
    survivors as the next immutable segment (nothing published when
    no survivors — the idempotency hinge for redelivered batches).
    Returns the number of appended docs."""
    w = Window.partitionBy("fp").orderBy("doc_id")
    fresh = (
        batch_df.withColumn("fp", F.md5("text"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    existing = corpus_fps(spark, corpus_dir)
    if existing is not None:
        fresh = fresh.join(existing, "fp", "left_anti")
    survivors = fresh.select("doc_id", "text", "fp").persist()
    try:
        n = survivors.count()
        if n:
            write_version(spark, survivors, corpus_dir)
    finally:
        survivors.unpersist()
    return n


def stream_shard_append(
    spark: SparkSession,
    in_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> None:
    """Consume all currently staged JSON document files (AvailableNow)
    and append their novel content to the versioned corpus.  Re-running
    with the same checkpoint consumes only newly staged files; a
    redelivered batch appends nothing (see module doc)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(in_dir)

    def sink(batch_df: DataFrame, _epoch: int) -> None:
        append_batch(spark, batch_df, corpus_dir)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def shards_from_corpus(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    budget: int = 2048,
    as_of: int | None = None,
) -> DataFrame:
    """Materialize training shards from the (optionally as-of) corpus —
    byte-deterministic for a given corpus state, so re-publishing the
    same snapshot rewrites identical shards (shards.materialize_shards
    contract); returns the manifest."""
    from ..shards import materialize_shards

    docs = read_corpus(spark, corpus_dir, as_of=as_of).select(
        "doc_id", "text"
    )
    return materialize_shards(
        spark, docs, posixpath.join(out_dir), budget=budget
    )


# --------------------------------------------------------------------------
# Segment compaction (union-store maintenance)
# --------------------------------------------------------------------------
#
# A 24/7 delta store accretes one segment per batch — after a year
# that is hundreds of small directories whose footers every fp scan
# must touch.  Compaction rewrites all segments up to a high-water
# mark as ONE directory while preserving union semantics, the per-row
# segment number (as-of reads keep working), and appendability:
#
#     {corpus}/v=00001..v=00042      live delta segments
#     {corpus}/c=00001               compacted rows of v<=upto
#                                    (v carried as a DATA column)
#     {corpus}/_BASE                 "c_num upto" — the commit point
#
# Readers resolve _BASE: rows = c=<c_num> UNION v-segments with
# v > upto.  The compacted directory is INVISIBLE until the _BASE
# single-object write lands (same object-store-safe commit class as
# versioned.py's pointer flip), so a compactor crash leaves readers
# untouched: a crash before the rename orphans a staging dir (vacuum
# reaps it past a TTL); a crash AFTER the rename but before the _BASE
# write leaves an unreferenced c-dir that the NEXT compaction detects
# as its own dead predecessor, reaps, and rewrites.  Concurrent
# APPENDS are safe: a segment published after the compactor listed its
# high-water mark has v > upto and stays live.  Compactors themselves
# are single-flight (the control plane serializes maintenance — the
# same assumption as Delta OPTIMIZE without a transaction log).
# Re-compaction reads through the previous base, so generations chain.
#
# Vacuum reaps superseded v-dirs EXCEPT the highest one overall: its
# presence keeps write_version's next-number scan monotone (a new
# segment must never reuse a number at or below upto).

BASE_MARKER = "_BASE"


def _base_info(spark: SparkSession, corpus_dir: str) -> tuple[int, int] | None:
    """Resolve the compaction commit pointer.  ABSENT marker → None
    (never-compacted store, read every v-segment).  PRESENT but
    malformed marker → hard error: after a compaction+vacuum the
    v-segments no longer contain the folded rows, so falling back on a
    torn/empty read would silently DROP compacted data from the scan
    — corruption must stop the reader, not shrink its input.
    (The marker is written atomically — ``_write_text_atomic`` —
    so this branch only fires on genuine storage corruption.)"""
    from ..sources.manifest import _read_text

    base = corpus_dir.rstrip("/")
    text = _read_text(spark, f"{base}/{BASE_MARKER}")
    if text is None:
        return None
    parts = text.split()
    if len(parts) != 2 or not all(p.isdigit() for p in parts):
        raise IOError(
            f"corrupt {BASE_MARKER} under {base}: {text!r} (expected "
            "'<c_num> <upto>'); refusing to fall back to the v=* glob "
            "because vacuumed segments would silently vanish from reads"
        )
    return int(parts[0]), int(parts[1])


def compact_corpus(spark: SparkSession, corpus_dir: str) -> dict:
    """Rewrite every committed segment up to the current high-water
    mark as one compacted directory and flip ``_BASE`` to it.  Returns
    {c_version, upto, compacted, n_live_segments_folded}."""
    import uuid as _uuid

    from ..sources.files import _fs
    from ..sources.manifest import _write_text, _write_text_atomic

    base = corpus_dir.rstrip("/")
    vs = _version_dirs(spark, base)
    info = _base_info(spark, base)
    prev_c, prev_upto = info if info else (0, 0)
    upto = vs[-1] if vs else prev_upto
    folded = [v for v in vs if prev_upto < v <= upto]
    if not folded:
        # nothing new to fold — including the empty/never-appended
        # store, which must be a maintenance no-op, not a path error
        return {
            "c_version": prev_c,
            "upto": prev_upto,
            "compacted": False,
            "n_live_segments_folded": 0,
        }
    snap = read_corpus(spark, base).where(F.col("v") <= upto)
    snap = snap.withColumn("v", F.col("v").cast("int"))
    c_num = prev_c + 1
    fs, jvm = _fs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    final = f"{base}/c={c_num:05d}"
    if fs.exists(P(final)):
        # compaction is single-flight, so an existing c-dir that _BASE
        # does not point at can only be OUR OWN predecessor that died
        # between its rename and its _BASE write.  Its snapshot may be
        # stale (new segments since) — reap it and rewrite, instead of
        # wedging every future compaction on the exists check.
        fs.delete(P(final), True)
    token = _uuid.uuid4().hex[:8]
    tmp = f"{base}/_cstage.tmp.{token}"
    # r14: size the snapshot write — the whole point of compaction is
    # fewer, larger files.  r15: size-conditional (sized_for_publish):
    # a small estimated snapshot coalesces to one file with no extra
    # exchange; big ones REBALANCE to advisory-sized files.
    from ..sources.versioned import sized_for_publish

    sized_for_publish(snap).write.mode("overwrite").parquet(tmp)
    # Owner marker: identifies WHOSE rewrite the final dir holds.
    # Single-flight is an assumption, not an enforced lock — if it is
    # ever violated (a hung compactor resuming), two compactors can
    # interleave delete-existing-c-dir / rename / _BASE-write such
    # that one flips _BASE onto the OTHER's rewrite (or onto nothing).
    # The claim check below turns that silent corruption into a loud
    # failure, mirroring write_version's nested-staging verification.
    # Underscore prefix → invisible to Spark's parquet reader.
    _write_text(spark, f"{tmp}/_OWNER.{token}", token)
    if not fs.rename(P(tmp), P(final)):
        fs.delete(P(tmp), True)
        raise IOError(
            f"compact_corpus: could not publish {tmp} -> {final} "
            "(concurrent compactor? compaction is single-flight)"
        )
    if not fs.exists(P(f"{final}/_OWNER.{token}")):
        raise IOError(
            f"compact_corpus: {final} does not carry owner token "
            f"{token} after publish — a concurrent compactor replaced "
            "the directory (single-flight violated); NOT flipping "
            f"{BASE_MARKER}"
        )
    _write_text_atomic(spark, f"{base}/{BASE_MARKER}", f"{c_num} {upto}")
    return {
        "c_version": c_num,
        "upto": upto,
        "compacted": True,
        "n_live_segments_folded": len(folded),
    }


#: Default reader-grace window for vacuum_corpus — matches the
#: staging-dir TTL posture (and Delta VACUUM's retention-window
#: convention): long enough that any realistic in-flight scan that
#: resolved _BASE before the compaction committed has finished.
DEFAULT_RETAIN_MS = 24 * 3600 * 1000


def vacuum_corpus(
    spark: SparkSession,
    corpus_dir: str,
    tmp_ttl_ms: int = 24 * 3600 * 1000,
    retain_ms: int = DEFAULT_RETAIN_MS,
) -> dict:
    """Reap what compaction superseded: v-dirs <= upto (except the
    highest v-dir overall — see module note on append monotonicity),
    c-dirs below the active one, and crashed-compactor staging dirs.
    Never touches anything ``_BASE`` points at; a store that was never
    compacted is left untouched.

    Staging dirs are reaped only past ``tmp_ttl_ms`` (default 24 h) so
    a concurrently-RUNNING compactor's staging dir is never yanked
    from under it (vacuum_versions' guard); pass 0 only when no
    compactor can be in flight.

    ``retain_ms`` is the same guard for READERS: a reader that
    resolved ``_BASE`` just before the compaction committed plans its
    scan over the v-segments, and deleting the folded v-dirs under it
    mid-scan turns into FileNotFoundException.  Superseded v-dirs
    (and dead c-dirs) are therefore kept until at least ``retain_ms``
    has passed since the ``_BASE`` flip that superseded them — size
    it to your longest reader (Delta VACUUM's retention-window
    posture).  The DEFAULT is the 24 h reader-grace window
    (ADVICE/VERDICT r13: a 24/7 index composes appends + compaction
    + queries, and the old immediate-reap default could yank folded
    v-dirs from under a mid-scan reader unless every caller
    remembered to opt in).  Pass ``retain_ms=0`` for the immediate
    reap ONLY when no reader can be in flight across the vacuum
    (offline maintenance, tests, single-flight batch jobs — the same
    assumption the compactor itself documents)."""
    import re as _re
    import time as _time

    from ..sources.files import _fs

    base = corpus_dir.rstrip("/")
    info = _base_info(spark, base)
    if info is None:
        return {"v_deleted": [], "c_deleted": [], "stage_deleted": 0}
    c_num, upto = info
    fs, jvm = _fs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    now_ms = int(_time.time() * 1000)
    if retain_ms:
        base_age_ms = now_ms - fs.getFileStatus(
            P(f"{base}/{BASE_MARKER}")
        ).getModificationTime()
        if base_age_ms < retain_ms:
            # the latest compaction is younger than the retention
            # window — in-flight readers may still be scanning the
            # segments it folded; defer everything but stage orphans
            upto = -1
            c_num = 0
    vs = _version_dirs(spark, base)
    keep_highest = vs[-1] if vs else None
    victims = [v for v in vs if v <= upto and v != keep_highest]
    for v in victims:
        fs.delete(P(f"{base}/v={v:05d}"), True)
    c_re = _re.compile(r"^c=(\d{5,})$")
    stage_re = _re.compile(
        r"^(_cstage|" + _re.escape(BASE_MARKER) + r")\.tmp\.[0-9a-f]+$"
    )
    c_deleted, stage_deleted = [], 0
    for st in fs.listStatus(P(base)):
        name = st.getPath().getName()
        m = c_re.match(name)
        if m and int(m.group(1)) < c_num:
            fs.delete(st.getPath(), True)
            c_deleted.append(int(m.group(1)))
        elif (
            stage_re.match(name)
            and now_ms - st.getModificationTime() >= tmp_ttl_ms
        ):
            fs.delete(st.getPath(), True)
            stage_deleted += 1
    return {
        "v_deleted": victims,
        "c_deleted": sorted(c_deleted),
        "stage_deleted": stage_deleted,
    }
