"""Crash-resumable, per-stage-ledgered corpus→shards curation pipeline.

``pipeline.run_asset`` rebuilds the reference's 6-stage ingestion DAG
(dl_fmwrk_dag_template.py:39-113) for ONE asset; this module applies
the same control-plane contract — every stage writes a catalog status
row, statuses init/flip exactly like the reference's ledger columns
(dataIngestionUtils.py:240-242) — to the LLM-data curation chain the
north-star queries implement piecewise:

    gopher rules → lang filter → near-dup canonicalization →
    contamination scrub → deterministic sample → training shards

Control-plane design (what the reference's Airflow DAG gives and a
100 TB run cannot live without):

* **Stage outputs are materialized datasets** under
  ``{work_root}/{run_id}/stageNN_{name}`` — at scale each stage is
  hours of work; recomputing the whole chain because the last stage
  crashed is not an option.
* **The ledger row is the commit point.**  A stage is "done" iff a
  ``succeeded`` row for (run_id, stage) exists in the catalog's
  ``curation_ledger`` table, appended strictly AFTER the stage's
  output finished writing.  A crash mid-stage leaves a partial
  directory and no row → resume recomputes that stage, overwriting
  the partial output.  A crash between ledger-append and the next
  stage → resume skips everything committed.
* **Resume is byte-identical.**  Every stage is a deterministic pure
  function of its input rows, and ``shards.materialize_shards`` is
  byte-deterministic, so an interrupted run resumed later publishes
  the SAME shard files + manifest digests as an uninterrupted run
  (pinned by tests/test_curation_pipeline.py).
* **Spec drift fails loudly.**  Each ledger row carries a fingerprint
  of the stage parameters; resuming a run_id with a different spec
  raises instead of silently mixing half-old half-new outputs.

Failure semantics match pipeline.run_asset: fail fast, record a
``failed`` ledger row, re-raise (the reference logs-and-continues —
SURVEY §4.3 documents why that is a bug, not a feature).
"""

from __future__ import annotations

import hashlib
import json
import posixpath
from dataclasses import asdict, dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Catalog
from .sources.versioned import sized_for_publish

LEDGER_TABLE = "curation_ledger"


@dataclass(frozen=True)
class CurationSpec:
    """Parameters of one curation run (one row per knob a production
    config would expose; defaults are tuned to be NON-degenerate on
    the synthetic corpus — every stage drops something, none drops
    everything)."""

    run_id: str
    lang: str = "en"
    min_words: int = 20
    max_words: int = 100_000
    min_mean_len: float = 4.0
    max_mean_len: float = 10.0
    min_alpha_frac: float = 0.8
    min_stop_hits: int = 2
    # docs with md5(doc_id) below this hex prefix form the held-out
    # eval probe set; the contamination stage removes every doc that
    # shares a 5-token-prefix fingerprint with a probe
    probe_prefix: str = "05"
    # deterministic hash-threshold subsample kept for training (~75%)
    sample_prefix: str = "c0"
    shard_budget: int = 2048

    def fingerprint(self) -> str:
        return hashlib.md5(
            json.dumps(asdict(self), sort_keys=True).encode()
        ).hexdigest()


def _is_probe(spec: CurationSpec):
    """Held-out eval probe membership of a doc (md5(doc_id) below the
    probe prefix)."""
    return (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        < spec.probe_prefix
    )


def _probe_fps(docs: DataFrame, spec: CurationSpec) -> DataFrame:
    """Fingerprints of the held-out probe docs, derived from the
    ORIGINAL corpus (eval membership must not depend on what earlier
    stages dropped)."""
    return docs.where(_is_probe(spec)).select(_fp().alias("fp")).distinct()


def _fp():
    """5-token-prefix contamination fingerprint (the same key
    ns_contamination_check equi-joins on)."""
    return F.md5(F.concat_ws(" ", F.slice(F.split(F.trim("text"), " "), 1, 5)))


def _stage_gopher(spec: CurationSpec, docs: DataFrame) -> DataFrame:
    from .operators.text import gopher_rules

    return (
        gopher_rules(
            docs,
            min_words=spec.min_words,
            max_words=spec.max_words,
            min_mean_len=spec.min_mean_len,
            max_mean_len=spec.max_mean_len,
            min_alpha_frac=spec.min_alpha_frac,
            min_stop_hits=spec.min_stop_hits,
            carry_cols=("text", "n_chars"),
        )
        .where(F.col("keep"))
        .select("doc_id", "text", "n_chars")
    )


def _stage_lang(spec: CurationSpec, docs: DataFrame) -> DataFrame:
    from .operators.text import lang_id

    return lang_id(docs).where(F.col("lang_pred") == spec.lang).select(
        "doc_id", "text", "n_chars"
    )


def _stage_dedup(spec: CurationSpec, docs: DataFrame) -> DataFrame:
    """Near-dup canonicalization: token-SET signature groups, best
    member (longest, then lowest id) survives — the same semantics
    ns_dedup_canonical / ns_curation_funnel pin.  Signature groups
    are near-dup clusters (small by construction), so the window
    partitions by a high-cardinality key — never global."""
    from pyspark.sql import Window as W

    w = W.partitionBy("_s").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.withColumn("_s", _sig())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "text", "n_chars")
    )


def _stage_contamination(
    spec: CurationSpec, docs: DataFrame, probes_fp: DataFrame
) -> DataFrame:
    """Anti-join on the 32 B fingerprint — probes are eval data; any
    training doc sharing their prefix fingerprint leaks the benchmark
    (including the probe docs themselves)."""
    return (
        docs.withColumn("fp", _fp())
        .join(F.broadcast(probes_fp), "fp", "left_anti")
        .select("doc_id", "text", "n_chars")
    )


def _stage_sample(spec: CurationSpec, docs: DataFrame) -> DataFrame:
    return docs.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        < spec.sample_prefix
    )


STAGES: tuple[tuple[str, object], ...] = (
    ("gopher_rules", _stage_gopher),
    ("lang_filter", _stage_lang),
    ("dedup_canonical", _stage_dedup),
    ("contamination", _stage_contamination),
    ("sample", _stage_sample),
)
FINAL_STAGE = "shards"


def _ledger_row(
    run_id: str,
    spec: CurationSpec,
    stage: int,
    name: str,
    status: str,
    n_in: int | None,
    n_out: int | None = None,
    out_path: str | None = None,
) -> dict:
    return {
        "run_id": run_id,
        "stage": stage,
        "name": name,
        "status": status,
        "n_in": n_in,
        "n_out": n_out,
        "out_path": out_path,
        "spec_fp": spec.fingerprint(),
        "updated_ts": datetime.now(),
    }


def run_curation(
    catalog: Catalog,
    spec: CurationSpec,
    docs: DataFrame,
    work_root: str,
    on_stage_complete=None,
) -> dict:
    """Execute (or resume) the curation chain for ``spec.run_id``.

    Returns {run_id, shard_dir, manifest (DataFrame), stages_run,
    stages_skipped}.  ``on_stage_complete(name)`` fires after each
    stage's ledger commit — the crash-injection seam the resume tests
    use (raising there models dying between stages).
    """
    spark = catalog.spark
    if not catalog.exists(LEDGER_TABLE):
        catalog.create(LEDGER_TABLE)

    led = catalog.read(LEDGER_TABLE).where(
        (F.col("run_id") == spec.run_id) & (F.col("status") == "succeeded")
    )
    # completed stages: bounded by the stage count of ONE run (≤ 6
    # rows per run_id by construction)
    done = {r["name"]: r for r in led.collect()}
    fp = spec.fingerprint()
    for name, row in done.items():
        if row["spec_fp"] != fp:
            raise ValueError(
                f"run_id {spec.run_id!r} has committed stage {name!r} "
                f"under a different spec (ledger {row['spec_fp'][:8]}, "
                f"current {fp[:8]}) — resuming would mix outputs; use a "
                "new run_id or delete the old run's ledger rows"
            )

    run_root = posixpath.join(work_root, spec.run_id)
    probes_fp = _probe_fps(docs, spec)
    cur = docs.select("doc_id", "text", "n_chars")
    stages_run: list[str] = []
    stages_skipped: list[str] = []
    # each stage's committed n_out IS the next stage's n_in — carried
    # forward instead of recounted (one less job per stage; the
    # chain invariant n_in(k+1) == n_out(k) is pinned by tests and
    # the cur_pipeline_run oracle)
    n_carry: int | None = None

    for i, (name, fn) in enumerate(STAGES, start=1):
        out_path = posixpath.join(run_root, f"stage{i:02d}_{name}")
        if name in done:
            cur = spark.read.parquet(done[name]["out_path"])
            n_carry = done[name]["n_out"]
            stages_skipped.append(name)
            continue
        n_in = n_carry if n_carry is not None else cur.count()
        try:
            out = (
                fn(spec, cur, probes_fp)
                if name == "contamination"
                else fn(spec, cur)
            )
            # n_out rides the write job as an observed metric: the
            # write is the only action, so the observation sees every
            # output row exactly once
            from pyspark.sql import Observation

            obs = Observation()
            out = out.observe(obs, F.count(F.lit(1)).alias("n"))
            # mode=overwrite clobbers any partial directory a previous
            # crash left — the ledger row below, not the directory, is
            # the commit marker.  The stage is written through the
            # publish size rule (the next stage, and any resume,
            # re-reads this directory).
            sized_for_publish(out).write.mode("overwrite").parquet(
                out_path
            )
        except Exception:
            catalog.insert(
                LEDGER_TABLE,
                [_ledger_row(spec.run_id, spec, i, name, "failed", n_in)],
            )
            raise
        cur = spark.read.parquet(out_path)
        n_out = int(obs.get["n"])
        n_carry = n_out
        row = _ledger_row(
            spec.run_id, spec, i, name, "succeeded", n_in, n_out, out_path
        )
        catalog.insert(LEDGER_TABLE, [row])
        stages_run.append(name)
        if on_stage_complete:
            on_stage_complete(name)

    shard_dir = posixpath.join(run_root, FINAL_STAGE)
    n_final = len(STAGES) + 1
    if FINAL_STAGE in done:
        from .shards import read_manifest

        # read from the ledger's recorded path, like the doc stages:
        # work_root is not part of the spec fingerprint, so a resume
        # launched with a different work_root must still find the
        # committed shards where they were actually published
        shard_dir = done[FINAL_STAGE]["out_path"]
        manifest = read_manifest(spark, shard_dir)
        stages_skipped.append(FINAL_STAGE)
    else:
        from .shards import materialize_shards

        n_in = n_carry if n_carry is not None else cur.count()
        try:
            manifest = materialize_shards(
                spark, cur, shard_dir, budget=spec.shard_budget
            )
        except Exception:
            row = _ledger_row(
                spec.run_id, spec, n_final, FINAL_STAGE, "failed", n_in
            )
            catalog.insert(LEDGER_TABLE, [row])
            raise
        n_out = manifest.count()
        row = _ledger_row(
            spec.run_id, spec, n_final, FINAL_STAGE, "succeeded", n_in, n_out,
            shard_dir,
        )
        catalog.insert(LEDGER_TABLE, [row])
        stages_run.append(FINAL_STAGE)
        if on_stage_complete:
            on_stage_complete(FINAL_STAGE)

    return {
        "run_id": spec.run_id,
        "shard_dir": shard_dir,
        "manifest": manifest,
        "stages_run": stages_run,
        "stages_skipped": stages_skipped,
    }


# --------------------------------------------------------------------------
# Incremental (delta-batch) curation — the 24/7 "daily delta" posture
# --------------------------------------------------------------------------

#: data schemas of the sig and probe registries (read back with them,
#: so no read infers a schema)
_BATCH_FIELD = T.StructField("batch", T.IntegerType())
_SIGS_SCHEMA = T.StructType(
    [T.StructField("sig", T.StringType()), _BATCH_FIELD]
)
_PROBES_SCHEMA = T.StructType(
    [T.StructField("fp", T.StringType()), _BATCH_FIELD]
)

INC_STAGES: tuple[str, ...] = (
    "gopher_rules",
    "lang_filter",
    "dedup_novel",
    "contamination",
    "sample",
    "publish",
)


def _sig():
    """Near-dup canonicalization signature (token-SET md5) — the same
    key _stage_dedup windows on."""
    return F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(F.trim("text"), " ")))
        )
    )


def run_curation_incremental(
    catalog: Catalog,
    spec: CurationSpec,
    batch_docs: DataFrame,
    store_root: str,
    batch_id: int,
) -> dict:
    """Curate ONE delta batch against the pipeline's accumulated state
    — the shape a 100 TB corpus actually runs day-to-day, where
    yesterday's output is published and immutable and only today's
    arrivals are processed.

    Composes run_curation's per-stage ledger contract (reference DAG
    statuses, dl_fmwrk_dag_template.py:39-113) applied per BATCH, and
    streaming/shard_append.py's versioned-segment publish.

    Semantics (deliberately weaker than the one-shot pipeline, and
    documented as such — published data is never revoked):

    * gopher / lang / sample are per-doc deterministic — identical to
      the one-shot stages on any batch split.
    * **dedup_novel** is first-SEEN-wins: a sig registry (versioned
      store, one 32 B md5 per post-lang doc ever seen) blocks any
      content whose signature appeared in an EARLIER batch — even if
      that earlier doc was later dropped by contamination/sampling
      (content-level decisions must not be re-rolled under a new
      doc_id).  Within a batch the one-shot rule applies (n_chars
      desc, doc_id).  Unlike global dedup, a later batch can never
      dethrone an earlier winner.
    * **contamination** scrubs the CURRENT batch against the probe
      fingerprints of all batches seen so far; probes arriving later
      do not claw back already-published docs (no revocation).
    * **publish** appends the batch's survivors as one immutable
      versioned segment (sources/versioned.py) tagged with the batch
      id.

    Crash-safety: the batch's SIX ledger rows are appended as one
    atomic insert AFTER the store publishes — the batch is the commit
    unit.  Every pre-publish stage is deterministic and the
    sig-registry anti-join excludes the batch's own rows (`batch <
    batch_id`), so a crash anywhere re-runs to the same survivors.  A
    crash between a segment write and the ledger append is healed by
    one check that all three stores share: one aggregate over the
    store's rows of this batch gives their count, content digest (over
    ``sig``, ``fp`` or ``doc_id``) and segment; a segment present ⇒
    skip the write and require the recomputed rows' count and digest
    to equal it, so a replay with CHANGED batch input raises instead
    of silently keeping the old rows.  The ledger rows of stages 3, 4
    and 6 name the segment each published
    (``{store_root}/sigs/v=00012``; None when it published none), so
    the check scans a store only when it holds a segment that no
    committed row of the pipeline names, or a compaction base: only a
    crashed attempt of this batch leaves a segment of it, and such a
    segment is never named.  A fresh batch on a clean history thus
    launches no job and reads no store before its writes.  A stage
    failure records a ``failed`` ledger row and re-raises
    (run_curation's fail-fast contract).  Re-running a fully-committed
    batch is a no-op returning the committed funnel.

    At scale: each count is over ONE batch; the two cross-batch joins
    scan a single pruned 32 B column (sig registry / probe fps) of
    append-only stores — the shard_append posture.

    Returns {run_key, replayed, funnel: [(stage, name, n_in, n_out)]}.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation
    from pyspark.sql import Window as _W

    from .sources.versioned import _version_dirs, write_version

    # store reads go through the compaction-aware union reader: the
    # sigs/probes registries and the curated corpus are exactly the
    # stores that accrete one segment per batch, so they must stay
    # readable after shard_append.compact_corpus/vacuum_corpus folds
    # their history behind a _BASE commit
    from .streaming.shard_append import _base_info as _store_base
    from .streaming.shard_append import read_corpus as _read_store

    spark = catalog.spark
    if not catalog.exists(LEDGER_TABLE):
        catalog.create(LEDGER_TABLE)
    run_key = f"{spec.run_id}@b{batch_id:03d}"
    fp = spec.fingerprint()
    # bounded collect: ≤6 rows per committed batch of ONE pipeline
    prior = (
        catalog.read(LEDGER_TABLE)
        .where(
            F.col("run_id").startswith(spec.run_id + "@")
            & (F.col("status") == "succeeded")
        )
        .collect()
    )
    for row in prior:
        if row["spec_fp"] != fp:
            raise ValueError(
                f"incremental pipeline {spec.run_id!r} has committed "
                f"batches under a different spec (ledger "
                f"{row['spec_fp'][:8]}, current {fp[:8]}) — a spec "
                "change requires a new pipeline run_id"
            )
    committed = {(r["run_id"], r["name"]): r for r in prior}
    if all((run_key, n) in committed for n in INC_STAGES):
        rows = sorted(
            (committed[(run_key, n)] for n in INC_STAGES),
            key=lambda r: r["stage"],
        )
        return {
            "run_key": run_key,
            "replayed": True,
            "funnel": [
                (r["stage"], r["name"], r["n_in"], r["n_out"]) for r in rows
            ],
        }

    corpus_dir = posixpath.join(store_root, "corpus")
    probes_dir = posixpath.join(store_root, "probes")
    sigs_dir = posixpath.join(store_root, "sigs")

    def _seg(path: str, v: int) -> str:
        """The name a ledger row gives segment ``v`` of store ``path``."""
        return posixpath.join(path, f"v={v:05d}")

    # A store needs the own-segment scan only when it holds a segment
    # that no committed row names, or a compaction base, whose folded
    # rows hide their segment directories (see Crash-safety above).
    # Legacy rows (out_path the corpus directory, or None) name no
    # segment, so their stores keep the scan.  The listings are
    # driver-side and launch no job.
    named = {r["out_path"] for r in prior}
    has: dict[str, bool] = {}
    may_hold_own: dict[str, bool] = {}
    for path in (sigs_dir, probes_dir, corpus_dir):
        vs = _version_dirs(spark, path)
        based = _store_base(spark, path) is not None
        has[path] = bool(vs) or based
        may_hold_own[path] = based or any(
            _seg(path, v) not in named for v in vs
        )

    def _store(path: str, schema: T.StructType) -> DataFrame:
        return _read_store(spark, path, schema=schema)

    def _digest(df: DataFrame, key: str, *extra) -> tuple:
        """(count, decimal-exact 56-bit content sum) over ``key`` — the
        order-free drift detector (1-row aggregate) — followed by the
        ``extra`` aggregates."""
        md5 = F.md5(F.col(key).cast("string"))
        h = F.conv(F.substring(md5, 1, 14), 16, 10).cast("decimal(38,0)")
        return tuple(
            df.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(h).alias("h"),
                *extra,
            ).first()
        )

    def _publish(
        path: str, df: DataFrame, key: str, nonempty: bool
    ) -> str | None:
        """Idempotently append this batch's rows ``df`` to the store at
        ``path``; returns the segment that holds them (None when there
        are none).  A segment of this batch already in the store (the
        replay-after-crash seam) is kept, and the recomputed rows must
        match its count and content digest over ``key``.  ``nonempty``
        is whether ``df`` has rows, known from the observed counts."""
        if may_hold_own[path]:
            schema = T.StructType(
                [T.StructField(key, df.schema[key].dataType), _BATCH_FIELD]
            )
            own = _store(path, schema).where(F.col("batch") == batch_id)
            n, h, v = _digest(own, key, F.max("v"))
            if n:  # n == 0: the store holds no segment of this batch
                again = _digest(df, key)
                if (n, h) != again:
                    raise RuntimeError(
                        f"{run_key}: {path} already holds this batch's "
                        f"rows but they differ from the re-run "
                        f"({(n, h)} vs {again}) — the batch input or spec "
                        "changed under a committed segment"
                    )
                return _seg(path, v)
        if nonempty:
            return _seg(path, write_version(spark, df, path))
        return None

    stage_at = 1  # failure tracker: which INC_STAGES entry is running
    try:
        # ---- ONE evaluation of the whole per-batch chain -----------
        # Each stage boundary carries an Observation, so the single
        # materializing action (survivors.count) reports every funnel
        # cardinality as observed metrics of the one pass.  The store
        # publishes run afterwards from the consumed observations;
        # commit order: the three store publishes, then the ledger
        # append.
        #
        # Neither anti-join build side (``seen``, ``probes``) is made
        # distinct: a left_anti keeps a row exactly when its key is
        # ABSENT from the build side, which duplicate keys there
        # cannot change, so a distinct would only add an aggregate
        # stage.  ``o[0]`` also counts the batch's probe docs
        # (``n_probe``); with the lang count ``n2`` that says whether
        # each registry write has rows.
        o = [Observation() for _ in range(6)]

        def _cnt(df: DataFrame, i: int, *extra) -> DataFrame:
            return df.observe(o[i], F.count(F.lit(1)).alias("n"), *extra)

        base = _cnt(
            batch_docs.select("doc_id", "text", "n_chars"),
            0,
            F.count_if(_is_probe(spec)).alias("n_probe"),
        )
        g = _cnt(_stage_gopher(spec, base), 1)
        stage_at = 2
        lang = _cnt(_stage_lang(spec, g), 2)

        # ---- first-seen-wins novelty against the sig registry ------
        stage_at = 3
        sigged = lang.withColumn("_s", _sig())
        w = _W.partitionBy("_s").orderBy(
            F.col("n_chars").desc(), F.col("doc_id")
        )
        within = (
            sigged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = (
            _store(sigs_dir, _SIGS_SCHEMA)
            .where(F.col("batch") < batch_id)
            .select(F.col("sig").alias("_s"))
            if has[sigs_dir]
            else None
        )
        novel = _cnt(
            within.join(seen, "_s", "left_anti")
            if seen is not None
            else within,
            3,
        )

        # ---- cumulative-probe contamination scrub ------------------
        stage_at = 4
        # The scrub must see all probe fps up to AND INCLUDING this
        # batch (no-revocation rule): (store rows with batch <= id) ∪
        # (this batch's fps computed from the raw batch).  The own-fps
        # subtree deliberately re-derives from ``batch_docs`` (NOT the
        # observed ``base`` node): the probe relation is a
        # broadcast-side branch of the same action, and routing it
        # through the observation node would double-count n0 when both
        # branches evaluate.  For the same reason ``n_probe`` is
        # counted on ``base`` only, which the main branch evaluates
        # once.
        own_probes = batch_docs.where(_is_probe(spec)).select(
            _fp().alias("fp")
        )
        probes = (
            _store(probes_dir, _PROBES_SCHEMA)
            .where(F.col("batch") <= batch_id)
            .select("fp")
            .unionByName(own_probes)
            if has[probes_dir]
            else own_probes
        )
        fped = novel.withColumn("fp", _fp())
        clean = _cnt(
            fped.join(F.broadcast(probes), "fp", "left_anti"), 4
        )

        # ---- deterministic sample ----------------------------------
        stage_at = 5
        survivors = (
            _cnt(_stage_sample(spec, clean), 5)
            .select(
                "doc_id", "text", "n_chars", F.col("_s").alias("sig"), "fp"
            )
            .withColumn("batch", F.lit(batch_id))
            .persist()
        )
        survivors.count()  # the ONE evaluation; fires o[0..5]
        n0, n1, n2, n3, n4, n5 = (int(ob.get["n"]) for ob in o)
        n_probe = int(o[0].get["n_probe"])
        stage_at = 3

        # ---- store publishes ---------------------------------------
        # The registry rows are re-derived from the raw batch
        # (observation-free subtrees: each publish is an action of its
        # own that must not flow through the consumed observations).
        # The registered sigs are the distinct sigs of the lang
        # output, non-empty exactly when n2 > 0; the registered probe
        # fps are non-empty exactly when the batch holds a probe doc.
        # The three stores are disjoint and none reads another's
        # output, so the publishes run concurrently, each on a thread
        # that carries the caller's job group.  The commit point stays
        # the ledger append below, after ALL three have succeeded; a
        # crash may leave any subset of the stores published, and
        # ``_publish`` heals each store on its own.
        raw_u = batch_docs.select("doc_id", "text", "n_chars")
        lang_u = _stage_lang(spec, _stage_gopher(spec, raw_u))
        publishes = {
            3: lambda: _publish(
                sigs_dir,
                lang_u.select(_sig().alias("sig"))
                .distinct()
                .withColumn("batch", F.lit(batch_id)),
                "sig",
                n2 > 0,
            ),
            4: lambda: _publish(
                probes_dir,
                _probe_fps(raw_u, spec).withColumn("batch", F.lit(batch_id)),
                "fp",
                n_probe > 0,
            ),
            6: lambda: _publish(corpus_dir, survivors, "doc_id", n5 > 0),
        }
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = {
                st: pool.submit(inherit(fn_)) for st, fn_ in publishes.items()
            }
        # in stage order, so a failure is recorded at the lowest
        # failed stage
        segs: dict[int, str | None] = {}  # stage -> segment it published
        for stage_at, fut in futures.items():
            segs[stage_at] = fut.result()
        survivors.unpersist()
    except Exception:
        failed = _ledger_row(
            run_key, spec, stage_at, INC_STAGES[stage_at - 1], "failed", None
        )
        catalog.insert(LEDGER_TABLE, [failed])
        raise

    counts = [n0, n1, n2, n3, n4, n5, n5]
    rows = [
        _ledger_row(
            run_key, spec, i, name, "succeeded", counts[i - 1], counts[i],
            segs.get(i),
        )
        for i, name in enumerate(INC_STAGES, start=1)
    ]
    catalog.insert(LEDGER_TABLE, rows)
    return {
        "run_key": run_key,
        "replayed": False,
        "funnel": [
            (i, n, counts[i - 1], counts[i])
            for i, n in enumerate(INC_STAGES, start=1)
        ],
    }
