"""Crash-resumable ledgered curation pipeline (curation.run_curation):
end-to-end run, per-stage ledger contract, kill-between-stages resume
to byte-identical shards, mid-stage partial overwrite, spec-drift
guard, failed-stage recording."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_ingestion_spark import curation as C
from aws_datalake_framework_ingestion_spark.catalog import Catalog
from aws_datalake_framework_ingestion_spark.shards import validate_shards
from aws_datalake_framework_ingestion_spark.tables import load

SF = "/root/testdata/sf0.001"

SPEC = dict(
    lang="en",
    min_words=20,
    min_mean_len=4.0,
    probe_prefix="05",
    sample_prefix="c0",
    shard_budget=1024,
)

ALL_STAGES = [n for n, _ in C.STAGES] + [C.FINAL_STAGE]


def _docs(spark):
    return load(spark, SF, "documents")


def _shard_bytes(shard_dir: str) -> dict[str, str]:
    out = {}
    for d in sorted(os.listdir(shard_dir)):
        if not d.startswith("shard_id="):
            continue
        p = os.path.join(shard_dir, d, "data.txt")
        out[d] = hashlib.md5(open(p, "rb").read()).hexdigest()
    return out


def test_run_curation_end_to_end(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = C.CurationSpec(run_id="r1", **SPEC)
    res = C.run_curation(cat, spec, _docs(spark), str(tmp_path / "work"))
    assert res["stages_run"] == ALL_STAGES
    assert res["stages_skipped"] == []

    led = (
        cat.read(C.LEDGER_TABLE)
        .where(F.col("run_id") == "r1")
        .orderBy("stage")
        .collect()
    )
    assert [r["name"] for r in led] == ALL_STAGES
    assert all(r["status"] == "succeeded" for r in led)
    # funnel: monotone non-increasing doc counts, nothing degenerate
    doc_stages = led[:-1]
    assert all(r["n_out"] <= r["n_in"] for r in doc_stages)
    assert all(r["n_out"] > 0 for r in doc_stages)
    assert any(r["n_out"] < r["n_in"] for r in doc_stages)
    # stage chaining: n_in of stage k+1 == n_out of stage k
    for a, b in zip(led, led[1:]):
        assert b["n_in"] == a["n_out"]
    # published corpus passes its own audit
    audit = validate_shards(spark, res["shard_dir"])
    assert audit.where(F.col("status") != "ok").count() == 0
    assert res["manifest"].count() == led[-1]["n_out"] > 0


def test_crash_between_stages_resumes_byte_identical(spark, tmp_path):
    docs = _docs(spark)
    # reference run, never interrupted
    cat_a = Catalog(spark, str(tmp_path / "cat_a"))
    spec_a = C.CurationSpec(run_id="ref", **SPEC)
    res_a = C.run_curation(cat_a, spec_a, docs, str(tmp_path / "work_a"))

    # interrupted run: die right after dedup_canonical commits
    cat_b = Catalog(spark, str(tmp_path / "cat_b"))
    spec_b = C.CurationSpec(run_id="crashy", **SPEC)

    class Boom(RuntimeError):
        pass

    def die_after(name):
        if name == "dedup_canonical":
            raise Boom(name)

    with pytest.raises(Boom):
        C.run_curation(
            cat_b, spec_b, docs, str(tmp_path / "work_b"),
            on_stage_complete=die_after,
        )

    # resume: committed stages are SKIPPED (not recomputed), the rest run
    res_b = C.run_curation(cat_b, spec_b, docs, str(tmp_path / "work_b"))
    assert res_b["stages_skipped"] == [
        "gopher_rules", "lang_filter", "dedup_canonical"
    ]
    assert res_b["stages_run"] == ["contamination", "sample", "shards"]

    # ledger is complete and every stage is committed exactly once
    led = (
        cat_b.read(C.LEDGER_TABLE)
        .where((F.col("run_id") == "crashy") & (F.col("status") == "succeeded"))
        .collect()
    )
    assert sorted(r["name"] for r in led) == sorted(ALL_STAGES)

    # byte-identical shards: same manifest digests AND same file bytes
    man = lambda r: sorted(  # noqa: E731
        map(tuple, r["manifest"].select(
            "shard_id", "n_docs", "n_tokens", "content_digest").collect())
    )
    assert man(res_b) == man(res_a)
    assert _shard_bytes(res_b["shard_dir"]) == _shard_bytes(res_a["shard_dir"])


def test_resume_from_different_work_root_reads_ledger_paths(spark, tmp_path):
    """work_root is NOT part of the spec fingerprint, so a resume may
    legitimately be launched with a different work_root (e.g. a new
    driver host mounting the same catalog + object store).  Every
    committed stage — INCLUDING the final shards stage — must be read
    back from the ledger's recorded out_path, not recomputed from the
    new work_root."""
    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = C.CurationSpec(run_id="moved", **SPEC)
    res_a = C.run_curation(cat, spec, docs, str(tmp_path / "work_old"))
    # resume the fully-committed run from a brand-new work_root: all
    # stages skip, and the returned shard_dir is the ORIGINAL publish
    # location from the ledger (work_new contains nothing)
    res_b = C.run_curation(cat, spec, docs, str(tmp_path / "work_new"))
    assert res_b["stages_run"] == []
    assert res_b["stages_skipped"] == ALL_STAGES
    assert res_b["shard_dir"] == res_a["shard_dir"]
    assert not (tmp_path / "work_new").exists()
    man = lambda r: sorted(  # noqa: E731
        map(tuple, r["manifest"].select(
            "shard_id", "n_docs", "n_tokens", "content_digest").collect())
    )
    assert man(res_b) == man(res_a)


def test_mid_stage_crash_partial_output_is_overwritten(spark, tmp_path):
    """A crash DURING a stage leaves a partial directory and no ledger
    row; the rerun must recompute the stage over the garbage."""
    work = tmp_path / "work"
    partial = work / "r2" / "stage01_gopher_rules"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"not parquet")
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = C.CurationSpec(run_id="r2", **SPEC)
    res = C.run_curation(cat, spec, _docs(spark), str(work))
    assert res["stages_run"] == ALL_STAGES
    audit = validate_shards(spark, res["shard_dir"])
    assert audit.where(F.col("status") != "ok").count() == 0


def test_spec_drift_on_resume_raises(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = C.CurationSpec(run_id="r3", **SPEC)

    class Boom(RuntimeError):
        pass

    def die(name):
        raise Boom(name)

    with pytest.raises(Boom):
        C.run_curation(
            cat, spec, _docs(spark), str(tmp_path / "work"),
            on_stage_complete=die,
        )
    drifted = C.CurationSpec(run_id="r3", **{**SPEC, "sample_prefix": "40"})
    with pytest.raises(ValueError, match="different spec"):
        C.run_curation(cat, drifted, _docs(spark), str(tmp_path / "work"))


def test_failed_stage_records_ledger_row(spark, tmp_path, monkeypatch):
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = C.CurationSpec(run_id="r4", **SPEC)

    def boom(spec, docs):
        raise RuntimeError("stage exploded")

    monkeypatch.setattr(
        C, "STAGES", (("gopher_rules", boom),) + C.STAGES[1:]
    )
    with pytest.raises(RuntimeError, match="stage exploded"):
        C.run_curation(cat, spec, _docs(spark), str(tmp_path / "work"))
    led = cat.read(C.LEDGER_TABLE).where(F.col("run_id") == "r4").collect()
    assert len(led) == 1
    assert (led[0]["name"], led[0]["status"]) == ("gopher_rules", "failed")


# --------------------------------------------------------------------------
# Incremental (delta-batch) curation — run_curation_incremental
# --------------------------------------------------------------------------


def _inc_spec(run_id):
    return C.CurationSpec(run_id=run_id, **SPEC)


def test_incremental_three_batches_funnel_and_segments(spark, tmp_path):
    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i1")
    store = str(tmp_path / "store")
    funnels = {}
    for b in range(3):
        res = C.run_curation_incremental(
            cat, spec, docs.where(F.col("doc_id") % 3 == b), store, b
        )
        assert not res["replayed"]
        funnels[b] = res["funnel"]
    for b, fn in funnels.items():
        names = [n for _, n, _, _ in fn]
        assert names == list(C.INC_STAGES)
        # chain invariant within the batch: n_in(k+1) == n_out(k)
        for (s1, _, _, o1), (s2, _, i2, _) in zip(fn, fn[1:]):
            assert s2 == s1 + 1 and i2 == o1
        assert fn[0][2] > fn[-1][3] >= 0  # the funnel actually narrows
    # the published corpus is the union of batch segments with no sig
    # ever appearing twice (first-seen-wins held across batches)
    corpus = spark.read.option("basePath", f"{store}/corpus").parquet(
        f"{store}/corpus/v=*"
    )
    assert corpus.count() == sum(fn[-1][3] for fn in funnels.values())
    assert corpus.select("sig").distinct().count() == corpus.count()


def test_incremental_replay_is_noop_with_same_funnel(spark, tmp_path):
    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i2")
    store = str(tmp_path / "store")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    first = C.run_curation_incremental(cat, spec, b0, store, 0)
    segs_before = sorted(os.listdir(f"{store}/corpus"))
    again = C.run_curation_incremental(cat, spec, b0, store, 0)
    assert again["replayed"] and again["funnel"] == first["funnel"]
    assert sorted(os.listdir(f"{store}/corpus")) == segs_before
    # exactly one ledger row per stage
    led = cat.read(C.LEDGER_TABLE).where(F.col("run_id") == "i2@b000")
    assert led.count() == len(C.INC_STAGES)


def test_incremental_crash_before_ledger_heals_without_double_publish(
    spark, tmp_path, monkeypatch
):
    """Crash between segment publish and the atomic ledger append: the
    re-run must detect its own committed segment, skip the write, and
    commit the SAME funnel."""
    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i3")
    store = str(tmp_path / "store")
    b0 = docs.where(F.col("doc_id") % 3 == 0)

    real_insert = Catalog.insert

    class Boom(RuntimeError):
        pass

    def exploding_insert(self, table, rows):
        if table == C.LEDGER_TABLE and rows and rows[0]["run_id"].startswith(
            "i3@"
        ):
            raise Boom("die before ledger commit")
        return real_insert(self, table, rows)

    monkeypatch.setattr(Catalog, "insert", exploding_insert)
    with pytest.raises(Boom):
        C.run_curation_incremental(cat, spec, b0, store, 0)
    monkeypatch.setattr(Catalog, "insert", real_insert)
    segs_after_crash = sorted(os.listdir(f"{store}/corpus"))
    res = C.run_curation_incremental(cat, spec, b0, store, 0)
    assert not res["replayed"]
    assert sorted(os.listdir(f"{store}/corpus")) == segs_after_crash
    led = cat.read(C.LEDGER_TABLE).where(
        (F.col("run_id") == "i3@b000") & (F.col("status") == "succeeded")
    )
    assert led.count() == len(C.INC_STAGES)


def test_incremental_spec_drift_raises(spark, tmp_path):
    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    store = str(tmp_path / "store")
    C.run_curation_incremental(
        cat, _inc_spec("i4"), docs.where(F.col("doc_id") % 3 == 0), store, 0
    )
    drifted = C.CurationSpec(run_id="i4", **{**SPEC, "sample_prefix": "40"})
    with pytest.raises(ValueError, match="different spec"):
        C.run_curation_incremental(
            cat, drifted, docs.where(F.col("doc_id") % 3 == 1), store, 1
        )


def test_incremental_registry_blocks_content_dropped_by_sampling(
    spark, tmp_path
):
    """The novelty registry records every post-lang sig — content whose
    batch-0 carrier was dropped at the SAMPLING stage must still be
    blocked when it reappears in batch 1 under a new doc_id (content
    decisions are never re-rolled)."""
    import hashlib as _h

    # 25 words, mean word length 137/25 = 5.48 (gopher 4.0-10.0 band),
    # all-alpha, two distinct en stop markers {the, and}
    text = (
        "the brave hunter walks through dense forest trails and finds "
        "hidden golden treasure beneath ancient stones while birds watch "
        "quietly above the misty valley floor"
    )
    # pick ids: batch-0 carrier NOT sampled (md5 >= 'c0', not a probe),
    # batch-1 twin WOULD be sampled (md5 < 'c0', not a probe)
    def pick(pred):
        i = 0
        while True:
            h = _h.md5(str(i).encode()).hexdigest()[:2]
            if pred(h):
                return i
            i += 1

    id0 = pick(lambda h: h >= "c0")  # dropped by sampling in batch 0
    id1 = pick(lambda h: "05" <= h < "c0")  # would survive sampling
    rows = [(id0, text, len(text)), (id1, text + " ", len(text) + 1)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars int")
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i5")
    store = str(tmp_path / "store")
    f0 = C.run_curation_incremental(
        cat, spec, docs.where(F.col("doc_id") == id0), store, 0
    )["funnel"]
    f1 = C.run_curation_incremental(
        cat, spec, docs.where(F.col("doc_id") == id1), store, 1
    )["funnel"]
    # batch 0: doc passes gopher+lang+dedup, dies at sample
    assert [r[3] for r in f0] == [1, 1, 1, 1, 0, 0]
    # batch 1: same token set -> blocked at dedup_novel despite never
    # having been published
    assert [r[3] for r in f1] == [1, 1, 0, 0, 0, 0]


def test_incremental_failed_stage_records_ledger_row(
    spark, tmp_path, monkeypatch
):
    """A stage failure inside a batch records ONE failed ledger row
    naming the stage (run_curation's fail-fast contract) and re-raises."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i6")

    def boom(spec, docs):
        raise RuntimeError("lang stage exploded")

    monkeypatch.setattr(C, "_stage_lang", boom)
    with pytest.raises(RuntimeError, match="lang stage exploded"):
        C.run_curation_incremental(
            cat, spec, _docs(spark).where(F.col("doc_id") % 3 == 0),
            str(tmp_path / "store"), 0,
        )
    led = cat.read(C.LEDGER_TABLE).where(F.col("run_id") == "i6@b000").collect()
    assert len(led) == 1
    assert (led[0]["name"], led[0]["status"]) == ("lang_filter", "failed")


def test_incremental_registry_drift_after_crash_raises(spark, tmp_path):
    """A batch that crashed after registering its sigs but before the
    ledger commit must NOT silently accept a CHANGED batch input on
    re-run: the recomputed registry rows are digest-compared against
    the committed segment and any drift raises."""
    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i7")
    store = str(tmp_path / "store")
    b0 = docs.where(F.col("doc_id") % 3 == 0)

    real = C.Catalog.insert

    class Boom(RuntimeError):
        pass

    def exploding_insert(self, table, rows):
        if table == C.LEDGER_TABLE and rows and rows[0]["run_id"].startswith(
            "i7@"
        ) and rows[0]["status"] == "succeeded":
            raise Boom("die before ledger commit")
        return real(self, table, rows)

    import unittest.mock as _mock

    with _mock.patch.object(Catalog, "insert", exploding_insert):
        with pytest.raises(Boom):
            C.run_curation_incremental(cat, spec, b0, store, 0)
    # re-run with a DIFFERENT batch input: drop one doc whose sig is
    # UNIQUE within the batch (dropping one copy of a duplicated token
    # set, or a doc gopher/lang filtered out, would leave the
    # registered DISTINCT sig set unchanged)
    sigged = C._stage_lang(spec, C._stage_gopher(spec, b0)).withColumn(
        "_s", C._sig()
    )
    unique_doc = (
        sigged.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("d"))
        .where(F.col("c") == 1)
        .agg(F.max("d"))
        .first()[0]
    )
    assert unique_doc is not None
    drifted = b0.where(F.col("doc_id") != unique_doc)
    with pytest.raises(RuntimeError, match="changed under a committed"):
        C.run_curation_incremental(cat, spec, drifted, store, 0)
    # the honest re-run with the ORIGINAL input heals cleanly
    res = C.run_curation_incremental(cat, spec, b0, store, 0)
    assert not res["replayed"]


def test_incremental_corpus_drift_after_crash_raises(spark, tmp_path):
    """A corpus segment left by a crashed attempt is checked on replay
    by content, not by row count alone: one doc_id changed under the
    same row count must raise, and the failure is ledgered at the
    publish stage."""
    import shutil
    import unittest.mock as _mock

    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i14")
    store = str(tmp_path / "store")
    b0 = docs.where(F.col("doc_id") % 3 == 0)

    real = C.Catalog.insert

    class Boom(RuntimeError):
        pass

    def exploding_insert(self, table, rows):
        if table == C.LEDGER_TABLE and rows and rows[0]["run_id"].startswith(
            "i14@"
        ) and rows[0]["status"] == "succeeded":
            raise Boom("die before ledger commit")
        return real(self, table, rows)

    with _mock.patch.object(Catalog, "insert", exploding_insert):
        with pytest.raises(Boom):
            C.run_curation_incremental(cat, spec, b0, store, 0)
    seg = f"{store}/corpus/v=00001"
    rows = spark.read.parquet(seg)
    n = rows.count()
    victim = rows.agg(F.min("doc_id")).first()[0]
    doc_id = F.col("doc_id")
    changed = rows.withColumn(
        "doc_id", F.when(doc_id == victim, -doc_id - 1).otherwise(doc_id)
    )
    tmp = str(tmp_path / "rewritten")
    changed.write.parquet(tmp)
    shutil.rmtree(seg)
    shutil.move(tmp, seg)
    again = spark.read.parquet(seg)
    assert again.count() == n
    assert again.where(doc_id == victim).count() == 0
    with pytest.raises(RuntimeError, match="changed under a committed"):
        C.run_curation_incremental(cat, spec, b0, store, 0)
    failed = (
        cat.read(C.LEDGER_TABLE)
        .where((F.col("run_id") == "i14@b000") & (F.col("status") == "failed"))
        .collect()
    )
    assert [r["name"] for r in failed] == ["publish"]


def test_incremental_stores_survive_compaction(spark, tmp_path):
    """The incremental pipeline's append-only stores (sig registry,
    probe registry, curated corpus) accrete one segment per batch —
    after shard_append.compact_corpus + vacuum_corpus folds their
    history behind the _BASE commit, the pipeline must behave
    IDENTICALLY: later batches still dedup against compacted sigs,
    scrub against compacted probes, and the corpus reads complete."""
    from aws_datalake_framework_ingestion_spark.streaming.shard_append import (
        compact_corpus,
        read_corpus,
        vacuum_corpus,
    )

    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i8")
    store = str(tmp_path / "store")
    for b in range(2):
        C.run_curation_incremental(
            cat, spec, docs.where(F.col("doc_id") % 3 == b), store, b
        )
    _assert_schema_reads_match(spark, store)  # live segments only
    pre = sorted(
        map(tuple, read_corpus(spark, f"{store}/corpus")
            .select("doc_id", "sig", "batch").collect())
    )
    for sub in ("corpus", "sigs", "probes"):
        assert compact_corpus(spark, f"{store}/{sub}")["compacted"]
        vacuum_corpus(spark, f"{store}/{sub}", tmp_ttl_ms=0, retain_ms=0)
    assert sorted(
        map(tuple, read_corpus(spark, f"{store}/corpus")
            .select("doc_id", "sig", "batch").collect())
    ) == pre
    # batch 2 runs against the COMPACTED registries: content already
    # seen in batches 0/1 must still be blocked, novel content kept
    f2 = C.run_curation_incremental(
        cat, spec, docs.where(F.col("doc_id") % 3 == 2), store, 2
    )["funnel"]
    n2_lang, n2_novel = f2[1][3], f2[2][3]
    assert 0 < n2_novel < n2_lang  # dedup did drop cross-batch dups
    corpus = read_corpus(spark, f"{store}/corpus")
    assert corpus.select("sig").distinct().count() == corpus.count()
    # and batch 2's segment is LIVE (published past the compaction
    # high-water mark), proving append-after-compact numbering
    assert corpus.where(F.col("batch") == 2).count() == f2[-1][3]
    # compacted directory + a live segment past its high-water mark
    _assert_schema_reads_match(spark, store)


def _assert_schema_reads_match(spark, store):
    """read_corpus with a declared schema returns the rows and dtypes
    (``v`` included) of the inferred read, and leaves the caller's
    StructType as it was."""
    from pyspark.sql import types as T

    from aws_datalake_framework_ingestion_spark.streaming.shard_append import (
        read_corpus,
    )

    corpus_inferred = read_corpus(spark, f"{store}/corpus")
    corpus_schema = T.StructType(
        [f for f in corpus_inferred.schema.fields if f.name != "v"]
    )
    for sub, schema in (
        ("corpus", corpus_schema),
        ("sigs", C._SIGS_SCHEMA),
        ("probes", C._PROBES_SCHEMA),
    ):
        before = schema.json()
        inferred = read_corpus(spark, f"{store}/{sub}")
        declared = read_corpus(spark, f"{store}/{sub}", schema=schema)
        assert schema.json() == before, sub
        assert declared.dtypes == inferred.dtypes, sub
        assert sorted(map(tuple, declared.collect())) == sorted(
            map(tuple, inferred.collect())
        ), sub


def _seg_dirs(path):
    if not os.path.isdir(path):
        return []
    return sorted(d for d in os.listdir(path) if d.startswith("v="))


def _pick_ids(pred, n):
    """The ``n`` smallest doc ids whose md5 hex prefix satisfies
    ``pred``."""
    out, i = [], 0
    while len(out) < n:
        if pred(hashlib.md5(str(i).encode()).hexdigest()[:2]):
            out.append(i)
        i += 1
    return out


#: passes gopher (25 words, mean length 5.48, all alpha, two stop
#: markers) and the en lang filter
_KEPT_TEXT = (
    "the brave hunter walks through dense forest trails and finds "
    "hidden golden treasure beneath ancient stones while birds watch "
    "quietly above the misty valley floor"
)


def test_incremental_batch_without_probes_registers_no_probe_segment(
    spark, tmp_path
):
    """Docs that pass gopher and lang but hold no probe doc: the sig
    registry gains a segment, the probe registry none."""
    ids = _pick_ids(lambda h: h >= "05", 2)  # no probe doc
    rows = [(ids[0], _KEPT_TEXT, len(_KEPT_TEXT)),
            (ids[1], _KEPT_TEXT + " again", len(_KEPT_TEXT) + 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars int")
    cat = Catalog(spark, str(tmp_path / "cat"))
    store = str(tmp_path / "store")
    fn = C.run_curation_incremental(cat, _inc_spec("i9"), docs, store, 0)[
        "funnel"
    ]
    assert [r[3] for r in fn[:2]] == [2, 2]
    assert _seg_dirs(f"{store}/sigs") == ["v=00001"]
    assert _seg_dirs(f"{store}/probes") == []


def test_incremental_batch_gopher_drops_registers_nothing(spark, tmp_path):
    """A batch gopher drops entirely (no probe doc either): no sigs, no
    probes and no corpus segment, and the all-zero funnel is committed
    to the ledger as succeeded."""
    ids = _pick_ids(lambda h: h >= "05", 3)
    docs = spark.createDataFrame(
        [(i, "too short", 9) for i in ids],
        "doc_id long, text string, n_chars int",
    )
    cat = Catalog(spark, str(tmp_path / "cat"))
    store = str(tmp_path / "store")
    res = C.run_curation_incremental(cat, _inc_spec("i10"), docs, store, 0)
    expected = [(1, "gopher_rules", 3, 0)] + [
        (i, n, 0, 0) for i, n in enumerate(C.INC_STAGES[1:], start=2)
    ]
    assert not res["replayed"] and res["funnel"] == expected
    led = sorted(
        (r["stage"], r["name"], r["status"], r["n_in"], r["n_out"],
         r["out_path"])
        for r in cat.read(C.LEDGER_TABLE)
        .where(F.col("run_id") == "i10@b000")
        .collect()
    )
    # stages 3, 4 and 6 name the segment they published: none here
    assert led == [
        (st, n, "succeeded", i, o, None) for st, n, i, o in expected
    ]
    for sub in ("sigs", "probes", "corpus"):
        assert _seg_dirs(f"{store}/{sub}") == [], sub


#: Spark jobs of one warm ``run_curation_incremental`` batch (the third
#: of three) over the sf0.001 documents (measured; equality, so an added
#: job fails here, and a removed one must re-pin the count)
CURATE_BATCH_JOBS = 12


def test_incremental_warm_batch_job_count(spark, tmp_path):
    docs = _docs(spark)
    cat = Catalog(spark, str(tmp_path / "cat"))
    spec = _inc_spec("i11")
    store = str(tmp_path / "store")
    for b in range(2):
        C.run_curation_incremental(
            cat, spec, docs.where(F.col("doc_id") % 3 == b), store, b
        )
    sc = spark.sparkContext
    group = f"curate_batch_{os.getpid()}"
    sc.setJobGroup(group, "one warm incremental curation batch")
    try:
        res = C.run_curation_incremental(
            cat, spec, docs.where(F.col("doc_id") % 3 == 2), store, 2
        )
    finally:
        sc.setJobGroup("", "")
    # the store publishes run on pool threads that carry the group
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert not res["replayed"]
    assert n_jobs == CURATE_BATCH_JOBS, n_jobs


_STORES = ("sigs", "probes", "corpus")
#: the store each segment-publishing stage names in its ledger row
_STAGE_STORE = {3: "sigs", 4: "probes", 6: "corpus"}


def _out_paths(cat, run_key):
    return {
        r["stage"]: r["out_path"]
        for r in cat.read(C.LEDGER_TABLE)
        .where(
            (F.col("run_id") == run_key) & (F.col("status") == "succeeded")
        )
        .collect()
    }


def _store_rows(spark, store):
    from aws_datalake_framework_ingestion_spark.streaming.shard_append import (
        read_corpus,
    )

    return {
        sub: sorted(map(tuple, read_corpus(spark, f"{store}/{sub}").collect()))
        for sub in _STORES
    }


def test_incremental_crashed_batch_replayed_after_next_commit_heals(
    spark, tmp_path, monkeypatch
):
    """Batch 0 dies after publishing its segments but before its ledger
    commit, batch 1 commits, then batch 0 is replayed.  No committed
    row names batch 0's segments, so the replay scans, finds them and
    publishes no second segment; both funnels, the stores and the
    segments the ledger rows name equal an uninterrupted run's."""
    docs = _docs(spark)
    batches = [docs.where(F.col("doc_id") % 3 == b) for b in range(2)]
    spec = _inc_spec("i12")
    ref_cat = Catalog(spark, str(tmp_path / "ref_cat"))
    ref_store = str(tmp_path / "ref_store")
    ref = [
        C.run_curation_incremental(ref_cat, spec, batches[b], ref_store, b)
        for b in range(2)
    ]

    cat = Catalog(spark, str(tmp_path / "cat"))
    store = str(tmp_path / "store")
    real_insert = Catalog.insert

    class Boom(RuntimeError):
        pass

    def dies_at_b0_commit(self, table, rows):
        if (
            table == C.LEDGER_TABLE
            and rows[0]["run_id"] == "i12@b000"
            and rows[0]["status"] == "succeeded"
        ):
            raise Boom("die before ledger commit")
        return real_insert(self, table, rows)

    monkeypatch.setattr(Catalog, "insert", dies_at_b0_commit)
    with pytest.raises(Boom):
        C.run_curation_incremental(cat, spec, batches[0], store, 0)
    monkeypatch.setattr(Catalog, "insert", real_insert)
    f1 = C.run_curation_incremental(cat, spec, batches[1], store, 1)
    segs = {sub: _seg_dirs(f"{store}/{sub}") for sub in _STORES}
    assert segs == {sub: ["v=00001", "v=00002"] for sub in _STORES}
    f0 = C.run_curation_incremental(cat, spec, batches[0], store, 0)
    assert not f0["replayed"]
    assert {sub: _seg_dirs(f"{store}/{sub}") for sub in _STORES} == segs
    assert [f0["funnel"], f1["funnel"]] == [r["funnel"] for r in ref]
    assert _store_rows(spark, store) == _store_rows(spark, ref_store)
    for b in range(2):
        key = f"i12@b{b:03d}"
        got = _out_paths(cat, key)
        assert got == {
            st: p and p.replace(ref_store, store)
            for st, p in _out_paths(ref_cat, key).items()
        }
        # batch 0 published v=00001 of each store, batch 1 v=00002
        assert {st: got[st] for st in _STAGE_STORE} == {
            st: f"{store}/{sub}/v={b + 1:05d}"
            for st, sub in _STAGE_STORE.items()
        }


def test_incremental_scan_runs_only_on_unnamed_segments(
    spark, tmp_path, monkeypatch
):
    """A fresh batch whose history's rows name every segment reads no
    store to look for a segment of its own.  History whose committed
    rows name no segment (legacy rows: the publish row's out_path is
    the corpus directory, the others None) keeps the scan of every
    store.  Both runs commit the same funnels and segments."""
    from aws_datalake_framework_ingestion_spark.streaming import (
        shard_append as SA,
    )

    docs = _docs(spark)
    batches = [docs.where(F.col("doc_id") % 3 == b) for b in range(2)]
    real_insert = Catalog.insert
    real_read = SA.read_corpus

    def run_two(name: str, legacy: bool):
        cat = Catalog(spark, str(tmp_path / f"cat_{name}"))
        store = str(tmp_path / f"store_{name}")
        spec = _inc_spec(name)

        def legacy_insert(self, table, rows):
            if table == C.LEDGER_TABLE and rows[0]["status"] == "succeeded":
                rows = [
                    {**r, "out_path": f"{store}/corpus"
                     if r["name"] == "publish" else None}
                    for r in rows
                ]
            return real_insert(self, table, rows)

        reads: dict[str, int] = {}

        def counting_read(spark_, path, *a, **k):
            sub = os.path.basename(path.rstrip("/"))
            reads[sub] = reads.get(sub, 0) + 1
            return real_read(spark_, path, *a, **k)

        with monkeypatch.context() as m:
            if legacy:
                m.setattr(Catalog, "insert", legacy_insert)
            f0 = C.run_curation_incremental(cat, spec, batches[0], store, 0)
        with monkeypatch.context() as m:
            m.setattr(SA, "read_corpus", counting_read)
            f1 = C.run_curation_incremental(cat, spec, batches[1], store, 1)
        assert {sub: _seg_dirs(f"{store}/{sub}") for sub in _STORES} == {
            sub: ["v=00001", "v=00002"] for sub in _STORES
        }
        return [f0["funnel"], f1["funnel"]], reads

    named_funnels, named_reads = run_two("i13", legacy=False)
    legacy_funnels, legacy_reads = run_two("i13l", legacy=True)
    # the sigs and probes reads build the two anti-joins; each scan
    # adds one read of its store
    assert named_reads == {"sigs": 1, "probes": 1}
    assert legacy_reads == {"sigs": 2, "probes": 2, "corpus": 1}
    assert legacy_funnels == named_funnels


#: py4j round trips of one warm ``_stage_lang(_stage_gopher(...))``
#: build, the chain a batch builds twice (measured; equality, like the
#: job count).  Built as Column trees, one round trip per literal, the
#: same chain took 1,055.
STAGE_BUILD_ROUND_TRIPS = 128


def test_gopher_lang_build_round_trips(spark, monkeypatch):
    docs = _docs(spark).select("doc_id", "text", "n_chars")
    spec = _inc_spec("rt")

    def build():
        return C._stage_lang(spec, C._stage_gopher(spec, docs))

    build()  # the first build also resolves JVM classes and methods
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    calls = []

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(client, "send_command", counting)
    build()
    monkeypatch.undo()
    assert len(calls) == STAGE_BUILD_ROUND_TRIPS, len(calls)
