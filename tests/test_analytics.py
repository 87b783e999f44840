"""Invariant tests for the round-2 analytics operators (chunking,
normalization, repetition, bigrams) — oracle parity itself is covered
by the registry sweep in test_oracle_parity.py; these assert the
operator-level contracts that SQL parity can't express."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from aws_datalake_framework_ingestion_spark.operators import text as X

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    from aws_datalake_framework_ingestion_spark.tables import load

    return load(spark, SF_SMALL, "documents")


def test_chunk_covers_every_token(spark, docs):
    """Concatenating each doc's chunks at stride positions reconstructs
    the token sequence: chunk i starts at token i*stride, and the
    final chunk reaches the last token."""
    window, stride = 32, 24
    chunks = X.chunk_documents(docs, window=window, stride=stride)
    joined = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_id") * stride + F.col("chunk_tokens")).alias("reach"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    base = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), " ")).alias("n_tok")
    )
    bad = (
        joined.join(base, "doc_id")
        .filter(
            (F.col("reach") < F.col("n_tok"))
            | (F.col("n_chunks") != F.floor(F.greatest(F.col("n_tok") - 1, F.lit(0)) / stride) + 1)
        )
        .count()
    )
    assert bad == 0


def test_chunk_token_bounds(spark, docs):
    out = X.chunk_documents(docs, window=32, stride=24)
    assert out.filter((F.col("chunk_tokens") < 1) | (F.col("chunk_tokens") > 32)).count() == 0


def test_chunk_rejects_bad_params(spark, docs):
    with pytest.raises(ValueError):
        X.chunk_documents(docs, window=0, stride=24)
    with pytest.raises(ValueError):
        X.chunk_documents(docs, window=32, stride=0)


def test_normalize_idempotent(spark, docs):
    """Normalizing already-normalized text is the identity."""
    once = X.normalize_text(docs)
    twice = X.normalize_text(
        once.select("doc_id", F.col("norm_text").alias("text"))
    )
    diff = (
        once.alias("a")
        .join(twice.alias("b"), "doc_id")
        .filter(F.col("a.norm_fp") != F.col("b.norm_fp"))
        .count()
    )
    assert diff == 0


def test_repetition_flags_planted_degenerate_doc(spark):
    rows = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        (2, "a varied document with mostly distinct words inside here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in X.repetition_features(df).collect()}
    assert out[1]["repetitive"] and out[1]["top_token_ratio"] == 1.0
    assert not out[2]["repetitive"]


def test_bigram_counts_topk_deterministic(spark, docs):
    a = X.bigram_counts(docs, k=20).collect()
    b = X.bigram_counts(docs, k=20).collect()
    assert a == b
    assert all(x["n"] >= y["n"] for x, y in zip(a, a[1:]))


def _sig_from_array(sh_arr, num_hashes: int):
    """array<bigint> MinHash signature from a shingle-hash array — the
    Catalyst reference fold for the Arrow kernel in
    ``dedup.sig_from_arrays``.

    One pass: acc starts at [P]*n (P exceeds every residue) and each
    shingle h contributes min(acc_i, (a_i·h32 + b_i) mod P) via
    zip_with over a literal (a, b) parameter array.  h is folded into
    [0, 2^32) first so a·h32 + b stays under 2^63 (ANSI mode: no
    bigint overflow)."""
    from aws_datalake_framework_ingestion_spark.operators.dedup import (
        _P,
        _hash_params,
    )

    params = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b")
            )
            for a, b in _hash_params(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(_P).cast("long"), num_hashes)
    return F.aggregate(
        sh_arr,
        init,
        lambda acc, h: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(
                m, (p["a"] * F.pmod(h, F.lit(2**32)) + p["b"]) % F.lit(_P)
            ),
        ),
    )


def test_minhash_arrow_matches_expr(spark, docs):
    """The Arrow-vectorized signature kernel must be bit-identical to
    the Catalyst expression fold — same (a·h32+b) mod P integer math,
    different executors."""
    from aws_datalake_framework_ingestion_spark.operators import dedup as D

    a = D.minhash_signatures(docs).orderBy("doc_id").collect()
    e = (
        D.doc_shingle_hash_arrays(docs)
        .select("doc_id", _sig_from_array(F.col("sh_arr"), 64).alias("sig"))
        .orderBy("doc_id")
        .collect()
    )
    assert [r["sig"] for r in a] == [r["sig"] for r in e]


def _bucketed_expr(df, id_col, vec_col, num_tables, bits, dim, prefix):
    """Pure-Catalyst reference for ``similarity._bucketed``: the
    ``lsh_table_buckets`` zip_with dots, one explode row per table."""
    from aws_datalake_framework_ingestion_spark.operators.similarity import (
        lsh_table_buckets,
    )

    checked = df.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"lsh: embedding dim != configured dim={dim} (got "),
                    F.size(F.col(vec_col)).cast("string"),
                    F.lit(")"),
                )
            )
        ),
    )
    base = checked.withColumn(
        "_tb", F.explode(lsh_table_buckets(vec_col, num_tables, bits, dim))
    )
    return base.select(
        F.col(id_col).alias(f"{prefix}id"),
        F.col("_tb.t").alias(f"{prefix}t"),
        F.col("_tb.b").alias(f"{prefix}b"),
    )


def test_lsh_bucket_impls_agree(spark):
    """Arrow and Catalyst bucketing must produce the same (id, table,
    bucket) rows — sign bits only diverge for dots within rounding of
    zero, which this deterministic fixture avoids."""
    from aws_datalake_framework_ingestion_spark.operators.similarity import _bucketed
    from aws_datalake_framework_ingestion_spark.tables import load

    emb = load(spark, SF_SMALL, "embeddings")
    a = _bucketed(emb, "vec_id", "embedding", 8, 4, 64, "_")
    e = _bucketed_expr(emb, "vec_id", "embedding", 8, 4, 64, "_")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, e.collect()))


def test_cosine_pudf_matches_expression_dot(spark):
    from aws_datalake_framework_ingestion_spark.operators.similarity import (
        _dot, cosine_pudf, norm_col,
    )
    from aws_datalake_framework_ingestion_spark.tables import load

    emb = load(spark, SF_SMALL, "embeddings").limit(50)
    a = emb.alias("a").crossJoin(emb.alias("b")).select(
        F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
        F.col("a.embedding").alias("va"), F.col("b.embedding").alias("vb"),
    )
    cos = cosine_pudf()
    both = a.select(
        "ia", "ib",
        cos("va", "vb").alias("c_np"),
        (_dot(F.col("va"), F.col("vb"))
         / (norm_col(F.col("va")) * norm_col(F.col("vb")))).alias("c_expr"),
    ).collect()
    assert all(abs(r["c_np"] - r["c_expr"]) < 1e-9 for r in both)


def _simhash_expr(df, id_col="doc_id", text_col="text"):
    """Conditional-sum reference for ``dedup.simhash64``: explode
    tokens → (doc, token_hash, weight) → 64 conditional-sum aggregates
    → sign bits recombined with bitwise OR.  Shuffle is O(docs ×
    distinct tokens), map-combined."""
    from aws_datalake_framework_ingestion_spark.operators.dedup import (
        _spread,
        tokens_col,
    )

    toks = (
        _spread(df, id_col)
        .select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(id_col, F.xxhash64("tok").alias("th"), "w")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.col("w"))
            .otherwise(-F.col("w"))
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sums = F.array(*[f"b{i}" for i in range(64)])
    # bit i as a literal power of two (bit 63 = long min value)
    pow2 = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("bigint")
            for i in range(64)
        ]
    )
    sig = F.aggregate(
        F.zip_with(
            sums,
            pow2,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return agg.select(F.col(id_col), sig.alias("simhash")).withColumn(
        "simhash_hex", F.lpad(F.hex("simhash"), 16, "0")
    )


def test_simhash_arrow_matches_expr(spark, docs):
    """Zero-shuffle Arrow SimHash must be bit-identical to the
    conditional-sum aggregate path — exact integer sums, same sign
    rule."""
    from aws_datalake_framework_ingestion_spark.operators import dedup as D

    a = D.simhash64(docs).orderBy("doc_id").collect()
    e = _simhash_expr(docs).orderBy("doc_id").collect()
    assert [(r["doc_id"], r["simhash"], r["simhash_hex"]) for r in a] == [
        (r["doc_id"], r["simhash"], r["simhash_hex"]) for r in e
    ]


def test_interpolation_hand_case(spark):
    """ts_interpolate_linear's fill expression on the real data:
    every gap day's fill lies on the line between its bracketing
    observed days, and observed days pass through unchanged."""
    from aws_datalake_framework_ingestion_spark.plans.registry import REGISTRY

    rows = REGISTRY["ts_interpolate_linear"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_series = {}
    for r in rows:
        by_series.setdefault(r["pr"], []).append(r)
    n_gap_checked = 0
    for pr, rs in by_series.items():
        rs.sort(key=lambda r: r["dy"])
        for i, r in enumerate(rs):
            if not r["is_gap"]:
                assert r["filled"] == r["val"]
                continue
            prev = next((x for x in reversed(rs[:i]) if not x["is_gap"]), None)
            nxt = next((x for x in rs[i + 1 :] if not x["is_gap"]), None)
            if prev is None or nxt is None:
                assert r["filled"] is None
                continue
            span = (nxt["dy"] - prev["dy"]).days
            frac = (r["dy"] - prev["dy"]).days / span
            want = prev["val"] + (nxt["val"] - prev["val"]) * frac
            assert abs(r["filled"] - want) < 1e-9
            n_gap_checked += 1
    assert n_gap_checked > 0


def test_attribution_last_touch_micro(spark):
    """Hand-built event stream: purchase credits the latest prior
    click/view of the SAME user; no prior touch → NULL bucket."""
    import datetime as dt
    from pyspark.sql import functions as F
    from aws_datalake_framework_ingestion_spark.plans import analytics_queries as AQ

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: view, click, purchase -> credited to click
        (1, t0, 1, "view", 0.0),
        (2, t0 + dt.timedelta(minutes=1), 1, "click", 0.0),
        (3, t0 + dt.timedelta(minutes=2), 1, "purchase", 10.0),
        # user 2: purchase with no prior touch -> NULL
        (4, t0, 2, "purchase", 7.0),
        # user 3: click AFTER purchase must not count
        (5, t0 + dt.timedelta(minutes=5), 3, "purchase", 3.0),
        (6, t0 + dt.timedelta(minutes=6), 3, "click", 0.0),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    got = {
        r["touch_type"]: (r["n"], r["rev"])
        for r in e.withColumn("touch_type", touch)
        .where(F.col("event_type") == "purchase")
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("rev"))
        .collect()
    }
    assert got["click"] == (1, 10.0)
    assert got[None] == (2, 10.0)


def test_global_rank_and_equidepth_split(spark):
    """operators/ranking: the distributed rank must equal the rank a
    global sort would give (unique total order), and the equi-depth
    split must follow SQL ntile exactly (first N mod k buckets take
    the extra row)."""
    from pyspark.sql import functions as F

    from aws_datalake_framework_ingestion_spark.operators.ranking import (
        equi_depth_buckets,
        global_rank,
    )

    df = spark.range(0, 1000).select(
        ((F.col("id") * 37) % 250).alias("k"), "id"
    )
    r = global_rank(df, ["k", "id"], num_partitions=7)
    rows = r.orderBy("rk").collect()
    want = sorted((row["k"], row["id"]) for row in df.collect())
    assert [(x["k"], x["id"]) for x in rows] == want
    assert [x["rk"] for x in rows] == list(range(1, 1001))

    # 1000 = 7*142 + 6 -> buckets 1..6 take 143, bucket 7 takes 142
    b = equi_depth_buckets(df, ["k", "id"], k=7, num_partitions=5)
    counts = {
        x["bucket"]: x["n"]
        for x in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {1: 143, 2: 143, 3: 143, 4: 143, 5: 143, 6: 143, 7: 142}


def test_grouped_ntile_matches_window_ntile(spark):
    """operators/ranking.grouped_ntile must reproduce SQL
    ``ntile(k) OVER (PARTITION BY g ORDER BY v, id)`` exactly — on a
    skewed group layout (one giant group, several small ones, one
    smaller than k) so both the boundary arithmetic and the
    tiny-group path (buckets 1..n) are exercised."""
    from pyspark.sql import Window

    from aws_datalake_framework_ingestion_spark.operators.ranking import (
        grouped_ntile,
    )

    df = spark.range(0, 700).select(
        F.when(F.col("id") < 500, F.lit("giant"))
        .when(F.col("id") < 600, F.lit("mid"))
        .when(F.col("id") < 698, F.lit("small"))
        .otherwise(F.lit("tiny"))  # 2 rows < k=5
        .alias("g"),
        ((F.col("id") * 131) % 97).alias("v"),
        "id",
    )
    got = {
        (r["g"], r["id"]): r["bucket"]
        for r in grouped_ntile(
            df, ["g"], [F.col("v"), F.col("id")], 5, num_partitions=6
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "id")
    want = {
        (r["g"], r["id"]): r["nt"]
        for r in df.withColumn("nt", F.ntile(5).over(w)).collect()
    }
    assert got == want
    # the 2-row group got buckets 1..2, not 1..5
    assert sorted(v for (g, _), v in got.items() if g == "tiny") == [1, 2]


def test_gopher_rules_planted(spark):
    """Each rule fires on exactly the planted violation, and keep is
    their conjunction."""
    from pyspark.sql import Row

    good = " ".join(["the", "of", "and"] + [f"word{i:04d}" for i in range(60)])
    short = "the of tiny"  # < 50 words
    numeric = " ".join(
        ["the", "of"] + [str(1000 + i) for i in range(60)]
    )  # alpha_frac ≈ 2/62 — fails r_alpha
    nostop = " ".join(f"zz{i:05d}" for i in range(60))  # 0 stopword hits
    frame = spark.createDataFrame(
        [
            Row(doc_id=1, text=good),
            Row(doc_id=2, text=short),
            Row(doc_id=3, text=numeric),
            Row(doc_id=4, text=nostop),
        ]
    )
    got = {r["doc_id"]: r.asDict() for r in X.gopher_rules(frame).collect()}
    assert got[1]["keep"] and all(
        got[1][c] for c in ("r_word_count", "r_mean_len", "r_alpha", "r_stopwords")
    )
    assert not got[2]["r_word_count"] and not got[2]["keep"]
    assert not got[3]["r_alpha"] and not got[3]["keep"]
    assert not got[4]["r_stopwords"] and not got[4]["keep"]
    assert got[1]["n_words"] == 63 and got[4]["stop_hits"] == 0


def test_dsir_logweights_prefers_target_like_docs(spark):
    """Docs whose bigrams match the target distribution must score a
    strictly higher log-weight than off-target docs, and sub-2-token
    docs are absent from the output."""
    from pyspark.sql import Row

    tgt_text = "alpha beta gamma delta " * 20
    off_text = "zeta eta theta iota " * 20
    frame = spark.createDataFrame(
        [
            Row(doc_id=1, text=tgt_text.strip()),
            Row(doc_id=2, text=off_text.strip()),
            Row(doc_id=3, text="single"),
        ]
    )
    target = frame.where(F.col("doc_id") == 1)
    got = {
        r["doc_id"]: r["log_weight"]
        for r in X.dsir_logweights(frame, target).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] > got[2]
    # weights are finite (Laplace smoothing) even for unseen buckets
    import math

    assert all(math.isfinite(v) for v in got.values())


def test_seasonal_decompose_additive_identity(spark):
    """On every full-window day the decomposition must reassemble the
    observation: n == trend + seasonal + resid up to the shared 6dp
    rounding (3 rounded terms -> 1.5e-6 worst-case slack)."""
    from aws_datalake_framework_ingestion_spark.plans.analytics_queries import (
        ts_seasonal_decompose,
    )

    rows = ts_seasonal_decompose(spark, SF_SMALL).collect()
    full = [r for r in rows if r["trend"] is not None]
    partial = [r for r in rows if r["trend"] is None]
    assert full and partial  # both regimes present (30-day series)
    for r in full:
        assert r["seasonal"] is not None and r["resid"] is not None
        assert abs(r["n"] - (r["trend"] + r["seasonal"] + r["resid"])) <= 2e-6


def test_changepoint_cusum_is_the_argmax(spark):
    """The reported changepoint must carry the series' maximal CUSUM
    numerator, recomputed independently from the daily counts."""
    from collections import defaultdict

    from aws_datalake_framework_ingestion_spark.plans.analytics_queries import (
        ts_changepoint_cusum,
    )
    from aws_datalake_framework_ingestion_spark.tables import load

    got = {
        r["event_type"]: r
        for r in ts_changepoint_cusum(spark, SF_SMALL).collect()
    }
    ev = load(spark, SF_SMALL, "events")
    daily = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    series = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["day"], r["x"]))
    assert set(series) == set(got)
    for etype, pts in series.items():
        pts.sort()
        xs = [x for _, x in pts]
        n, total = len(xs), sum(xs)
        cum, best = 0, None
        for t, (day, x) in enumerate(pts[:-1], start=1):
            cum += x
            s = abs(n * cum - t * total)
            if best is None or s > best[0]:
                best = (s, day, t, cum)
        s, day, t, cum = best
        r = got[etype]
        assert (r["stat_num"], r["cp_day"], r["n_days"]) == (s, day, n)
        # unrounded since round 13: one correctly-rounded division of
        # exact integers — bit-equal to the Python float division
        assert r["pre_mean"] == cum / t
        assert r["post_mean"] == (total - cum) / (n - t)
