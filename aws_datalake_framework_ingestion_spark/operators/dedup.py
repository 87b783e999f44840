"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star operators (BASELINE.json) — absent from the reference
(SURVEY.md §2.9), built Spark-first:

* exact_dedup        — hash-groupBy on content (one shuffle).
* ngram_jaccard_pairs— exact shingle-set similarity via token join
                       (quadratic in doc-frequency; the *oracle* path).
* minhash_lsh        — the 100 TB path: per-doc signature (narrow),
                       band→bucket explode (constant factor), bucket
                       equi-join for candidates, exact verify only on
                       candidates.  No cross join anywhere.
* simhash64          — 64-bit fingerprints; near-dup = small Hamming
                       distance, candidates via 16-bit chunk buckets.

Everything is built from JVM-side column functions (crc32/xxhash64,
higher-order array functions) — no Python UDFs in these paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic 64 universal-hash parameters (a*h + b) mod P over
# crc32 shingle hashes.  P: smallest prime > 2^32; a,b from a fixed
# LCG so results are reproducible everywhere.
_P = 4294967311

# Cache lifetime: see caching.track / caching.release_caches —
# callers materialize results, then release.
from ..caching import release_caches, track  # noqa: F401  (re-export)


def _hash_params(n: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    state = seed
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (2**31 - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % _P
        out.append((a, b))
    return out


def tokens_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), " ")


def shingles_col(text: str | Column = "text", k: int = 3) -> Column:
    """Word k-gram shingles as an array column; docs shorter than k
    tokens contribute their whole text as one shingle."""
    w = tokens_col(text)
    return F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))


def _spread(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition per-doc work across the cluster.

    A small single-file input plans as ONE scan task, serializing the
    whole shingle/token explode behind it; at real scale the input
    already has many partitions and this is one cheap exchange that
    additionally co-locates every downstream ``groupBy(key_col)``
    (Catalyst reuses the hash partitioning, so those aggs shuffle
    zero bytes).
    """
    sc = df.sparkSession.sparkContext
    n = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    return df.repartition(n, key_col)


def annotate_buckets(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Add per-bucket ``_bc`` (size) and ``_bmin`` (min id) columns.

    One window shuffle on the bucket key — the same key the caller's
    self-join shuffles on, so the exchange is reused.  This is the
    standard LSH hot-bucket defense: a degenerate bucket (empty docs,
    boilerplate, all-identical content) would otherwise go quadratic
    inside an equi-join that a cartesian-product guard can't see.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols)
    return df.withColumn("_bc", F.count(F.lit(1)).over(w)).withColumn(
        "_bmin", F.min(id_col).over(w)
    )


def capped_left(
    annotated: DataFrame, id_col: str, max_bucket_size: int | None
) -> DataFrame:
    """Left side of a capped bucket self-join.

    Buckets at or under ``max_bucket_size`` keep every row (all-pairs
    candidates); hotter buckets keep only the min-id representative, so
    the bucket contributes n-1 star pairs instead of n²/2 — the probe
    side still carries all rows, so every member still meets the
    representative and connected-components recovers the full cluster.
    ``None`` disables the cap.
    """
    if max_bucket_size is None:
        return annotated
    return annotated.filter(
        (F.col("_bc") <= max_bucket_size) | (F.col(id_col) == F.col("_bmin"))
    )


def exact_dedup(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the smallest id per identical content.

    One hash shuffle on the content fingerprint; at 100 TB, group on
    md5(content) (fixed 32 bytes) instead of the raw content so the
    shuffle carries hashes, not documents.
    """
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("fp"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "fp", "n_copies")
    )


def doc_shingle_hashes(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle_hash) rows — distinct 64-bit hashes of word k-grams.

    Hot-path design (this feeds MinHash, exact Jaccard, and verify):

    * tokens are hashed ONCE per doc (``transform(w, xxhash64)``); a
      shingle hash is ``xxhash64(h_i, .., h_{i+k-1})`` over the cached
      token hashes — no per-shingle string concatenation.
    * per-doc ``array_distinct`` before the explode replaces a global
      ``(id, sh)`` DISTINCT — shingle identity is per-doc, so this
      removes an O(corpus) shuffle outright.
    * materialized in two Projects so Catalyst's CollapseProject keeps
      the expensive token-hash array from being re-inlined per use.
    """
    # NOTE: the explode is INLINE over the shingle expression rather
    # than `doc_shingle_hash_arrays(...).select(explode(...))` — a
    # Project that materializes the array column before a separate
    # Generate measures ~10× slower here (the generator no longer
    # fuses with the array construction).  Keep the expression in the
    # Generate node.
    w = tokens_col(text_col)
    base = _spread(df, id_col).select(
        F.col(id_col), w.alias("_w")
    ).select(
        id_col, "_w", F.transform(F.col("_w"), lambda t: F.xxhash64(t)).alias("_th")
    )
    return base.select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingle_hash_arr(text_col, k))).alias("sh"),
    )


def _shingle_hash_arr(text_col: str, k: int) -> Column:
    """Shingle-hash array expression over the `_w`/`_th` columns
    produced by the token-hash base projection (see callers)."""
    return F.when(
        F.size("_th") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("_th") - (k - 1)),
            lambda i: F.xxhash64(
                *[F.element_at(F.col("_th"), i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array(F.xxhash64(F.concat_ws(" ", F.col("_w")))))


def doc_shingle_hash_arrays(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(id, sh_arr) — the per-doc DISTINCT shingle-hash array (the
    un-exploded form of doc_shingle_hashes; same hot-path design).
    Keeping the set as an array lets signature building stay narrow
    (no explode → no shuffle) while verify explodes lazily."""
    w = tokens_col(text_col)
    base = _spread(df, id_col).select(
        F.col(id_col), w.alias("_w")
    ).select(
        id_col, "_w", F.transform(F.col("_w"), lambda t: F.xxhash64(t)).alias("_th")
    )
    return base.select(
        F.col(id_col),
        F.array_distinct(_shingle_hash_arr(text_col, k)).alias("sh_arr"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """One row per doc: array<bigint> MinHash signature.

    Signature building never leaves the row — no explode, no groupBy,
    no shuffle at any corpus size.  The kernel is an Arrow-batched
    ``mapInPandas``: ONE numpy broadcast ``(a·h32+b) mod P`` over the
    batch's concatenated shingles + a segmented min — measured ~8×
    faster than a Catalyst ``aggregate``/``zip_with`` fold (Catalyst
    evaluates higher-order-function lambdas interpreted, ~1 ms/doc at
    64 hashes; numpy does the same 10k fused multiplies in ~20 µs).
    This is the same "vectorized Python beats interpreted JVM
    expression trees" call as the IVF matmul (similarity.py).  The
    expression fold is kept in tests as the bit-identity reference.
    """
    arrs = doc_shingle_hash_arrays(df, id_col, text_col, k)
    return sig_from_arrays(arrs, id_col, num_hashes)


def sig_from_arrays(arrs: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, sh_arr) → (id, sig).  See minhash_signatures."""
    import numpy as np
    import pandas as pd

    params = _hash_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.uint64)
    B = np.array([b for _, b in params], dtype=np.uint64)
    P = np.uint64(_P)
    M32 = np.uint64(0xFFFFFFFF)

    def gen(batches):
        for pdf in batches:
            arrs_np = pdf["sh_arr"].to_numpy()
            lens = np.fromiter((len(a) for a in arrs_np), dtype=np.int64,
                               count=len(arrs_np))
            # shingle arrays are never empty (_shingle_hash_arr emits a
            # whole-doc fallback hash), so every reduceat segment is
            # non-degenerate
            flat = (
                np.concatenate(arrs_np).astype(np.int64).astype(np.uint64)
                & M32
            )
            v = (flat[:, None] * A[None, :] + B[None, :]) % P
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = np.minimum.reduceat(v, starts, axis=0).astype(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sig": list(sig)}
            )

    return arrs.mapInPandas(gen, schema=f"{id_col} long, sig array<bigint>")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact verification.

    Pipeline: signatures → explode to (band, band_hash) keys →
    self-equi-join on the bucket key (this is the LSH trick: only
    colliding docs ever meet) → distinct candidate pairs → exact
    Jaccard on the candidates only, filter ≥ threshold.

    Band buckets hotter than ``max_bucket_size`` (mass-duplicated or
    boilerplate content) degrade to star candidates around the min-id
    member (see capped_left) — candidate count stays linear in bucket
    size and dedup_clusters still recovers the full duplicate group.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    rows_per_band = num_hashes // bands
    # shingle-hash ARRAYS feed both the signature build and the exact
    # verify — compute once, persist once (~8B/shingle serialized; at
    # 100 TB this spills to disk, still far cheaper than re-tokenizing
    # the corpus a second time).  Signatures derive map-side from the
    # arrays (no explode/shuffle); verify explodes the same persisted
    # arrays only for the docs that appear in candidate pairs.
    arrs = track(doc_shingle_hash_arrays(df, id_col, text_col, k).persist())
    # cached: the band self-join consumes sig on BOTH sides
    sig = track(sig_from_arrays(arrs, id_col, num_hashes).cache())
    band_cols = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                ).alias("bh"),
            ),
        )
    )
    buckets = annotate_buckets(
        sig.select(F.col(id_col), band_cols.alias("bk")).select(
            id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
        ),
        ["band", "bh"],
        id_col,
    )
    a = capped_left(buckets, id_col, max_bucket_size).alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    return _verify_jaccard(arrs, cand, id_col, threshold)


def _verify_jaccard(
    arrs: DataFrame,
    cand: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard on candidate pairs via shingle-hash sets.

    ``arrs`` is the persisted (id, sh_arr) relation whose arrays are
    ALREADY per-doc distinct — they join straight onto the candidate
    pairs (no explode → collect_set round trip, which costs a full
    keyed shuffle for sets we already hold).  Cost is O(candidates),
    not O(n²).
    """
    a = arrs.select(F.col(id_col).alias("doc_a"), F.col("sh_arr").alias("sa"))
    b = arrs.select(F.col(id_col).alias("doc_b"), F.col("sh_arr").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))).cast(
        "double"
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs k-gram Jaccard via shingle equi-join.

    Cost is Σ_s df(s)² over shingle document-frequencies — fine for
    corpus-scale verification and as the DuckDB-checkable oracle of
    the MinHash path; at 100 TB use minhash_lsh_candidates instead.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = doc_shingle_hashes(df, id_col, text_col, k)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = (
        a.join(b, (F.col("sh_a") == F.col("sh_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_decontaminate(
    df: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Bipartite fuzzy eval-set decontamination: exact k-gram Jaccard
    between every corpus doc and every PROBE (held-out eval) doc via a
    shared-shingle equi-join, keeping pairs at/above ``threshold`` —
    the near-match scrub that catches paraphrased/reformatted benchmark
    leakage the exact-fingerprint anti-join (contamination_check)
    misses.  Returns (doc_id, probe_id, jaccard).

    Scale shape: unlike the all-pairs self-join (ngram_jaccard_pairs,
    cost Σ_s df(s)²), the join is BIPARTITE with an eval-sized probe
    side — cost Σ_s df_corpus(s)·df_probe(s), linear in the corpus for
    a fixed eval suite; the corpus shuffles once on the shingle hash
    and candidate verification is an exact integer count.
    """
    sh_c = doc_shingle_hashes(df, id_col, text_col, k)
    sh_p = doc_shingle_hashes(probes, id_col, text_col, k)
    n_c = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("na"))
    n_p = sh_p.groupBy(id_col).agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        sh_c.select(F.col(id_col).alias("doc_id"), "sh")
        .join(
            sh_p.select(F.col(id_col).alias("probe_id"), "sh"), "sh"
        )
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(n_c.withColumnRenamed(id_col, "doc_id"), "doc_id")
        .join(n_p.withColumnRenamed(id_col, "probe_id"), "probe_id")
        .select("doc_id", "probe_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """64-bit SimHash per doc from token xxhash64 bits weighted by
    token frequency.  Returns (id, simhash bigint, simhash_hex).

    ZERO-shuffle row-local path — token hashes computed JVM-side
    (`transform`+`xxhash64`), then one numpy bit-unpack + segmented
    sum per Arrow batch.  Duplicate tokens contribute once per
    occurrence, which equals the weighted per-distinct-token sum, and
    all sums are exact integers with the same `> 0` sign rule —
    bit-identical to an explode → groupBy → 64 conditional-sum
    aggregate, whose shuffle is O(docs × distinct tokens) (kept in
    tests as the reference).  At 100 TB this removes that shuffle
    entirely.
    """
    import numpy as np
    import pandas as pd

    base = df.select(
        F.col(id_col),
        F.transform(tokens_col(text_col), lambda t: F.xxhash64(t)).alias(
            "_th"
        ),
    )
    SH = np.arange(64, dtype=np.uint64)
    POW = np.uint64(1) << SH

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ths = pdf["_th"].to_numpy()
            lens = np.fromiter(
                (len(a) for a in ths), dtype=np.int64, count=len(ths)
            )
            flat = np.concatenate(ths).astype(np.int64).astype(np.uint64)
            contrib = (
                2 * ((flat[:, None] >> SH) & np.uint64(1)).astype(np.int64)
                - 1
            )  # (total, 64) of ±1
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sums = np.add.reduceat(contrib, starts, axis=0)  # (n, 64)
            words = ((sums > 0).astype(np.uint64) * POW).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": words.view(np.int64)}
            )

    sig_df = base.mapInPandas(gen, schema=f"{id_col} long, simhash bigint")
    return sig_df.withColumn(
        "simhash_hex", F.lpad(F.hex("simhash"), 16, "0")
    )


def _chunk_specs(n_chunks: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) per chunk, widths as even as possible over n_bits."""
    base, rem = divmod(n_bits, n_chunks)
    specs, off = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < rem else 0)
        specs.append((off, width))
        off += width
    return specs


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, with
    GUARANTEED recall at the requested distance.

    Pigeonhole: the 64 bits split into ``max_hamming + 1`` chunks, so
    ≤ max_hamming flipped bits leave at least one chunk untouched —
    every true pair collides in some (chunk, value) bucket.  Candidates
    come only from bucket equi-joins; exact bit_count(xor) filters.

    Cost note: wider distances mean narrower chunks (d=12 → 13 chunks
    of ~5 bits), so buckets get hotter as d grows — that's inherent to
    single-chunk pigeonhole.  ``max_bucket_size`` bounds the blowup
    (hot buckets degrade to star candidates, see capped_left); for
    d ≳ 16 on 64-bit hashes prefer MinHash banding.
    """
    sig = track(simhash64(df, id_col, text_col).cache())
    return hamming_near_pairs(
        sig, id_col, "simhash", max_hamming, max_bucket_size
    )


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs over any precomputed 64-bit signature relation
    (id, hash) by Hamming distance ≤ max_hamming — the pigeonhole
    chunk-bucket joiner factored out of simhash_near_pairs so other
    fingerprints (e.g. the binary payload phash in
    operators/multimodal) reuse the same guaranteed-recall join."""
    # select exactly (id, hash): a missing hash_col fails fast here,
    # and a pre-existing 'simhash' column can't collide with the
    # rename (ADVICE r4)
    sig = sig.select(F.col(id_col), F.col(hash_col).alias("simhash"))
    n_chunks = max_hamming + 1
    chunks = annotate_buckets(
        sig.select(
            F.col(id_col),
            F.col("simhash"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk"),
                            F.shiftrightunsigned(F.col("simhash"), off)
                            .bitwiseAND(F.lit((1 << width) - 1))
                            .alias("ck"),
                        )
                        for c, (off, width) in enumerate(_chunk_specs(n_chunks))
                    ]
                )
            ).alias("c"),
        ).select(
            id_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck")
        ),
        ["chunk", "ck"],
        id_col,
    )
    a = capped_left(chunks, id_col, max_bucket_size).alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        # filter BEFORE the distinct: the hamming cut kills almost all
        # of the (hot-bucket-quadratic) candidate stream map-side, so
        # the dedup shuffle carries only true near-pairs — ordering it
        # after .distinct() shuffled every candidate collision
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): per doc, the
    distinct set of window-minimum shingle hashes — each w consecutive
    k-gram hashes contribute their minimum, guaranteeing any match of
    length ≥ w+k-1 tokens shares a fingerprint.  The rolling-hash
    fingerprinting used by plagiarism/near-dup scanners, here as pure
    array expressions: the shingle-hash array already exists (token
    hashes composed, no string building), window minima via
    transform+slice+array_min.

    Returns (id, fp) rows, fp = selected hash.  O(doc length) per doc,
    no shuffle until the final per-doc explode; fingerprint count per
    doc is ~2·len/w, and joins on fp find candidate overlaps.

    ``portable_hash=True`` swaps xxhash64 composition for a 56-bit
    value parsed from md5 of the shingle STRING — slower (per-shingle
    string building) but reproducible in any engine, which is what
    lets the registered query be oracle-checked; the default stays on
    the fast path.
    """
    if portable_hash:
        w_arr = tokens_col(text_col)
        shingle_str = F.when(
            F.size(w_arr) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(w_arr) - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w_arr, i + j) for j in range(k)]
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", w_arr)))
        sh_arr = F.transform(
            shingle_str,
            lambda s: F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("long"),
        )
        staged = _spread(df, id_col).select(F.col(id_col), sh_arr.alias("_sh"))
    else:
        base = _spread(df, id_col).select(
            F.col(id_col), tokens_col(text_col).alias("_w")
        ).select(
            id_col,
            "_w",
            F.transform(F.col("_w"), lambda t: F.xxhash64(t)).alias("_th"),
        )
        sh_arr = F.when(
            F.size("_th") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("_th") - (k - 1)),
                lambda i: F.xxhash64(
                    *[F.element_at(F.col("_th"), i + j) for j in range(k)]
                ),
            ),
        ).otherwise(F.array(F.xxhash64(F.concat_ws(" ", F.col("_w")))))
        staged = base.select(F.col(id_col), sh_arr.alias("_sh"))
    mins = F.when(
        F.size("_sh") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("_sh") - (w - 1)),
            lambda i: F.array_min(F.slice(F.col("_sh"), i, w)),
        ),
    ).otherwise(F.array(F.array_min(F.col("_sh"))))
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp")
    )


def _positional_grams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, _w) with one row per 1-based k-gram start position —
    positions exploded FIRST so downstream gram expressions
    (``slice(_w, pos, k)`` → concat → hash/compare) stay plain
    codegen'd Catalyst chains, never interpreted transform() lambdas
    (see shared_span_runs's hashing note)."""
    return (
        _spread(df, id_col)
        .select(F.col(id_col), tokens_col(text_col).alias("_w"))
        .where(F.size("_w") >= k)
        .select(
            F.col(id_col),
            "_w",
            F.explode(F.sequence(F.lit(1), F.size("_w") - (k - 1))).alias(
                "pos"
            ),
        )
        .select(F.col(id_col), F.col("pos").cast("long").alias("pos"), "_w")
    )


def boilerplate_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    top: int = 50,
) -> DataFrame:
    """Corpus boilerplate report: the ``top`` hottest word k-grams by
    DISTINCT-document frequency — exactly the spans the substring
    dedup's ``max_gram_docs`` cap excludes (license headers, nav
    chrome, templated disclaimers).  Pipelines publish this table so
    the cap's casualties are auditable rather than silently dropped.

    Groups on the gram STRING (no hash, nothing engine-specific):
    positions explode via ``_positional_grams``, one keyed
    aggregation per gram computes (distinct docs, total occurrences),
    and the top rows come from ``top_k_ranked`` — per-partition
    k-heaps then a rank over the ≤top survivors, never a global
    window.  Ties break on (n_docs desc, n_occurrences desc, gram
    asc), a total order, so the cut is deterministic.
    """
    from .ranking import top_k_ranked

    gram = F.concat_ws(" ", F.expr(f"slice(_w, pos, {k})"))
    per = (
        _positional_grams(df, id_col, text_col, k)
        .select(F.col(id_col), gram.alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
    )
    return top_k_ranked(
        per,
        [F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("gram")],
        k=top,
        rank_col="rk",
    )


def shared_span_runs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_run: int = 20,
    max_gram_docs: int = 50,
    portable_hash: bool = False,
) -> DataFrame:
    """Maximal shared token runs between document pairs — exact
    duplicated-substring detection (the substring-level dedup of
    "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022, re-expressed as relational algebra).

    Key identity: two documents sharing a run of L ≥ k consecutive
    tokens share exactly L-k+1 positional word k-grams on ONE join
    "diagonal" (pos_a - pos_b constant).  So instead of distributed
    suffix arrays, the operator is:

    1. positional k-gram hashes (id, pos, gh) — O(tokens) per doc,
       no global state;
    2. boilerplate guard: k-grams occurring in more than
       ``max_gram_docs`` DISTINCT docs are dropped (license headers,
       navigation chrome — the published practice, and the cap that
       keeps the self-join from going quadratic on hot grams);
    3. hash self-join on gh with doc_a < doc_b → matched position
       pairs;
    4. gaps-and-islands per (doc_a, doc_b, diagonal): consecutive
       pa values collapse to one island via ``pa - row_number()``;
       each island IS a maximal shared run of ``count + k - 1``
       tokens.

    Emits (doc_a, doc_b, start_a, start_b, run_len) for runs of at
    least ``min_run`` tokens (positions 1-based).  Every step is a
    keyed shuffle (gh, then the pair+diagonal window key) — no
    all-pairs stage, no driver state, so the plan survives corpus
    scale; within-doc gram repetition is bounded by doc length and
    by upstream repetition filtering (see ns_repetition_filter).

    ``portable_hash=True`` swaps xxhash64 for the 56-bit md5-prefix
    hash reproducible in any engine (oracle checking); the default
    stays on the fast path.  Docs shorter than k tokens cannot hold a
    qualifying run and are skipped on both paths.

    Hashing construction: positions are exploded FIRST and each gram
    is hashed by a plain ``slice → concat_ws → hash`` expression
    chain.  A ``transform()`` lambda building the per-doc gram array
    looks natural but Catalyst evaluates higher-order-function
    lambdas INTERPRETED (~1 µs per element-op) — measured 21× slower
    (8.6 s → 0.4 s at the 5k-doc corpus) than this whole-stage-
    codegen'd shape, which also spares re-evaluating the lambda on
    every branch of the self-join.

    Reference parity: the reference engine has no substring-dedup
    operator; this extends the LLM-curation surface alongside
    winnow_fingerprints / containment_pairs.
    """
    if min_run < k:
        raise ValueError(f"min_run ({min_run}) must be >= k ({k})")
    gram_str = F.concat_ws(" ", F.expr(f"slice(_w, pos, {k})"))
    if portable_hash:
        gh = F.conv(F.substring(F.md5(gram_str), 1, 14), 16, 10).cast("long")
    else:
        gh = F.xxhash64(gram_str)
    grams = _positional_grams(df, id_col, text_col, k).select(
        F.col(id_col), "pos", gh.alias("gh")
    )
    # Boilerplate / hot-gram guard: distinct-doc frequency per gram.
    docfreq = (
        grams.select(id_col, "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_gram_docs)
        .select("gh")
    )
    kept = grams.join(docfreq, "gh")
    a = kept.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "gh"
    )
    b = kept.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), "gh"
    )
    m = a.join(b, "gh").where(F.col("doc_a") < F.col("doc_b"))
    from pyspark.sql import Window

    diag = (F.col("pa") - F.col("pb")).alias("_diag")
    win = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("pa")
    isl = m.select("doc_a", "doc_b", "pa", "pb", diag).withColumn(
        "_grp", F.col("pa") - F.row_number().over(win)
    )
    runs = (
        isl.groupBy("doc_a", "doc_b", "_diag", "_grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + (k - 1)).alias("run_len"),
        )
        .where(F.col("run_len") >= min_run)
        .select("doc_a", "doc_b", "start_a", "start_b", "run_len")
    )
    return runs


def remove_shared_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_run: int = 20,
    max_gram_docs: int = 50,
    portable_hash: bool = False,
) -> DataFrame:
    """APPLY step of substring dedup: cut every qualifying shared run
    (see ``shared_span_runs``) out of the HIGHER-id document of each
    pair, keeping the lower-id copy — all-but-one survival, the Lee
    et al. 2022 policy made deterministic by id order.

    Plan shape: runs → explode each run's [start_b, start_b+len)
    token positions → DISTINCT (overlapping runs union for free, no
    interval-merge window needed) → LEFT ANTI join against the
    corpus's (id, pos, token) relation → ordered per-doc reassembly.
    Everything is keyed on (id) or (id, pos); covered-position volume
    is bounded by total duplicated footage, so the anti-join stays
    proportional to what is actually removed.

    Emits one row per input document: (id, n_tokens, n_removed,
    clean_md5) where clean_md5 fingerprints the cleaned
    space-joined token sequence — compact enough to oracle-check the
    full reconstruction without shipping cleaned text around.
    """
    runs = shared_span_runs(
        df,
        id_col=id_col,
        text_col=text_col,
        k=k,
        min_run=min_run,
        max_gram_docs=max_gram_docs,
        portable_hash=portable_hash,
    )
    covered = (
        runs.select(
            F.col("doc_b").alias(id_col),
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("run_len") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )
    toks = (
        _spread(df, id_col)
        .select(F.col(id_col), F.posexplode(tokens_col(text_col)).alias("_p0", "tok"))
        .select(F.col(id_col), (F.col("_p0") + 1).cast("long").alias("pos"), "tok")
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
            )
        ).alias("clean_md5"),
    )
    totals = _spread(df, id_col).select(
        F.col(id_col), F.size(tokens_col(text_col)).cast("long").alias("n_tokens")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            # a fully-covered doc reassembles to the empty string
            F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
        )
    )


def _cc_canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u, v) with u < v, no self-loops,
    distinct."""
    return (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_loop(edges, n_edges: int, h_edges: int, max_iters: int, converged: bool):
    """Alternating large-star/small-star rounds until the edge set is
    a fixpoint.  Returns (converged, rounds, edges, n_edges).  The
    ``exceptAll`` equality test only evaluates when the counts match
    (Python ``and`` short-circuits), i.e. normally once, at the
    fixpoint round.

    r14 plan shape (guide §2.4, remove shuffles outright): each round
    is THREE exchanges and NO joins — both star hooks are computed as
    window minima over the partitioning the hook itself needs, instead
    of the classic groupBy(min) + equi-join-back pair (six exchanges,
    two joins).  Per round:

    * large-star: one window over the symmetric adjacency partitioned
      by ``u`` gives m = min(N(u) ∪ u) on every row; larger neighbors
      hook onto m with a filter — no join back.
    * small-star: one window over the hooked edges partitioned by the
      larger endpoint ``b`` gives m2 = min of b's smaller neighbors
      (duplicate hook rows cannot change a min); each smaller neighbor
      AND b itself hook onto m2 via a 2-way explode — the duplicate
      (b, m2) emissions land in the canon distinct already partitioned
      by b, so partial aggregation removes them before the shuffle.
    * canon distinct = the third exchange, doubling as the fixpoint
      relation; its lineage cut is a LAZY localCheckpoint materialized
      by the round's single count action.

    The hook targets are bit-identical to the join form (same minima
    over the same neighbor sets), so the iterates — and therefore the
    round count and the fixpoint — are unchanged (pinned by
    tests/test_northstar.py convergence + component tests and the
    graph_cc oracle).  Trade-off vs the join form: a hot node's window
    partition is one task (AQE skew-split only covers joins), but the
    star contraction collapses hub degrees after round one and the min
    computation is a streaming O(deg) pass — re-measured in the skew
    battery (scratch/skew_battery.py, BASELINE.md r14)."""
    from pyspark.sql import Window as W

    rounds = 0
    for _ in range(max_iters):
        if converged:
            break
        rounds += 1
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        w_u = W.partitionBy("u")
        large = (
            sym.withColumn(
                "m", F.least(F.min("v").over(w_u), F.col("u"))
            )
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("b"), F.col("m").alias("a"))
        )
        w_b = W.partitionBy("b")
        hooked = large.withColumn("m2", F.min("a").over(w_b))
        small = hooked.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("u"), F.col("m2").alias("v")
                    ),
                    F.struct(
                        F.col("b").alias("u"), F.col("m2").alias("v")
                    ),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        nxt = _cc_canon(small).localCheckpoint(eager=False)
        # count + order-free content hash in ONE action (r14): equal
        # counts do NOT imply a fixpoint (set membership can churn at
        # constant size for several rounds — profiled: three exceptAll
        # jobs per graph_cc run), so the hash rides the count job as a
        # cheap NEGATIVE filter.  A differing hash proves non-equality
        # for free; only a matching (count, hash) runs the exact
        # exceptAll confirmation — normally once, at the true
        # fixpoint.  The hash can only produce false "maybe equal"
        # (then exceptAll decides), never a false fixpoint, so the
        # loop's exactness is untouched.
        n_nxt, h_nxt = nxt.agg(
            F.count(F.lit(1)),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)),
        ).first()
        if (
            n_nxt == n_edges
            and h_nxt == h_edges
            and nxt.exceptAll(edges).isEmpty()
        ):
            converged = True
        edges, n_edges, h_edges = nxt, n_nxt, h_nxt
    return converged, rounds, edges, n_edges


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = min doc id in the component.

    The step that turns a pair list (MinHash/SimHash/Jaccard output)
    into actionable dedup groups: keep cluster_id, drop the rest.

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14):

    * large-star: every node hooks its LARGER neighbors onto the
      minimum of its closed neighborhood;
    * small-star: every node hooks its smaller neighbors (and itself)
      onto that minimum.

    Each half-round is one window pass over the edge relation (see
    ``_cc_loop`` — r14 shape: three exchanges, no joins, one action
    per round) and the edge set contracts toward disjoint stars
    centered at each component's minimum id in O(log d) rounds (vs
    O(d) for plain min-label propagation: a 1M-hop chain settles in
    ~20 rounds, not 1M).  Lineage is cut with localCheckpoint each
    round so the plan stays flat.

    Raises RuntimeError if the edge set has not reached a fixpoint
    after ``max_iters`` rounds — silently returning partial labels
    would emit wrong components with no signal at production scale.
    With O(log d) convergence the default budget of 20 covers any
    graph with diameter < ~1M.

    After the loop, sets ``dedup_clusters.last_rounds`` to the number
    of rounds executed (for convergence-rate tests).
    """
    # The raw pair list feeds TWO consumers: the canonical edge set
    # (loop input) and the final node spine.  Checkpoint it lazily so
    # the upstream pair pipeline (at 100 TB: the whole candidate-pair
    # derivation) evaluates ONCE — the edge count below materializes
    # both checkpoints in the same job (r14; previously the final
    # ``nodes`` relation re-ran the pair subtree from scratch —
    # profiled 1.6 s of graph_cc's 9 s re-deriving the co-purchase
    # pairs a second time).
    raw = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint(eager=False)
    edges = _cc_canon(raw).localCheckpoint(
        eager=False
    )  # materialized by the count below
    n_edges, h_edges = edges.agg(
        F.count(F.lit(1)),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)),
    ).first()
    converged = n_edges == 0
    rounds = 0
    # Size the loop's shuffle parallelism to the edge count (which the
    # convergence protocol hands us for free): each round is several
    # small jobs, and at 32 partitions the per-task scheduling dwarfs
    # the work whenever the relation is tiny (measured 3.3 s → 2.1 s
    # for the 5-round sf0.1 loop).  AQE coalesces post-shuffle reads
    # but not the map-task count of each localCheckpoint
    # materialization — this does.  Past ~50k rows/partition the knob
    # leaves the session setting alone, so production-scale edge sets
    # keep full parallelism.  Restored in the finally.
    # NOTE: this narrows a SESSION-global conf for the loop's duration
    # (restored in the finally) — concurrent queries on the same
    # session briefly run with the narrowed value.  Non-numeric
    # runtime values (e.g. 'auto' on some platforms) skip the
    # optimization instead of failing the operator (ADVICE r4).
    spark = pairs.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        prev_n = int(prev_parts)
    except (TypeError, ValueError):
        prev_n = None
    narrowed = False
    prev_aqe = None
    try:
        if prev_n is not None:
            loop_parts = min(prev_n, max(4, n_edges // 50_000 + 1))
            if loop_parts < prev_n:
                spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
                narrowed = True
                # r14: under the SAME small-edge-set condition, switch
                # AQE off for the loop's rounds.  The loop's plan is
                # join-free (window stars), so AQE's skew-join split
                # cannot apply, and its only remaining effect here is
                # to materialize every exchange as a separate job —
                # ~3 sequential stage-jobs per round whose fixed
                # dispatch cost dominates a small round outright
                # (profiled: graph_cc ran 81 AQE stage-jobs for a
                # 6-round loop).  Production-scale edge sets keep
                # prev_n partitions AND AQE (runtime coalescing as
                # rounds contract) — this toggle, like loop_parts, is
                # size-derived, not a local[32] constant.
                prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
                spark.conf.set("spark.sql.adaptive.enabled", "false")
        converged, rounds, edges, n_edges = _cc_loop(
            edges, n_edges, h_edges, max_iters, converged
        )
    finally:
        if narrowed:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_aqe is not None:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds — "
            "component structure would be wrong; raise max_iters"
        )
    dedup_clusters.last_rounds = rounds
    # Fixpoint edge set = disjoint stars (center u = component min).
    # Left-join back to the full node set so centers, and nodes that
    # only ever appeared in self-pairs, keep a row (label = own id).
    nodes = (
        raw.select(F.col("u").alias("doc_id"))
        .union(raw.select(F.col("v").alias("doc_id")))
        .distinct()
    )
    members = edges.select(
        F.col("v").alias("doc_id"), F.col("u").alias("cluster_id")
    ).groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
    return nodes.join(members, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact k-gram Jaccard CONTAINMENT pairs: C(A→B) = |A∩B| / |A|.

    Containment is the asymmetric near-dup signal Jaccard misses: a
    short doc fully quoted inside a much longer one has tiny Jaccard
    (union is large) but containment ≈ 1 in the short→long direction —
    the shape of boilerplate inclusion and quote-expansion dups in
    training corpora (cf. Broder's resemblance-vs-containment split,
    which MinHash approximates only for resemblance).

    Same shingle equi-join cost profile as ``ngram_jaccard_pairs``
    (Σ_s df(s)² over shingle document frequencies): the intersection
    is computed once per unordered pair, then emitted in BOTH
    directions with the direction-specific denominator.  Returns
    (doc_a, doc_b, containment) where containment = |A∩B|/|A| ≥
    threshold, doc_a ≠ doc_b.
    """
    sh = doc_shingle_hashes(df, id_col, text_col, k)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("u"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("v"), F.col("sh").alias("sh_b"))
    inter = (
        a.join(b, (F.col("sh_a") == F.col("sh_b")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    directed = inter.select(
        F.col("u").alias("doc_a"), F.col("v").alias("doc_b"), "inter"
    ).unionAll(
        inter.select(
            F.col("v").alias("doc_a"), F.col("u").alias("doc_b"), "inter"
        )
    )
    na = counts.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    cont = F.col("inter").cast("double") / F.col("na").cast("double")
    return (
        directed.join(na, "doc_a")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Sub-document (chunk-level) corpus dedup — the CCNet/RefinedWeb
    move: hash fixed-size token chunks ("paragraph" proxies), keep only
    each chunk's FIRST occurrence corpus-wide (ordered by doc, then
    position), and report per-doc survival stats.

    Returns (id, n_chunks, n_kept, kept_tokens): how much of each doc
    survives after boilerplate/duplicated passages are removed at
    chunk granularity — strictly finer than doc-level exact dedup
    (``exact_dedup``) and cheaper than shingle overlap.

    Scale shape: chunking is a row-local explode (Generate fused with
    the slice expression); first-occurrence selection is ONE window
    shuffle partitioned by the 16-byte chunk hash (heavy tails
    impossible: a chunk's partition holds its occurrence count, which
    dedup is precisely there to bound); the per-doc rollup re-shuffles
    only (id, flags).
    """
    n = F.size(tokens_col(text_col))
    n_chunks = F.ceil(n.cast("double") / chunk_tokens).cast("int")
    # inline in the Generate: struct(idx, md5(chunk text), chunk len)
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.alias("idx"),
                F.md5(
                    F.concat_ws(
                        " ",
                        F.slice(
                            tokens_col(text_col),
                            i * chunk_tokens + 1,
                            chunk_tokens,
                        ),
                    )
                ).alias("h"),
                F.size(
                    F.slice(
                        tokens_col(text_col), i * chunk_tokens + 1, chunk_tokens
                    )
                ).alias("n_tok"),
            ),
        )
    )
    from pyspark.sql import Window

    chunks = _spread(df, id_col).select(F.col(id_col), chunk.alias("c")).select(
        id_col, "c.idx", "c.h", "c.n_tok"
    )
    w = Window.partitionBy("h").orderBy(id_col, "idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    keep = (F.col("rn") == 1).cast("int")
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(keep).cast("long").alias("n_kept"),
        F.sum(keep * F.col("n_tok")).cast("long").alias("kept_tokens"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT k-gram Jaccard ≥ threshold pairs via PPJoin-style prefix
    filtering (Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection", WWW 2008) — the exact-at-scale alternative
    to MinHash when no recall loss is acceptable.

    Principle: order every document's shingles by GLOBAL rarity
    (document frequency asc, hash asc — one shared total order) and
    keep only the first |S| - ⌈t·|S|⌉ + 1 as the doc's PREFIX.  Any
    pair with J(x, y) ≥ t must share at least one prefix token, so
    candidates meet through a prefix-token equi-join whose join keys
    are by construction the RAREST tokens of each document — the
    frequency skew that makes a naive shingle self-join quadratic is
    exactly what the prefix cuts away.  Candidates are then verified
    with exact array-intersection Jaccard (cost O(candidates)).

    Output equals ngram_jaccard_pairs(threshold) bit-for-bit — the
    completeness of the prefix principle is asserted in tests and the
    registered query's DuckDB oracle recomputes the full all-pairs
    join.  Shuffle profile: one shingle→df aggregation, one per-doc
    sort of its own shingles (doc-local arrays), one equi-join on
    rare prefix tokens.

    The prefix length is computed in INTEGER arithmetic: the threshold
    is applied as the rational num/1000 with
    num = ⌊t·1000⌋ computed EXACTLY (Fraction over the float's exact
    binary value), so num/1000 ≤ t always and
    ⌈(num/1000)·n⌉ = (num·n + 999) div 1000 exactly.  Two float
    hazards are closed: F.ceil of a float product overshoots
    (0.9·30 → 27.000000000000004 → 28), and round(t·1000) can EXCEED
    t for thresholds with >3 decimals (0.8995 → 900), raising the
    effective prefix threshold above the t that _verify_jaccard
    filters at — both silently DROP qualifying pairs from an operator
    whose contract is "exact, no recall loss".  Flooring can only
    lower the prefix threshold ≤ t: prefixes get longer, candidates a
    superset, and exact verification trims to precisely J ≥ t.

    r14 — POSITIONAL filter (PPJoin §3.2 of the paper; guide §2.3
    shuffle-fewer-bytes applied to candidate volume): a match at
    0-based prefix positions (i, j) of docs with n_a/n_b shingles
    bounds the whole intersection by ub = 1 + min(n_a-i-1, n_b-j-1)
    (arrays share one global total order, so common shingles match in
    order; at the pair's FIRST common prefix token nothing common
    precedes, hence inter ≤ ub there — and ub is largest at the first
    match, so filtering EVERY matched row keeps a pair iff its
    first-match row passes).  J ≥ t needs inter ≥ t/(1+t)·(n_a+n_b) ≥
    num/(1000+num)·(n_a+n_b); rows with ub·(1000+num) < num·(n_a+n_b)
    can therefore be dropped BEFORE the pair-distinct with no recall
    loss (all-integer test, no float hazard; it subsumes the classic
    length filter — the (i=0, j=0) case reduces to 1000·min ≥
    num·max).  Measured at sf0.1/t=0.6: 299k → 68.5k distinct
    candidates through the distinct + verify stages, identical output.
    """
    from fractions import Fraction
    from math import floor

    num = floor(Fraction(threshold) * 1000)
    sh = doc_shingle_hashes(df, id_col, text_col, k)  # (id, sh) distinct
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    s2 = sh.join(freq, "sh")
    perdoc = s2.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("_df", "sh"))).alias("_toks"),
        F.count(F.lit(1)).alias("_n"),
    )
    # prefix_len = n - ceil(num·n/1000) + 1, all-integer (see docstring)
    plen = (
        F.col("_n") - F.expr(f"({num} * _n + 999) div 1000") + 1
    ).cast("int")
    arrs = perdoc.select(
        F.col(id_col),
        F.transform(F.col("_toks"), lambda x: x["sh"]).alias("sh_arr"),
        F.slice(F.col("_toks"), F.lit(1), plen).alias("_prefix"),
        F.col("_n"),
    ).persist()
    pref = arrs.select(
        F.col(id_col),
        F.col("_n"),
        F.posexplode(F.col("_prefix")).alias("_i", "_p"),
    ).select(F.col(id_col), F.col("_n"), F.col("_i"), F.col("_p.sh").alias("sh"))
    a = pref.select(
        F.col(id_col).alias("doc_a"), F.col("_n").alias("_na"),
        F.col("_i").alias("_ia"), "sh",
    )
    b = pref.select(
        F.col(id_col).alias("doc_b"), F.col("_n").alias("_nb"),
        F.col("_i").alias("_ib"), "sh",
    )
    ub = F.lit(1) + F.least(
        F.col("_na") - F.col("_ia") - 1, F.col("_nb") - F.col("_ib") - 1
    )
    positional = ub * (1000 + num) >= num * (F.col("_na") + F.col("_nb"))
    cand = (
        a.join(b, "sh")
        .where((F.col("doc_a") < F.col("doc_b")) & positional)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(
        arrs.select(id_col, "sh_arr"), cand, id_col, threshold
    )


def self_repetition_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    min_run: int = 3,
    max_gram_occ: int = 50,
) -> DataFrame:
    """Maximal INTRA-document repeated token runs — the within-doc
    counterpart of ``shared_span_runs`` (tandem repeats, templated
    chrome, copy-pasted passages inside ONE document; curation
    recipes drop or trim docs dominated by internal repetition, and
    this emits the spans so the policy can be length-aware instead of
    a blunt ratio).

    Same diagonal identity, applied within a document: two
    occurrences of a repeated run of L ≥ k tokens at positions
    (p, p+d) share exactly L-k+1 positional k-gram pairs on the ONE
    diagonal d = pb - pa.  Plan:

    1. positional k-gram hashes (id, pos, gh) — the codegen
       slice→concat→hash chain over ``_positional_grams``;
    2. occurrence cap: (id, gh) groups larger than ``max_gram_occ``
       are dropped — a pathological doc that is one token repeated
       10 000× would otherwise self-join quadratically (the intra-doc
       analog of shared_span_runs' ``max_gram_docs``);
    3. self-join within id on gh with pa < pb → matched position
       pairs (bounded by Σ occ² per (doc, gram), occ ≤ cap);
    4. gaps-and-islands per (id, diagonal): consecutive pa collapse
       via ``pa - row_number()``; each island is a maximal repeated
       run of ``count + k - 1`` tokens.

    Emits (id, start_1, start_2, run_len) for runs ≥ ``min_run``
    tokens, positions 1-based; ``start_2 - start_1`` is the repeat
    period, and period < run_len means the two copies overlap — a
    tandem repeat, reported as-is.  Every step is a keyed shuffle on
    (id, gh) or (id, diagonal) — per-doc work, embarrassingly
    parallel at corpus scale.
    """
    if min_run < k:
        raise ValueError(f"min_run ({min_run}) must be >= k ({k})")
    gram_str = F.concat_ws(" ", F.expr(f"slice(_w, pos, {k})"))
    grams = _positional_grams(df, id_col, text_col, k).select(
        F.col(id_col), "pos", F.xxhash64(gram_str).alias("gh")
    )
    capped = (
        grams.groupBy(id_col, "gh")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .where(F.col("_occ") <= max_gram_occ)
        .select(id_col, "gh")
    )
    kept = grams.join(capped, [id_col, "gh"])
    a = kept.select(F.col(id_col), F.col("pos").alias("pa"), "gh")
    b = kept.select(F.col(id_col), F.col("pos").alias("pb"), "gh")
    m = a.join(b, [id_col, "gh"]).where(F.col("pa") < F.col("pb"))
    from pyspark.sql import Window

    win = Window.partitionBy(id_col, "_diag").orderBy("pa")
    isl = m.select(
        F.col(id_col), "pa", "pb", (F.col("pb") - F.col("pa")).alias("_diag")
    ).withColumn("_grp", F.col("pa") - F.row_number().over(win))
    return (
        isl.groupBy(id_col, "_diag", "_grp")
        .agg(
            F.min("pa").alias("start_1"),
            F.min("pb").alias("start_2"),
            (F.count(F.lit(1)) + (k - 1)).cast("long").alias("run_len"),
        )
        .where(F.col("run_len") >= min_run)
        .select(id_col, "start_1", "start_2", "run_len")
    )


def canonical_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Duplicate-group CANONICALIZATION — the selection policy that
    turns a dedup pass into a kept corpus: documents whose distinct-
    token SETS are identical (order/multiplicity-insensitive rewrites
    of one another) form a group under one md5 signature; each group
    keeps its best-quality member (max ``quality_col``, tie-break min
    id) and drops the rest.  Emits one row per group with ≥ 2 members:
    (sig, n_group, canonical_id, n_dropped, chars_dropped) — the audit
    ledger a curation run records alongside the kept corpus.

    The token-set key is deliberately the cheapest SQL-expressible
    near-dup family (reorderings + repetition changes); the same
    argmax-per-group policy composes unchanged with the MinHash/LSH or
    connected-component cluster ids for fuzzier families (pass the
    cluster id as the signature).

    Shape: signature is a projection (no shuffle); ONE exchange on the
    16-byte signature serves both the row_number window and the group
    aggregate (same key, reused partitioning).  Integer outputs only —
    bit-exact under any partitioning."""
    from pyspark.sql import Window as W

    sig = F.md5(
        F.concat_ws(
            " ",
            F.array_sort(
                F.array_distinct(F.split(F.trim(F.col(text_col)), " "))
            ),
        )
    )
    base = df.select(F.col(id_col), F.col(quality_col), sig.alias("sig"))
    w = W.partitionBy("sig").orderBy(F.col(quality_col).desc(), F.col(id_col))
    ranked = base.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("n_group"),
            F.max(F.when(F.col("_rn") == 1, F.col(id_col))).alias(
                "canonical_id"
            ),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
            (
                F.sum(quality_col)
                - F.max(F.when(F.col("_rn") == 1, F.col(quality_col)))
            ).alias("chars_dropped"),
        )
        .where(F.col("n_group") >= 2)
    )
