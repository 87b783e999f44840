"""Distributed graph operators: PageRank and triangle counting.

The reference has no graph surface (it is an ingestion shell —
ingestion/utils/dataIngestionUtils.py drives per-table extraction
jobs); these operators extend the engine to the graph analytics a
training-data pipeline needs (influence weighting of sources,
link-graph dedup signals, co-occurrence mining).

Scale posture:

* PageRank is the canonical iterative-join workload: each iteration is
  one equi-join (ranks onto out-edges) + one keyed aggregation.  Edges
  are the big relation and stay partitioned; ranks are |V| rows.  On a
  cluster both sides hash-partition on the join key, so iterations
  reuse the shuffle layout; lineage is cut with localCheckpoint every
  few rounds to stop plan growth.
* Triangle counting uses the min-degree orientation: each undirected
  edge is directed from the (degree, id)-smaller endpoint to the
  larger, which bounds every node's out-degree by O(sqrt(|E|)) and
  keeps the wedge self-join linear-ish in |E|^1.5 worst case instead
  of Σ deg² (the classic hot-vertex blowup on skewed graphs).

Determinism: ranks use scaled *integer* arithmetic (BIGINT, ``div``)
so results are bit-exact and oracle-checkable — float PageRank sums
are partition-order dependent.  ``scale=10**9`` keeps every
intermediate below 2^63 for |V| up to ~10^7 per the bound in
``pagerank_int``'s docstring; production float variants trade this
exactness for fewer digits of state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import track


def pagerank_int(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 10**9,
    damp_pct: int = 85,
) -> DataFrame:
    """Integer-scaled PageRank over a directed edge list (src, dst).

    r_0(v) = scale;  r_{t+1}(v) = base + damp_pct·Σ_{u→v} (r_t(u) div
    outdeg(u)) div 100, with base = (100-damp_pct)·scale div 100.
    All arithmetic is BIGINT with truncating division (Spark ``div``,
    DuckDB ``//``) so any execution order gives identical bits.

    Overflow bound: Σ r ≤ |V|·scale grows only sublinearly per round
    (mass leaks through the div truncation), so damp_pct·Σ stays under
    2^63 while |V|·scale·100 < 2^63 — with scale=1e9 that is |V| ≲ 9e7.

    Every node is assumed to have ≥1 out-edge (callers bidirect
    undirected graphs, which guarantees it); dangling-node mass
    handling is deliberately out of scope for the exact variant.
    """
    from pyspark.sql import Window as W

    base = (100 - damp_pct) * scale // 100
    # (src, dst, outdeg): the per-iteration probe side, computed once.
    # r14 (guide §2.4): outdeg is a window count over the same src
    # partitioning the relation needs anyway — one exchange, no
    # groupBy+join-back pair (the old shape shuffled edges twice and
    # planned a join before the first iteration even started).  The
    # counts are identical, so ranks stay bit-exact.  Trade-off: a
    # hub src's out-edges buffer in one window group (spilling past
    # memory) where the join form streamed them — re-measured in the
    # skew battery (BASELINE.md r14).
    ed = track(
        edges.withColumn(
            "outdeg", F.count(F.lit(1)).over(W.partitionBy("src"))
        ).persist()
    )
    # distinct over the cached src-partitioned relation: no new
    # exchange (the cache's hash(src) partitioning satisfies the
    # aggregation), unlike the old separate deg relation.
    ranks = (
        ed.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"), F.lit(scale).cast("long").alias("r")
        )
    )
    for i in range(iters):
        contrib = ed.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr("r div outdeg").alias("c"),
        )
        ranks = contrib.groupBy("node").agg(
            (F.lit(base) + F.expr(f"({damp_pct} * sum(c)) div 100")).alias("r")
        )
        if (i + 1) % 3 == 0:
            # cut lineage so the plan doesn't deepen linearly in iters
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damp: float = 0.85,
    nodes: DataFrame | None = None,
    with_prev: bool = False,
) -> DataFrame:
    """Production float PageRank over a directed edge list (src, dst),
    WITH dangling-node handling — the variant ``pagerank_int``
    deliberately omits.

    Normalization: ranks sum to |V| (r_0 = 1.0), so
    r_{t+1}(v) = (1-d) + d·(Σ_{u→v} r_t(u)/outdeg(u) + D_t/|V|)
    where D_t is the total rank mass sitting on dangling nodes
    (outdeg 0).  Redistributing D_t uniformly conserves Σr = |V| every
    iteration (up to float error) — without it, mass leaks through
    danglers and ranks collapse toward (1-d).

    Everything stays in-plan: the per-iteration dangling mass D_t and
    the node count |V| are 1-row aggregates broadcast back onto the
    rank relation (BroadcastNestedLoopJoin over one row — not a
    cartesian), so no driver-side action is needed per round.  Edges
    are the big relation and keep their hash partitioning across
    iterations; lineage is cut every 3 rounds as in ``pagerank_int``.

    ``nodes`` (one ``node`` column) injects isolated vertices; default
    is the endpoints of ``edges``.  ``with_prev`` returns (node, r,
    r_prev, r_prev2) — the last three iterates — so callers can assert
    the guaranteed L1 contraction ‖r_t − r_{t-1}‖₁ ≤ d·‖r_{t-1} −
    r_{t-2}‖₁ (each unit of rank delta re-spreads damped by d, whether
    through out-edges or the dangling redistribution) without running
    the whole iteration twice.

    Float caveat: partition-order-dependent at the ULP level, hence
    NOT bit-exact across engines — gate queries must assert tolerance
    booleans (mass conservation / convergence), not raw rank hashes.
    """
    from pyspark.sql import Window as W

    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    # r14 (guide §2.4): outdeg as a window count over src — one
    # exchange instead of the groupBy+join-back pair (same counts,
    # same ranks; see pagerank_int for the hub-buffering trade-off).
    ed = track(
        edges.withColumn(
            "outdeg", F.count(F.lit(1)).over(W.partitionBy("src"))
        ).persist()
    )
    srcs = ed.select("src").distinct()
    # (node, dangling?) computed ONCE and carried through every rank
    # relation — the per-round dangling mass is then a plain
    # conditional aggregate over ranks instead of an extra join+agg
    # stage per iteration.
    nodes = track(
        nodes.join(
            srcs.select(F.col("src").alias("node"), F.lit(False).alias("dg")),
            "node",
            "left",
        )
        .select("node", F.coalesce(F.col("dg"), F.lit(True)).alias("dg"))
        .persist()
    )
    n_v = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_v"))
    ranks = nodes.select("node", "dg", F.lit(1.0).alias("r"))
    prev = prev2 = ranks
    for i in range(iters):
        contrib = ed.join(
            ranks.select(F.col("node").alias("src"), "r"), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("r") / F.col("outdeg")).alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        dang = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("dg"), F.col("r"))), F.lit(0.0)
            ).alias("dm")
        )
        prev2 = prev
        prev = ranks
        ranks = (
            nodes.join(summed, "node", "left")
            .join(F.broadcast(dang))
            .join(F.broadcast(n_v))
            .select(
                "node",
                "dg",
                (
                    F.lit(1.0 - damp)
                    + F.lit(damp)
                    * (
                        F.coalesce(F.col("s"), F.lit(0.0))
                        + F.col("dm") / F.col("n_v")
                    )
                ).alias("r"),
            )
        )
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    if with_prev:
        return (
            ranks.select("node", "r")
            .join(prev.select("node", F.col("r").alias("r_prev")), "node")
            .join(prev2.select("node", F.col("r").alias("r_prev2")), "node")
        )
    return ranks.select("node", "r")


def triangle_count(edges: DataFrame, filter_bits: int = 1 << 28) -> DataFrame:
    """Total triangle count of an undirected graph given as canonical
    edges (a < b, distinct).  Returns one row: (n_triangles BIGINT).

    Min-degree orientation: direct each edge toward the (deg, id)
    larger endpoint, enumerate wedges u→v, u→w (v < w by the same
    order), and close them against the oriented edge v→w.  Out-degree
    after orientation is O(sqrt(|E|)), so the wedge join is bounded
    even when raw degrees are skewed (hot hub vertices).

    Closing-edge RUNTIME FILTER (r10): the wedge→closing equi-join is
    the cost center — wedge volume is Σ C(outdeg, 2) (≈2e9 at sf1's
    12M-edge co-purchase graph) while under 1% of wedges close.
    Spark's own InjectRuntimeFilter blooms a shuffle join's stream
    side from its build side, but its bloom aggregate isn't in the
    public function registry, so the same design is rebuilt from
    public pieces: every closing edge sets TWO xxhash64-derived bits
    in a fixed-size bit array (``filter_bits``, default 2^28 — sized
    for the false-positive rate, INDEPENDENT of graph size), kept as
    a WORD-wise relation (bit_or of shifted bits → ≤ filter_bits/64
    rows, a hard cap), and each wedge probes both bits through TWO
    BROADCAST-HASH JOIN lookups on the word index plus a bitwise
    test — the whole probe stays inside WholeStageCodegen (a first
    pandas-UDF probe variant measured 164 s at sf1: Arrow transfer of
    the billion-row wedge stream to Python cost most of what the
    pruning saved).  Inner-joining the word table is itself part of
    the filter: a wedge whose word is absent has no bit set and drops
    before the bit test.  A closing wedge always set its own bits, so
    there are NO false negatives; false positives are re-verified by
    the exact equi-join that follows — the count is bit-identical,
    only the shuffled wedge volume shrinks (~50× at the default
    sizing: two probes at ~9% fill → fpp ≈ 0.8%).  Measured at sf1:
    202 s → see BASELINE.md round-10.
    """
    # mask = filter_bits - 1 below is only a valid bit mask for a
    # power of two; anything else silently degrades the filter's
    # documented fpp sizing (results stay exact — selectivity doesn't).
    if filter_bits < 64 or filter_bits & (filter_bits - 1) != 0:
        raise ValueError(
            f"filter_bits must be a power of two >= 64, got {filter_bits}"
        )
    e = track(edges.select("a", "b").persist())
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed(
        "a", "v"
    )
    # orient: keep (u, v) where (deg(u), u) < (deg(v), v)
    du = deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da")
    dv = deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db")
    # dv (the head's degree) is carried so wedge legs can be ordered
    # WITHOUT a re-join: only (deg, id)-ordered leg pairs can close
    # (the closing relation contains oriented edges only), so the
    # wedge join below emits each wedge once instead of twice.
    oriented = (
        und.join(du, "a")
        .join(dv, "b")
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"), F.col("db").alias("dv"))
    )
    o = track(oriented.persist())

    # --- closing-edge bit array as a word-indexed relation ----------
    mask = filter_bits - 1
    p1 = F.xxhash64("u", "v").bitwiseAND(F.lit(mask))
    p2 = F.xxhash64("u", "v", F.lit(1)).bitwiseAND(F.lit(mask))
    pos = o.select(p1.alias("p")).unionAll(o.select(p2.alias("p")))
    words = track(
        pos.select(
            F.shiftright("p", 6).alias("w"),
            F.expr("shiftleft(1L, cast(p & 63 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .persist()
    )

    # Each triangle {a,b,c} in (deg,id) order has oriented edges a→b,
    # a→c, b→c: exactly one apex (a) whose ordered out-pair (b,c)
    # closes against the oriented edge b→c — so matching ORDERED
    # wedge pairs to oriented closing edges counts each triangle once.
    # Wedge legs carry (deg, id) so each unordered leg pair is emitted
    # ONCE, already in closing order — the non-closing order could
    # never match an oriented edge, and pre-filtering it here halves
    # the pre-probe wedge volume (r10 VERDICT item: previously
    # `x != y` emitted both orders and the bloom probe paid 2x).
    w1 = o.select(F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = o.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    q1 = F.xxhash64("x", "y").bitwiseAND(F.lit(mask))
    q2 = F.xxhash64("x", "y", F.lit(1)).bitwiseAND(F.lit(mask))
    b1 = words.select(F.col("w").alias("_w1"), F.col("bits").alias("_b1"))
    b2 = words.select(F.col("w").alias("_w2"), F.col("bits").alias("_b2"))
    wedges = (
        w1.join(w2, "u")
        .where(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("x", "y", q1.alias("_q1"), q2.alias("_q2"))
        .join(F.broadcast(b1), F.shiftright("_q1", 6) == F.col("_w1"))
        .where(F.expr("(_b1 >> cast(_q1 & 63 as int)) & 1 = 1"))
        .join(F.broadcast(b2), F.shiftright("_q2", 6) == F.col("_w2"))
        .where(F.expr("(_b2 >> cast(_q2 & 63 as int)) & 1 = 1"))
        .select("x", "y")
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return tri


def khop_reach(edges: DataFrame, seeds: DataFrame, k: int = 3) -> DataFrame:
    """Min-hop BFS: every node within ≤ k hops of the seed set, with
    its hop distance (seeds = hop 0).

    Frontier-style expansion: each round joins ONLY the newest
    frontier against the edge relation (partitioned equi-join on src),
    anti-joins out already-reached nodes, and unions the survivors in
    at hop h.  The edge relation never moves; per-round shuffle volume
    is O(|frontier| · avg_degree), which is the optimal BFS work — a
    naive re-join of the whole reach set each round would re-shuffle
    every settled node k times.  k is a fixed plan-unroll (no driver
    iteration state), so the whole traversal is ONE Catalyst plan.

    edges: (src, dst) directed — pass both directions for an
    undirected graph.  seeds: one column named ``node``.

    Planning time, not execution, limits k: the unrolled plan repeats
    the edge and frontier subtrees, so its text grows ~2^k (3714 lines
    at k=3, measured at r15), and Catalyst's analysis and optimization
    time grows with it even though execution reuses the repeated
    exchanges.

    r15 — NO caches, deliberately (reverts r14's
    repartition+persist / per-hop persist after the VERDICT r14
    item-1 adjudication).  The unrolled plan repeats the edge and
    frontier subtrees textually, but Spark's ReuseExchange (and AQE
    stage reuse) dedups the identical Exchange subtrees at execution,
    so each hop's edges/frontier is COMPUTED once per job — the 2^k
    blowup is planning-time only.  The r14 caches added pure
    materialization barriers on top of that reuse: isolated
    interleaved A/B of five shapes (scratch/ab_khop.py, digests
    identical) measured plain best/median 2.66/3.17 s vs the shipped
    full-cache 4.27/4.52 s at sf0.1, and 7.55/7.83 vs 7.45/9.39 at
    sf1 — the per-hop frontier persist alone cost ~+1.2 s at sf0.1,
    and the repartition("src").persist() of the edge relation turned
    ACTIVELY harmful at sf1 (11.8/12.3 s: a full materialization of
    the 10× edge set that exchange reuse was already providing for
    free).  Plain wins or statistically ties at both scales, so no
    size gate is warranted.
    """
    reach = seeds.select("node", F.lit(0).cast("int").alias("hop"))
    frontier = reach.select("node")
    for h in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reach.select("node"), "node", "left_anti")
        )
        reach = reach.unionAll(
            nxt.select("node", F.lit(h).cast("int").alias("hop"))
        )
        frontier = nxt
    return reach


def ppr_int(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    scale: int = 10**9,
    damp_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank (integer-scaled, bit-exact): teleport
    mass returns to the SEED SET instead of spreading uniformly —
    the similarity-to-seeds ranking used for seed-expansion retrieval
    (find more like these sources/domains).

    r_0(v) = scale·[v ∈ S];
    r_{t+1}(v) = base·[v ∈ S] + damp_pct·Σ_{u→v}(r_t(u) div outdeg(u))
                 div 100,  base = (100-damp_pct)·scale div 100.

    Same shape as pagerank_int — per round one equi-join onto the
    persisted (src, dst, outdeg) relation + one keyed aggregation —
    plus a broadcast seed-flag join (|S| rows).  All BIGINT truncating
    division, so any execution order gives identical bits.  Nodes the
    walk hasn't reached carry rank 0 rather than vanishing (left join
    against the node set), matching the unrolled SQL oracle exactly.

    The node set is the union of edge endpoints AND seeds, so sink
    nodes (dst-only) accumulate inbound contributions and a seed with
    no out-edge keeps its teleport mass (ADVICE r4: a src-only node
    set silently dropped both on directed graphs).  Contributions
    flowing INTO a sink still leave the walk there — true dangling-
    mass redistribution is the float pagerank variant's job; here the
    sink's own rank is simply reported, matching the oracle.
    """
    from pyspark.sql import Window as W

    base = (100 - damp_pct) * scale // 100
    # r14: window outdeg — one exchange, no groupBy+join-back (see
    # pagerank_int; identical counts, bit-exact ranks).
    ed = track(
        edges.withColumn(
            "outdeg", F.count(F.lit(1)).over(W.partitionBy("src"))
        ).persist()
    )
    sflag = seeds.select("node", F.lit(1).cast("long").alias("is_seed"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .unionByName(seeds.select("node"))
        .distinct()
        .join(F.broadcast(sflag), "node", "left")
        .select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
    )
    ranks = nodes.select(
        "node", (F.lit(scale) * F.col("is_seed")).cast("long").alias("r")
    )
    for _ in range(iters):
        contrib = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("cs"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base) * F.col("is_seed")
                + F.expr(f"({damp_pct} * coalesce(cs, 0)) div 100")
            ).cast("long").alias("r"),
        )
    return ranks
