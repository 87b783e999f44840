"""Property-based tests (hypothesis) — SURVEY.md §5.2: watermark
monotonicity / idempotent replay for the incremental planner, and
brute-force equivalence for the temporal joins over random inputs.

Few examples per property (Spark jobs are ~100ms each); shrinking
still gives minimal counterexamples on failure.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from aws_datalake_framework_ingestion_spark.operators import temporal as TP
from aws_datalake_framework_ingestion_spark import planner as P
from aws_datalake_framework_ingestion_spark.catalog import Catalog

EPOCH = dt.datetime(2024, 1, 1)

# (key ∈ 3 users, seconds-offset) event tuples
events_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 7200)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(left=events_strategy, right=events_strategy)
def test_asof_join_matches_bruteforce(spark, left, right):
    lrows = [
        (i, f"u{k}", EPOCH + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)
    ]
    # right deduped per (key, ts): keep max payload, as the operator contract asks
    rbest: dict[tuple[str, dt.datetime], int] = {}
    for i, (k, s) in enumerate(right):
        key = (f"u{k}", EPOCH + dt.timedelta(seconds=s))
        rbest[key] = max(rbest.get(key, -1), i * 10)
    rrows = [(u, ts, float(v)) for (u, ts), v in rbest.items()]

    ldf = spark.createDataFrame(lrows, "id long, user string, ts timestamp_ntz")
    rdf = spark.createDataFrame(rrows, "user string, ts timestamp_ntz, val double")
    got = {
        r["id"]: (r["asof_ts"], r["asof_val"])
        for r in TP.asof_join(ldf, rdf, "ts", ["user"], ["val"]).collect()
    }
    for i, u, ts in lrows:
        cands = [(rts, v) for (ru, rts, v) in rrows if ru == u and rts <= ts]
        want = max(cands) if cands else (None, None)
        assert got[i] == want, (i, got[i], want)


@settings(max_examples=8, deadline=None)
@given(rows=events_strategy, window=st.integers(60, 3600))
def test_range_join_matches_bruteforce(spark, rows, window):
    data = [
        (i, f"u{k}", EPOCH + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "id long, user string, ts timestamp_ntz")
    got = {
        (r["id"], r["r_id"])
        for r in TP.range_join(
            df, df.select("user", "ts", "id"), key="user", window_seconds=window
        ).collect()
    }
    want = {
        (i1, i2)
        for (i1, u1, t1) in data
        for (i2, u2, t2) in data
        if u1 == u2 and t1 < t2 <= t1 + dt.timedelta(seconds=window)
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    batches=st.lists(
        st.lists(st.integers(0, 1000), min_size=1, max_size=10),
        min_size=1,
        max_size=4,
    )
)
def test_incremental_plan_replay_never_duplicates(spark, batches):
    """Feeding cumulative batches through run_extraction, each run
    committed with record_run as run_asset commits it, must extract
    every row exactly once across runs (monotone watermark, half-open
    interval).

    Batches advance in time (batch k's rows are offset by k·10^4 s):
    watermark extraction is exactly-once only for append-only sources
    whose watermark column advances — a row arriving BELOW the
    persisted watermark is skipped by design ((lo, hi] semantics,
    reference dataIngestionUtils.py:140) and belongs to a dedup/MERGE
    layer, not the planner."""
    seen: set[int] = set()
    extracted: list[dt.datetime] = []
    last_wm = None
    # hypothesis rejects function-scoped fixtures such as tmp_path
    with tempfile.TemporaryDirectory() as root:
        catalog = Catalog(spark, os.path.join(root, "cat"))
        catalog.create_all()
        for b, batch in enumerate(batches):
            seen.update(b * 10_000 + s for s in batch)
            rows = [
                (i, EPOCH + dt.timedelta(seconds=s))
                for i, s in enumerate(sorted(seen))
            ]
            df = spark.createDataFrame(rows, "rid long, ts timestamp_ntz")
            dest = os.path.join(root, f"land{b}")
            plan = P.run_extraction(
                catalog, df, asset_id=1, ext_method="incremental",
                ext_col="ts", dest_path=dest,
            )
            got = [r["ts"] for r in spark.read.parquet(dest).collect()]
            assert len(got) == plan.n_rows
            extracted.extend(got)
            assert plan.lo == last_wm and plan.hi is not None
            assert last_wm is None or plan.hi >= last_wm  # monotone
            catalog.record_run(f"run{b}", 1, 1, dest, plan.hi, plan.n_rows)
            last_wm = plan.hi
    # exactly-once across all runs
    assert len(extracted) == len(set(extracted))
    all_ts = {EPOCH + dt.timedelta(seconds=s) for s in seen}
    assert set(extracted) == all_ts


# --- batched BPE == sequential BPE, adversarial corpora -------------------
#
# The r5 batched trainer accepts a ranked prefix of merges per round
# under a symbol-disjointness + created-pair-dominance argument
# (operators/text._select_merge_batch).  Tiny alphabets maximize
# self-pairs ('aa'), chained creations ('ab' colliding with later
# pairs) and count ties — exactly the cases the safety conditions
# must catch.  The oracle is the test module's own sequential
# reference (independent of the package's bpe_train_reference).

words_strategy = st.lists(
    st.text(alphabet="ab", min_size=2, max_size=6),
    min_size=1,
    max_size=12,
)


@settings(max_examples=10, deadline=None)
@given(words=words_strategy, n_merges=st.integers(1, 6))
def test_bpe_batched_equals_sequential(spark, words, n_merges):
    from collections import Counter

    from aws_datalake_framework_ingestion_spark.operators.text import bpe_train

    from .test_northstar import _py_bpe_reference

    docs = spark.createDataFrame([(" ".join(words),)], ["text"])
    got = bpe_train(docs, n_merges=n_merges)
    freqs = {w: c for w, c in Counter(words).items() if len(w) >= 2}
    want = _py_bpe_reference(freqs, n_merges)
    assert got == want


def _py_bpe_batched(word_freqs, n_merges, batch_top=64):
    """Pure-Python mirror of the BATCHED trainer's round loop, using
    the real _select_merge_batch — lets the property run hundreds of
    corpora without Spark jobs."""
    from aws_datalake_framework_ingestion_spark.operators.text import (
        _select_merge_batch,
    )

    syms = {w: list(w) for w in word_freqs}
    merges = []
    while len(merges) < n_merges:
        counts = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        ranked = [
            {"a": a, "b": b, "n": n}
            for (a, b), n in sorted(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
        ][:batch_top]
        tail = ranked[-1]["n"] if len(ranked) == batch_top else 0
        batch = _select_merge_batch(ranked, tail, n_merges - len(merges))
        for a, b, n in batch:
            merges.append((len(merges) + 1, a, b, n))
        rules = {(a, b): a + b for a, b, _ in batch}
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) in rules:
                    out.append(rules[(s[i], s[i + 1])])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


@settings(max_examples=400, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=2, max_size=8),
        min_size=1,
        max_size=20,
    ),
    n_merges=st.integers(1, 10),
)
def test_bpe_batch_selection_safe_pure(words, n_merges):
    """400 random small-alphabet corpora: the batched round loop must
    reproduce sequential BPE exactly (ties, self-pairs, chained
    creations and the created-pair dominance bound all exercised)."""
    from collections import Counter

    from .test_northstar import _py_bpe_reference

    freqs = {w: c for w, c in Counter(words).items() if len(w) >= 2}
    if not freqs:
        return
    assert _py_bpe_batched(freqs, n_merges) == _py_bpe_reference(
        freqs, n_merges
    )


# --- round-8 text ops vs pure-python brute force ---

_tok_doc = st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=20)


def _ref_self_rep(toks, k=2, min_run=3, cap=50):
    """Brute-force reference of dedup.self_repetition_spans."""
    from collections import defaultdict

    pos = defaultdict(list)
    for i in range(1, len(toks) - k + 2):
        pos[tuple(toks[i - 1 : i - 1 + k])].append(i)
    bydiag = defaultdict(list)
    for ps in pos.values():
        if len(ps) > cap:
            continue
        for a in range(len(ps)):
            for b in range(a + 1, len(ps)):
                bydiag[ps[b] - ps[a]].append(ps[a])
    runs = []
    for d, pas in bydiag.items():
        pas.sort()
        start, prev, cnt = pas[0], pas[0], 1
        for p in pas[1:]:
            if p == prev + 1:
                cnt += 1
            else:
                if cnt + k - 1 >= min_run:
                    runs.append((start, start + d, cnt + k - 1))
                start, cnt = p, 1
            prev = p
        if cnt + k - 1 >= min_run:
            runs.append((start, start + d, cnt + k - 1))
    return sorted(runs)


@settings(max_examples=8, deadline=None)
@given(docs=st.lists(_tok_doc, min_size=1, max_size=3))
def test_self_repetition_matches_bruteforce(spark, docs):
    from pyspark.sql import Row

    from aws_datalake_framework_ingestion_spark.operators import dedup as D

    frame = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(d) if d else " ") for i, d in enumerate(docs)]
    )
    got = sorted(
        (r["doc_id"], r["start_1"], r["start_2"], r["run_len"])
        for r in D.self_repetition_spans(frame, k=2, min_run=3).collect()
    )
    want = sorted(
        (i, s1, s2, ln)
        for i, d in enumerate(docs)
        for (s1, s2, ln) in _ref_self_rep(d)
    )
    assert got == want


def _ref_gopher_rep(toks, text, top_ns=(2, 3), dup_ns=(4,)):
    """Brute-force reference of text.gopher_repetition fractions."""
    from collections import Counter

    nc = max(len(text.strip()), 1)
    out = {"n_chars": nc}
    for n in set(top_ns) | set(dup_ns):
        c = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        top = max((cnt * len(g) for g, cnt in c.items()), default=0)
        dup = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
        if n in top_ns:
            out[f"top{n}_frac"] = top / nc
        if n in dup_ns:
            out[f"dup{n}_frac"] = min(1.0, dup / nc)
    return out


@settings(max_examples=8, deadline=None)
@given(docs=st.lists(_tok_doc, min_size=1, max_size=3))
def test_gopher_repetition_matches_bruteforce(spark, docs):
    from pyspark.sql import Row

    from aws_datalake_framework_ingestion_spark.operators import text as X

    texts = [" ".join(d) if d else "q" for d in docs]
    frame = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in X.gopher_repetition(
            frame, top_ns=(2, 3), dup_ns=(4,)
        ).collect()
    }
    for i, t in enumerate(texts):
        want = _ref_gopher_rep(t.strip().split(" "), t)
        got = rows[i]
        for key, val in want.items():
            assert got[key] == val, (key, i, t, got[key], val)
