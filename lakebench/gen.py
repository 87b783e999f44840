"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, ...)``: the same seed
gives byte-identical inputs, and the program under test only ever sees
what these functions produce.

* :func:`ingest_delta` — one fixed-size source delta for the ``ingest``
  workload: unique event ids, monotone timestamps, Zipf-skewed upsert
  keys.  Delta ``k`` depends only on ``(seed, k)``.
* :func:`doc_batch` — one document delta batch for ``curate``, with
  near-duplicates and contamination probes planted at fixed rates.
"""

from __future__ import annotations

import functools
import hashlib
from datetime import datetime

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- ingest

DELTA_ROWS = 50_000
KEY_SPACE = 20_000
ZIPF_A = 1.3
T0 = datetime(2024, 1, 1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def ingest_delta(seed: int, k: int, rows: int = DELTA_ROWS) -> pd.DataFrame:
    """Delta ``k`` of the ingest source.  Event ids are the dense range
    ``[k*rows, (k+1)*rows)``; timestamps strictly increase across and
    within deltas (delta ``k`` lives in the ``k``-th hour after T0);
    user keys are Zipf-skewed over ``KEY_SPACE``."""
    rng = _rng(seed, 1, k)
    ids = np.arange(k * rows, (k + 1) * rows, dtype=np.int64)
    # strictly increasing microsecond offsets inside the hour
    steps = np.sort(rng.choice(3_600_000_000 - 1, size=rows, replace=False)) + 1
    ts = pd.Timestamp(T0) + pd.to_timedelta(k * 3_600_000_000 + steps, unit="us")
    keys = (rng.zipf(ZIPF_A, size=rows) - 1) % KEY_SPACE
    return pd.DataFrame(
        {
            "event_id": ids,
            "ts": ts.astype("datetime64[us]"),
            "user_key": keys.astype(np.int64),
            "amount": np.round(rng.uniform(1.0, 500.0, size=rows), 2),
            "email": [f"user{u}@example.com" for u in keys],
        }
    )


# ---------------------------------------------------------------- curate

BATCH_DOCS = 1_000
DUP_RATE = 0.10  # token-set permutations of an earlier document
PROBE_COPY_RATE = 0.02  # documents that reuse a probe's 5-token prefix
VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer index shard page cache plan write read "
    "commit ledger asset source sink delta upsert curate corpus token"
).split()
MARKERS = {
    "en": ("the", "a", "and", "of", "in", "to", "is", "on"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
}
LANGS = ("en", "en", "en", "es", "fr", "de")
_VOCAB = np.asarray(VOCAB)


def is_probe(doc_id: int, prefix: str = "05") -> bool:
    """Mirror of the curation spec's probe rule:
    ``substring(md5(cast(doc_id as string)), 1, 2) < prefix``."""
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:2] < prefix


def _fresh_doc(rng: np.random.Generator) -> list[str]:
    markers = MARKERS[LANGS[rng.integers(0, len(LANGS))]]
    n, m = rng.integers((20, 3), (90, 8))
    words = _VOCAB[rng.integers(0, len(VOCAB), n)].tolist()
    for pos, k in zip(rng.integers(0, n + 1, m), rng.integers(0, len(markers), m)):
        words.insert(int(pos), markers[k])
    return words


def doc_batch(seed: int, b: int, docs: int = BATCH_DOCS) -> pd.DataFrame:
    """Document batch ``b``: doc ids ``[b*docs, (b+1)*docs)``.  About
    ``DUP_RATE`` of the documents re-use the token set of an earlier
    document (same batch or an earlier one), and ``PROBE_COPY_RATE``
    copy the first five tokens of a probe document, so the dedup and
    contamination stages always have work."""
    joined = [" ".join(t) for t in doc_batch_words(seed, b, docs)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(b * docs, (b + 1) * docs, dtype=np.int64),
            "text": joined,
            "n_chars": np.asarray([len(t) for t in joined], dtype=np.int64),
        }
    )


@functools.lru_cache(maxsize=None)
def doc_batch_words(seed: int, b: int, docs: int = BATCH_DOCS) -> tuple[tuple[str, ...], ...]:
    """Token lists of batch ``b`` (memoized: later batches draw their
    cross-batch near-duplicates from it)."""
    rng = _rng(seed, 3, b)
    texts: list[tuple[str, ...]] = []
    probes: list[tuple[str, ...]] = []
    for i in range(docs):
        u = rng.random()
        if u < DUP_RATE and (b > 0 or texts):
            # near-dup: shuffle an earlier doc's words (same token set)
            if texts and (b == 0 or rng.random() < 0.5):
                src = list(texts[int(rng.integers(0, len(texts)))])
            else:
                prev = doc_batch_words(seed, int(rng.integers(0, b)), docs)
                src = list(prev[int(rng.integers(0, len(prev)))])
            rng.shuffle(src)
            texts.append(tuple(src))
        elif u < DUP_RATE + PROBE_COPY_RATE and texts:
            words = _fresh_doc(rng)
            if probes:
                words[:5] = probes[int(rng.integers(0, len(probes)))][:5]
            texts.append(tuple(words))
        else:
            texts.append(tuple(_fresh_doc(rng)))
        if is_probe(b * docs + i):
            probes.append(texts[-1])
    return tuple(texts)
