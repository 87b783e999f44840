"""Tests of the benchmark's own logic (no Spark session needed):

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from stats import tail  # noqa: E402
from tracing import layer_metrics  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generator


def test_ingest_delta_deterministic_per_seed():
    a, b = gen.ingest_delta(7, 3), gen.ingest_delta(7, 3)
    assert a.equals(b)
    assert not a.equals(gen.ingest_delta(8, 3))


def test_ingest_deltas_have_unique_ids_and_monotone_ts():
    d0, d1 = gen.ingest_delta(1, 0), gen.ingest_delta(1, 1)
    assert len(d0) == gen.DELTA_ROWS
    assert d0["event_id"].is_unique
    assert set(d0["event_id"]).isdisjoint(d1["event_id"])
    assert d0["ts"].is_monotonic_increasing and d0["ts"].is_unique
    assert d0["ts"].max() < d1["ts"].min()
    assert d0["user_key"].between(0, gen.KEY_SPACE - 1).all()
    # Zipf skew: the hottest key carries far more than a uniform share
    assert d0["user_key"].value_counts().iloc[0] > 20 * gen.DELTA_ROWS / gen.KEY_SPACE


def test_doc_batch_deterministic_per_seed():
    assert gen.doc_batch(5, 2).equals(gen.doc_batch(5, 2))
    assert not gen.doc_batch(5, 2).equals(gen.doc_batch(6, 2))


def test_doc_batch_plants_duplicates_and_probe_copies():
    b0, b1 = gen.doc_batch(3, 0), gen.doc_batch(3, 1)
    sets0 = {frozenset(t.split(" ")) for t in b0["text"]}
    sets1 = [frozenset(t.split(" ")) for t in b1["text"]]
    within = len(sets1) - len(set(sets1))
    across = sum(1 for s in set(sets1) if s in sets0)
    dup_share = (within + across) / len(sets1)
    assert 0.5 * gen.DUP_RATE < dup_share < 2 * gen.DUP_RATE
    probe_prefixes = {
        tuple(t.split(" ")[:5])
        for i, t in zip(b1["doc_id"], b1["text"])
        if gen.is_probe(int(i))
    }
    copies = sum(
        1 for i, t in zip(b1["doc_id"], b1["text"])
        if not gen.is_probe(int(i)) and tuple(t.split(" ")[:5]) in probe_prefixes
    )
    assert copies > 0
    assert (b1["n_chars"] == b1["text"].str.len()).all()


# ----------------------------------------------------------- tail rule


def test_tail_keeps_ten_samples_beyond_when_there_are_enough():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90.0)  # 10 samples beyond p90
    xs = [float(i) for i in range(1, 201)]
    assert tail(xs) == (95.0, 190.0)
    assert tail([float(i) for i in range(1, 41)]) == (75.0, 30.0)


def test_tail_on_short_runs_is_p75_and_never_the_max():
    for n in range(4, 40):
        xs = [float(i) for i in range(1, n + 1)]
        p, v = tail(xs)
        assert p == 75.0
        assert v < max(xs)
        assert sum(1 for x in xs if x > v) >= max(1, n // 4)


def test_tail_needs_four_samples():
    with pytest.raises(ValueError):
        tail([1.0, 2.0, 3.0])


# ----------------------------------------------------- metric contract


def test_end_to_end_names_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert declared == run.END_TO_END_UNITS


def test_per_layer_names_match_benchmark_json():
    ops = [{"id": 0, "start": 0.0, "end": 1.0, "gc_s": 0.1, "cached_mb": 0.0}]
    spans = [{"name": "op", "start": 0.0, "end": 1.0, "parent": None, "op": 0}]
    log = {"jobs": {}, "stage_done": set(), "stage_job": {}, "tasks": {}}
    produced = set(layer_metrics(spans, ops, log, {})) | {"trace.overhead_share"}
    declared = {m["name"] for m in _bench_json()["per_layer"]}
    assert produced == declared


def test_workloads_match_benchmark_json():
    import ast

    with open(os.path.join(HERE, "workloads.py")) as f:
        tree = ast.parse(f.read())
    names = {
        node.value.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "name" for t in node.targets)
        and isinstance(node.value, ast.Constant)
        and node.value.value
    }
    assert names == {w["name"] for w in _bench_json()["workloads"]}


def test_layer_metrics_attribute_jobs_by_op_window_and_group():
    spans = [
        {"name": "op", "start": 10.0, "end": 14.0, "parent": None, "op": 1},
        {"name": "catalog.record_run", "start": 11.0, "end": 12.0, "parent": 0, "op": 1},
        {"name": "catalog.insert", "start": 11.2, "end": 11.8, "parent": 1, "op": 1},
    ]
    ops = [{"id": 1, "start": 10.0, "end": 14.0, "gc_s": 0.0, "cached_mb": 0.0}]
    log = {
        "jobs": {
            0: {"start": 10.5, "end": 11.0, "group": "lb:0", "stages": [0]},
            1: {"start": 11.3, "end": 11.5, "group": "lb:2", "stages": [1, 2]},
            2: {"start": 20.0, "end": 21.0, "group": None, "stages": [3]},
        },
        "stage_done": {0, 1, 3},
        "stage_job": {0: 0, 1: 1, 2: 1, 3: 2},
        "tasks": {0: [{"shuffle_write": 2e6, "spill": 0}], 1: [{"shuffle_write": 0, "spill": 1e6}]},
    }
    m = layer_metrics(spans, ops, log, {"analysis": 0.5})
    assert m["spark.jobs_per_op"] == 2  # job 2 is outside the op window
    assert m["spark.stages_per_op"] == 2  # stage 2 was skipped
    assert m["spark.tasks_per_op"] == 2
    assert m["spark.job_busy_s_per_op"] == pytest.approx(0.7)
    assert m["spark.driver_gap_s_per_op"] == pytest.approx(3.3)
    assert m["spark.shuffle_write_mb_per_op"] == pytest.approx(2.0)
    assert m["spark.spill_mb_per_op"] == pytest.approx(1.0)
    # record_run calls insert: one top-level catalog call, its nested job counted
    assert m["catalog.calls_per_op"] == 1
    assert m["catalog.jobs_per_op"] == 1
    assert m["catalog.s_per_op"] == pytest.approx(1.0)
    assert m["plans.analysis_s"] == 0.5
