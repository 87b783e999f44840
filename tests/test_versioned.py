"""Snapshot-versioned datasets (sources/versioned.py): immutable
version dirs + pointer flip — time travel, rollback, retention."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_ingestion_spark.sources import versioned as V


def _vals(df):
    return sorted(r[0] for r in df.select("v").collect())


def test_write_read_latest_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "ds")
    assert V.latest_version(spark, path) == 0
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, path)

    assert V.write_version(spark, spark.range(0, 3).select(F.col("id").alias("v")), path) == 1
    assert V.write_version(spark, spark.range(10, 15).select(F.col("id").alias("v")), path) == 2
    assert V.write_version(spark, spark.range(20, 22).select(F.col("id").alias("v")), path) == 3

    assert V.latest_version(spark, path) == 3
    assert _vals(V.read_version(spark, path)) == [20, 21]
    # time travel: old snapshots intact after later writes
    assert _vals(V.read_version(spark, path, 1)) == [0, 1, 2]
    assert _vals(V.read_version(spark, path, 2)) == [10, 11, 12, 13, 14]
    with pytest.raises(FileNotFoundError, match="available"):
        V.read_version(spark, path, 9)


def test_rollback_preserves_history_and_next_write_advances(spark, tmp_path):
    path = str(tmp_path / "rb")
    for lo in (0, 10, 20):
        V.write_version(
            spark, spark.range(lo, lo + 2).select(F.col("id").alias("v")), path
        )
    assert V.rollback(spark, path, 1) == 1
    # pointer reads the old snapshot...
    assert _vals(V.read_version(spark, path)) == [0, 1]
    # ...but the rolled-back-from snapshots still exist
    assert _vals(V.read_version(spark, path, 3)) == [20, 21]
    # and the next write does NOT overwrite v2/v3: it becomes v4
    n = V.write_version(
        spark, spark.range(30, 31).select(F.col("id").alias("v")), path
    )
    assert n == 4
    assert _vals(V.read_version(spark, path, 2)) == [10, 11]
    with pytest.raises(FileNotFoundError):
        V.rollback(spark, path, 99)


def test_vacuum_keeps_pointer_and_window(spark, tmp_path):
    path = str(tmp_path / "vac")
    for lo in (0, 10, 20, 30):
        V.write_version(
            spark, spark.range(lo, lo + 2).select(F.col("id").alias("v")), path
        )
    V.rollback(spark, path, 1)
    # keep_last=1 would reap v1..v3, but v1 is pinned by the pointer
    gone = V.vacuum_versions(spark, path, keep_last=1)
    assert gone == [2, 3]
    assert sorted(V._version_dirs(spark, path)) == [1, 4]
    assert _vals(V.read_version(spark, path)) == [0, 1]  # pointer intact
    assert not os.path.exists(os.path.join(path, "v=00002"))
    with pytest.raises(ValueError):
        V.vacuum_versions(spark, path, keep_last=0)

def test_concurrent_writer_race_is_detected_not_nested(
    spark, tmp_path, monkeypatch
):
    """Two writers minting the same next version must not nest one
    snapshot inside the other (Hadoop rename-into-existing-dir
    semantics).  Simulate both race windows:

    1. stale scan → the exists claim-check catches it and re-scans;
    2. the winner publishes BETWEEN the claim-check and the rename →
       the post-rename nested-verify un-nests and retries.
    """
    path = str(tmp_path / "race")
    df = lambda lo: spark.range(lo, lo + 2).select(F.col("id").alias("v"))
    assert V.write_version(spark, df(0), path) == 1

    # (1) stale scan: first _version_dirs call reports "no versions"
    # even though v=00001 exists, so the loser computes n=1.
    real_scan = V._version_dirs
    calls = {"n": 0}

    def stale_once(sp, p):
        calls["n"] += 1
        return [] if calls["n"] == 1 else real_scan(sp, p)

    monkeypatch.setattr(V, "_version_dirs", stale_once)
    assert V.write_version(spark, df(10), path) == 2
    monkeypatch.undo()
    assert _vals(V.read_version(spark, path, 1)) == [0, 1]  # unpolluted
    assert _vals(V.read_version(spark, path, 2)) == [10, 11]

    # (2) claim-check lies (returns False for the final dir), forcing
    # the rename to nest inside the existing v=00002 — the nested
    # verify must recover and publish v=00003 instead.
    real_exists = V._exists
    lied = {"n": 0}

    def lie_once(fs, p):
        if p.getName().startswith("v=") and lied["n"] == 0:
            lied["n"] += 1
            return False
        return real_exists(fs, p)

    calls2 = {"n": 0}

    def stale2(sp, p):
        calls2["n"] += 1
        return [1] if calls2["n"] == 1 else real_scan(sp, p)

    monkeypatch.setattr(V, "_version_dirs", stale2)
    monkeypatch.setattr(V, "_exists", lie_once)
    n = V.write_version(spark, df(20), path)
    monkeypatch.undo()
    assert n == 3
    # v=00002 must be byte-identical to what its writer published —
    # no nested _stage.tmp.* dir, values unchanged.
    assert not [
        d for d in os.listdir(os.path.join(path, "v=00002"))
        if d.startswith("_stage")
    ]
    assert _vals(V.read_version(spark, path, 2)) == [10, 11]
    assert _vals(V.read_version(spark, path, 3)) == [20, 21]


def test_version_numbers_past_five_digits_stay_visible(spark, tmp_path):
    """%05d grows past 5 digits at 100000; the scan regex must keep
    such versions visible so the next writer doesn't reuse 100000."""
    import shutil

    path = str(tmp_path / "big")
    df = spark.range(0, 2).select(F.col("id").alias("v"))
    V.write_version(spark, df, path)
    shutil.copytree(os.path.join(path, "v=00001"),
                    os.path.join(path, "v=100000"))
    assert V._version_dirs(spark, path) == [1, 100000]
    n = V.write_version(
        spark, spark.range(5, 7).select(F.col("id").alias("v")), path
    )
    assert n == 100001
    assert _vals(V.read_version(spark, path, 100000)) == [0, 1]
    assert _vals(V.read_version(spark, path, 100001)) == [5, 6]


def test_vacuum_reaps_expired_staging_orphans(spark, tmp_path):
    """A writer that crashed between parquet write and publish rename
    leaves _stage.tmp.* (or legacy v=NNNNN.tmp.*) — vacuum reaps them
    once past the TTL, and never a fresh (possibly in-flight) one."""
    path = str(tmp_path / "orph")
    for lo in (0, 10):
        V.write_version(
            spark, spark.range(lo, lo + 2).select(F.col("id").alias("v")), path
        )
    os.makedirs(os.path.join(path, "_stage.tmp.deadbeef"))
    os.makedirs(os.path.join(path, "v=00009.tmp.cafe0123"))
    # default TTL (24h): fresh orphans survive
    V.vacuum_versions(spark, path, keep_last=2)
    assert os.path.exists(os.path.join(path, "_stage.tmp.deadbeef"))
    # ttl=0: reaped
    V.vacuum_versions(spark, path, keep_last=2, tmp_ttl_ms=0)
    assert not os.path.exists(os.path.join(path, "_stage.tmp.deadbeef"))
    assert not os.path.exists(os.path.join(path, "v=00009.tmp.cafe0123"))
    # published snapshots untouched
    assert V._version_dirs(spark, path) == [1, 2]


# -- publish file layout (sized_for_publish) ---------------------------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_publish_coalesces_to_one_file(spark, tmp_path):
    """A frame estimated under _SMALL_PUBLISH_BYTES publishes through
    coalesce(1): a narrow plan with no Exchange, one written file."""
    df = spark.range(0, 10, numPartitions=4).select(F.col("id").alias("v"))
    plan = _executed_plan(V.sized_for_publish(df))
    assert "Coalesce 1" in plan and "Exchange" not in plan

    path = str(tmp_path / "small")
    assert V.write_version(spark, df, path) == 1
    files = [
        f for f in os.listdir(os.path.join(path, "v=00001"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1
    assert _vals(V.read_version(spark, path)) == list(range(10))


@pytest.mark.parametrize(
    "attr, value",
    [
        # an estimate above the threshold
        ("_SMALL_PUBLISH_BYTES", 0),
        # no estimate (the stats probe failed) is treated as big
        ("_estimated_plan_bytes", lambda df: None),
    ],
    ids=["above_threshold", "no_estimate"],
)
def test_publish_rebalances_unless_known_small(spark, monkeypatch, attr, value):
    """Anything not known to be small keeps the REBALANCE hint."""
    monkeypatch.setattr(V, attr, value)
    df = spark.range(0, 10, numPartitions=4)
    plan = _executed_plan(V.sized_for_publish(df))
    assert "REBALANCE_PARTITIONS_BY_NONE" in plan
    assert "Coalesce" not in plan
