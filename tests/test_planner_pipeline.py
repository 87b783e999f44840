"""Watermark planner (A1-A3) + pipeline (ingest→dq→mask→publish):
the end-to-end ingestion-correctness fixture from FIXTURES.md — run 1
bootstraps full, run 2 extracts only the new window, replay is
idempotent."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_ingestion_spark.catalog import Catalog
from aws_datalake_framework_ingestion_spark.pipeline import (
    AssetSpec,
    DQError,
    mask,
    quality_check,
    run_asset,
)
from aws_datalake_framework_ingestion_spark.planner import (
    plan_extraction,
    probe_max,
    run_extraction,
)
from aws_datalake_framework_ingestion_spark.tables import load

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def catalog(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "cat"))
    c.create_all()
    return c


def test_probe_max_matches_orderby_limit(spark):
    ev = load(spark, SF, "events")
    top1 = ev.orderBy(F.col("ts").desc()).limit(1).first()["ts"]
    assert probe_max(ev, "ts") == top1  # max() ≡ reference's top-1 sort


def test_plan_full_vs_incremental(spark, catalog, tmp_path):
    ev = load(spark, SF, "events")
    df, plan = plan_extraction(ev, "full", None, None)
    assert plan.mode == "full" and df.count() == ev.count()

    def extract(name):
        dest = str(tmp_path / name)
        plan = run_extraction(
            catalog, ev, asset_id=12, ext_method="incremental",
            ext_col="ts", dest_path=dest,
        )
        return spark.read.parquet(dest), plan

    # NULL watermark → bootstrap full scan; hi is the max of what landed
    landed, plan = extract("boot")
    assert plan.mode == "full" and plan.hi == probe_max(ev, "ts")
    assert landed.count() == plan.n_rows == ev.count()

    # (lo, hi] half-open interval
    lo = probe_max(ev, "ts") - timedelta(days=1)
    catalog.record_run("1_12_lo", 1, 12, str(tmp_path / "boot"), lo)
    df, plan = plan_extraction(ev, "incremental", "ts", lo)
    assert plan.mode == "incremental" and plan.lo == lo
    landed, plan = extract("window")
    assert plan.mode == "incremental" and plan.lo == lo
    assert plan.hi == probe_max(ev, "ts")
    exp = ev.filter((F.col("ts") > F.lit(lo)) & (F.col("ts") <= F.lit(plan.hi)))
    assert df.count() == landed.count() == plan.n_rows == exp.count() > 0


def test_incremental_rerun_extracts_nothing_new(spark, catalog, tmp_path):
    """Run 1 (bootstrap) lands everything and persists hi; run 2 with
    no new data lands zero rows; appended data lands exactly once.
    Each extraction is committed with ``record_run``, as run_asset
    commits its run."""
    ev = load(spark, SF, "events").cache()

    def extract_and_commit(src, name):
        dest = str(tmp_path / name)
        plan = run_extraction(
            catalog, src, asset_id=11, ext_method="incremental",
            ext_col="ts", dest_path=dest,
        )
        catalog.record_run(f"1_11_{name}", 1, 11, dest, plan.hi, plan.n_rows)
        return dest, plan

    land1, plan1 = extract_and_commit(ev, "land1")
    assert plan1.mode == "full"
    assert spark.read.parquet(land1).count() == ev.count() == plan1.n_rows
    assert catalog.last_ext_time(11) == plan1.hi

    land2, plan2 = extract_and_commit(ev, "land2")
    assert plan2.mode == "incremental"
    assert spark.read.parquet(land2).count() == 0  # nothing new
    assert plan2.hi == plan1.hi  # an empty window keeps the watermark

    # simulate late-arriving source rows after the watermark
    extra = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 100 DAYS"))
    grown = ev.unionByName(extra)
    land3, plan3 = extract_and_commit(grown, "land3")
    assert plan3.mode == "incremental"
    assert spark.read.parquet(land3).count() == ev.count()  # only the new rows
    assert catalog.last_ext_time(11) == plan3.hi


def test_quality_check_and_mask(spark):
    ev = load(spark, SF, "events")
    spec = AssetSpec(
        asset_id=1, src_sys_id=1,
        dq_not_null=("event_id", "ts"), dq_unique=("event_id",),
    )
    m = quality_check(ev, spec)
    assert m["n_rows"] == ev.count()

    dup = ev.unionByName(ev.limit(1))
    with pytest.raises(DQError, match="duplicates"):
        quality_check(dup, spec)
    with pytest.raises(DQError, match="NULL"):
        quality_check(
            ev.withColumn("event_id", F.lit(None).cast("long")),
            AssetSpec(asset_id=1, src_sys_id=1, dq_not_null=("event_id",)),
        )

    masked = mask(ev, AssetSpec(asset_id=1, src_sys_id=1, mask_cols=("user_id",)))
    row = masked.first()
    assert len(row["user_id"]) == 64  # sha2-256 hex
    assert masked.count() == ev.count()


def test_run_asset_end_to_end(spark, catalog, tmp_path):
    ev = load(spark, SF, "events")
    spec = AssetSpec(
        asset_id=21, src_sys_id=3, ext_method="incremental", ext_col="ts",
        mask_cols=("props",), dq_not_null=("event_id",), dq_unique=("event_id",),
    )
    exec_id = run_asset(catalog, spec, ev, str(tmp_path / "zone"))
    row = catalog.read("run_ledger").filter(F.col("exec_id") == exec_id).first()
    assert row["dq_validation"] == "succeeded"
    assert row["data_masking"] == "succeeded"
    assert row["data_publish"] == "succeeded"
    assert row["last_ext_time"] is not None
    pub = spark.read.parquet(
        str(tmp_path / "zone" / "21" / "publish" / exec_id.split("_")[-1])
    )
    assert pub.count() == ev.count()
    assert pub.first()["props"] != ev.first()["props"]  # masked


def test_run_asset_dq_failure_recorded(spark, catalog, tmp_path):
    ev = load(spark, SF, "events")
    dup = ev.unionByName(ev.limit(5))
    spec = AssetSpec(asset_id=22, src_sys_id=3, dq_unique=("event_id",))
    with pytest.raises(DQError):
        run_asset(catalog, spec, dup, str(tmp_path / "zone"))
    row = (
        catalog.read("run_ledger").filter(F.col("asset_id") == 22).first()
    )
    assert row["dq_validation"] == "failed"  # fail fast, status recorded
    assert row["data_publish"] == "not started"


def _ledger_rows(catalog, asset_id):
    return (
        catalog.read("run_ledger").filter(F.col("asset_id") == asset_id).collect()
    )


def test_run_asset_commits_one_ledger_row_per_run(spark, catalog, tmp_path):
    ev = load(spark, SF, "events")
    late = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 100 DAYS"))
    spec = AssetSpec(
        asset_id=23, src_sys_id=3, ext_method="incremental", ext_col="ts"
    )
    zone = str(tmp_path / "zone")
    started = datetime.now()
    e1 = run_asset(catalog, spec, ev, zone, run_ts=datetime(2030, 1, 1))
    assert [r["exec_id"] for r in _ledger_rows(catalog, 23)] == [e1]
    e2 = run_asset(
        catalog, spec, ev.unionByName(late), zone, run_ts=datetime(2030, 1, 2)
    )
    rows = {r["exec_id"]: r for r in _ledger_rows(catalog, 23)}
    assert sorted(rows) == [e1, e2]
    assert rows[e2]["last_ext_time"] == probe_max(late, "ts")
    for r in rows.values():
        assert r["n_rows"] == ev.count()
        assert r["dq_validation"] == r["data_masking"] == "succeeded"
        assert r["data_publish"] == "succeeded"
        # proc_start_ts is the run's start, before the commit
        assert started <= r["proc_start_ts"] <= r["created_ts"]


def test_run_asset_publish_failure_row(spark, catalog, tmp_path, monkeypatch):
    """A stage exception still commits the row: earlier stages
    succeeded, the failing one 'not started', the watermark set."""
    from aws_datalake_framework_ingestion_spark import pipeline

    def boom(df, dest):
        raise RuntimeError("publish down")

    monkeypatch.setattr(pipeline, "publish", boom)
    ev = load(spark, SF, "events")
    spec = AssetSpec(
        asset_id=24, src_sys_id=3, ext_method="incremental", ext_col="ts"
    )
    with pytest.raises(RuntimeError, match="publish down"):
        run_asset(catalog, spec, ev, str(tmp_path / "zone"))
    (row,) = _ledger_rows(catalog, 24)
    assert row["dq_validation"] == "succeeded"
    assert row["data_masking"] == "succeeded"
    assert row["data_publish"] == "not started"
    assert row["last_ext_time"] == probe_max(ev, "ts")
    assert catalog.last_ext_time(24) == row["last_ext_time"]


def test_run_asset_uncommitted_window_is_reextracted(
    spark, catalog, tmp_path, monkeypatch
):
    """A run that dies after publishing but before its ledger commit
    leaves the watermark where it was, so the next run re-extracts
    and publishes that window's rows, each exactly once."""
    from aws_datalake_framework_ingestion_spark import pipeline

    ev = load(spark, SF, "events")
    spec = AssetSpec(
        asset_id=25, src_sys_id=3, ext_method="incremental", ext_col="ts"
    )
    zone = tmp_path / "zone"
    published = []
    real_publish = pipeline.publish

    def spy(df, dest):
        published.append(dest)
        real_publish(df, dest)

    def killed(*args, **kwargs):
        raise SystemExit("killed before the ledger commit")

    monkeypatch.setattr(pipeline, "publish", spy)
    with monkeypatch.context() as m:
        m.setattr(Catalog, "record_run", killed)
        with pytest.raises(SystemExit):
            run_asset(catalog, spec, ev, str(zone), run_ts=datetime(2030, 1, 1))
    assert len(published) == 1  # the crash came after publish
    assert catalog.last_ext_time(25) is None
    assert _ledger_rows(catalog, 25) == []

    e2 = run_asset(catalog, spec, ev, str(zone), run_ts=datetime(2030, 1, 2))
    pub = spark.read.parquet(published[-1])
    assert pub.count() == pub.select("event_id").distinct().count() == ev.count()
    (row,) = _ledger_rows(catalog, 25)
    assert row["exec_id"] == e2 and row["last_ext_time"] == probe_max(ev, "ts")


def test_run_asset_bootstrap_race_lands_each_row_once(
    spark, catalog, tmp_path, monkeypatch
):
    """A row committed to the source after the plan is made but before
    the bootstrap scan runs is landed by that scan, so the watermark
    must cover it: over two ticks against a live JDBC source (embedded
    Derby) every event id is published exactly once."""
    import uuid

    from aws_datalake_framework_ingestion_spark import planner
    from aws_datalake_framework_ingestion_spark.sources.jdbc import (
        JdbcMutator,
        JdbcSource,
    )

    src = JdbcSource(
        db_type="derby", hostname="", port=0,
        db_name=f"race{uuid.uuid4().hex[:8]}", username="app",
    )
    mut = JdbcMutator(spark, src)
    mut.execute_update(
        "CREATE TABLE EVENTS (EVENT_ID BIGINT NOT NULL, TS TIMESTAMP NOT NULL)"
    )
    jts = spark.sparkContext._jvm.java.sql.Timestamp.valueOf

    def add(event_id):
        ts = datetime(2030, 1, 1) + timedelta(seconds=event_id)
        mut.execute_update(
            "INSERT INTO EVENTS VALUES (?, ?)",
            (event_id, jts(ts.strftime("%Y-%m-%d %H:%M:%S"))),
        )

    for i in range(5):
        add(i)
    real_plan = planner.plan_extraction
    raced = []

    def plan_then_commit_a_row(*args, **kwargs):
        out = real_plan(*args, **kwargs)
        if not raced:  # the bootstrap tick: a writer commits mid-run
            raced.append(5)
            add(5)
        return out

    monkeypatch.setattr(planner, "plan_extraction", plan_then_commit_a_row)
    source = src.read(spark, src.full_scan_sql("EVENTS"))
    spec = AssetSpec(
        asset_id=27, src_sys_id=3, ext_method="incremental", ext_col="TS",
        dq_not_null=("EVENT_ID", "TS"), dq_unique=("EVENT_ID",),
    )
    zone = tmp_path / "zone"
    run_asset(catalog, spec, source, str(zone), run_ts=datetime(2030, 1, 1))
    add(6)
    run_asset(catalog, spec, source, str(zone), run_ts=datetime(2030, 1, 2))

    published = [
        r["EVENT_ID"]
        for r in spark.read.parquet(str(zone / "27" / "publish" / "*"))
        .select("EVENT_ID")
        .collect()
    ]
    assert raced == [5]
    assert sorted(published) == list(range(7))  # each id exactly once
    assert catalog.last_ext_time(27) == datetime(2030, 1, 1, 0, 0, 6)


#: Spark jobs of one warm incremental ``run_asset`` tick over a small
#: in-memory source (measured; equality, so an added job — e.g. a
#: Spark-side ledger rewrite — fails here, and a removed one must
#: re-pin the count)
RUN_ASSET_TICK_JOBS = 6


def test_run_asset_tick_job_count(spark, catalog, tmp_path):
    def source(n):
        return spark.createDataFrame(
            [
                (i, datetime(2030, 1, 1) + timedelta(seconds=i), f"u{i}@x")
                for i in range(n)
            ],
            "event_id long, ts timestamp, email string",
        )

    spec = AssetSpec(
        asset_id=26, src_sys_id=3, ext_method="incremental", ext_col="ts",
        mask_cols=("email",), dq_not_null=("event_id", "ts"),
        dq_unique=("event_id",),
    )
    zone = str(tmp_path / "zone")
    run_asset(catalog, spec, source(50), zone, run_ts=datetime(2030, 1, 1))
    ledger_dir = tmp_path / "cat" / "run_ledger"
    before = set(os.listdir(ledger_dir))

    sc = spark.sparkContext
    group = f"run_asset_tick_{os.getpid()}"
    sc.setJobGroup(group, "one warm incremental run_asset tick")
    try:
        run_asset(
            catalog, spec, source(100), zone, run_ts=datetime(2030, 1, 2)
        )
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    added = set(os.listdir(ledger_dir)) - before
    assert len(added) == 1 and next(iter(added)).endswith("-arrow.parquet")
    assert catalog.last_ext_time(26) == datetime(2030, 1, 1, 0, 1, 39)
    assert n_jobs == RUN_ASSET_TICK_JOBS, n_jobs
