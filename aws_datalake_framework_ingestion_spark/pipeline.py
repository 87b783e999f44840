"""Pipeline driver: run(asset) = ingest → quality-check → mask →
publish, committed as ONE run-ledger row with per-stage statuses.

Replaces the reference's Airflow control plane (SURVEY.md §2.6:
linear DAG t1>>…>>t6, dl_fmwrk_dag_template.py:39-113; dispatcher
dataIngestion.py:20-35) with a data-driven in-process driver: each
stage is a function over DataFrames, and the stage statuses are the
same three ledger columns the reference initializes to 'not started'
(dataIngestionUtils.py:240-242).

The reference inserts its catalog row before the stages and its
Airflow tasks flip the statuses one by one.  Here the row — watermark,
row count and each stage's final status — is appended once, after the
last stage the run reaches; the ledger is never rewritten.
Stages fail fast: a failing stage's status is recorded in that row
and the error re-raised.  A process killed before the commit leaves
no row, so the ledger watermark has not moved and the next run
re-extracts the window instead of skipping it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .planner import run_extraction


@dataclass(frozen=True)
class AssetSpec:
    """One ingestable asset (reference data_asset_ingstn_atrbts row)."""

    asset_id: int
    src_sys_id: int
    ext_method: str = "full"  # full | incremental
    ext_col: str | None = None
    mask_cols: tuple[str, ...] = field(default=())
    dq_not_null: tuple[str, ...] = field(default=())
    dq_unique: tuple[str, ...] = field(default=())


class DQError(RuntimeError):
    pass


def quality_check(df: DataFrame, spec: AssetSpec) -> dict:
    """Data-quality gate: row count, not-null and uniqueness checks in
    ONE aggregation pass (no per-check jobs)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in spec.dq_not_null:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    for c in spec.dq_unique:
        aggs.append(F.countDistinct(c).alias(f"distinct_{c}"))
    m = df.agg(*aggs).first().asDict()
    if m["n_rows"] == 0:
        raise DQError("empty extraction")
    for c in spec.dq_not_null:
        if m[f"nulls_{c}"]:
            raise DQError(f"{m[f'nulls_{c}']} NULLs in {c}")
    for c in spec.dq_unique:
        if m[f"distinct_{c}"] != m["n_rows"]:
            raise DQError(f"duplicates in {c}")
    return m


def mask(df: DataFrame, spec: AssetSpec) -> DataFrame:
    """Masking stage: irreversible sha2 tokenization of configured
    columns (the reference delegates this to an opaque Glue job,
    dl_fmwrk_dag_template.py:75-82; here it is a real operator)."""
    out = df
    for c in spec.mask_cols:
        out = out.withColumn(c, F.sha2(F.col(c).cast("string"), 256))
    return out


def publish(df: DataFrame, dest: str) -> None:
    """Publish stage: partitioned parquet to the consumer zone."""
    df.write.mode("overwrite").parquet(dest)


def run_asset(
    catalog: Catalog,
    spec: AssetSpec,
    source_df: DataFrame,
    work_root: str,
    run_ts: datetime | None = None,
) -> str:
    """Full pipeline for one asset; returns exec_id.

    Path layout mirrors the reference convention
    (`{asset}/init/{ts}` raw zone → processed/publish zones,
    dl_fmwrk_dag_template.py:13, dataIngestionUtils.py:229).

    ``run_ts`` is the run's LOGICAL timestamp (exec_id + zone paths):
    schedulers pass their tick time so replayed/simulated ticks get
    stable, distinct exec ids; interactive callers default to now.

    Commit point: the run's ledger row is appended once, after the
    last stage it reaches (also when a stage raises), with the
    watermark, the landed row count, the run's start time as
    ``proc_start_ts`` and each stage's status ('not started' for a
    stage not reached).  A run killed before that commit leaves no
    row: its window is re-extracted by the next run, not skipped.
    """
    started = datetime.now()
    ts = (run_ts or started).strftime("%Y%m%d%H%M%S")
    exec_id = f"{spec.src_sys_id}_{spec.asset_id}_{ts}"
    raw = os.path.join(work_root, str(spec.asset_id), "init", ts)
    pub = os.path.join(work_root, str(spec.asset_id), "publish", ts)

    plan = run_extraction(
        catalog,
        source_df,
        asset_id=spec.asset_id,
        ext_method=spec.ext_method,
        ext_col=spec.ext_col,
        dest_path=raw,
    )
    status: dict[str, str] = {}
    try:
        # the landing write's schema is known: no schema-inference job
        # (file sources read every column nullable, so the NOT NULL
        # checks still see real NULLs)
        landed = catalog.spark.read.schema(source_df.schema).parquet(raw)
        try:
            quality_check(landed, spec)
        except DQError:
            status["dq_validation"] = "failed"
            raise
        status["dq_validation"] = "succeeded"

        masked = mask(landed, spec)
        status["data_masking"] = "succeeded"

        publish(masked, pub)
        status["data_publish"] = "succeeded"
    finally:
        catalog.record_run(
            exec_id,
            spec.src_sys_id,
            spec.asset_id,
            src_file_path=raw,
            last_ext_time=plan.hi,
            n_rows=plan.n_rows,
            proc_start_ts=started,
            **status,
        )
    return exec_id
