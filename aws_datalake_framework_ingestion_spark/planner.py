"""Ingestion planner: full-vs-incremental extraction with watermarks.

Reproduces the reference's plan choice (SURVEY.md §2.4 A1-A3,
ingestion/utils/dataIngestionUtils.py:181-194):

  * the new high watermark is the max of the rows landed (A1);
  * read the last persisted watermark from the run ledger (A2);
  * ledger watermark NULL → full-scan bootstrap, else incremental
    scan of the rows above it; the landed window is (last_wm, hi] (A3).

The reference probes the source's live max first and then scans up to
it.  Here the max rides on the landing write as an observed metric:
Spark's JDBC relation does not push ``max()`` down (the external query
is ``SELECT col FROM (SELECT * FROM t)``), so a probe pulls every
watermark value of the table over JDBC in two extra jobs.  Taking
``hi`` from what was landed also closes the bootstrap race: a row
committed between a probe and the full scan was landed by that run
AND above its ``hi``, so the next run extracted it again.

The (lo, hi] interval makes re-runs idempotent: rows landing after
`hi` are picked up by the next run, and a replayed run re-extracts
exactly the same window.  Unlike the reference there is no
`time.sleep(5)` (:186 — cargo cult, see §4.3).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .catalog import Catalog


@dataclass(frozen=True)
class ExtractionPlan:
    mode: str  # "full" | "incremental"
    lo: datetime | None  # exclusive
    hi: datetime | None  # inclusive (set by run_extraction)
    n_rows: int | None = None  # rows landed (set by run_extraction)


def probe_max(df: DataFrame, col: str) -> Any:
    """The reference's A1 live high watermark as one max() aggregate.
    The ingest path no longer calls it (``run_extraction`` observes
    the max of what it lands); kept as the reference value in tests."""
    return df.agg(F.max(col).alias("m")).first()["m"]


def plan_extraction(
    source_df: DataFrame,
    ext_method: str,
    ext_col: str | None,
    last_wm: datetime | None,
) -> tuple[DataFrame, ExtractionPlan]:
    """A3: choose and apply the extraction plan.

    Returns the (lazy) extraction DataFrame and the plan record; its
    `hi` is left unset until ``run_extraction`` has landed the rows.
    """
    if ext_method == "full" or ext_col is None:
        return source_df, ExtractionPlan("full", None, None)
    if last_wm is None:
        # NULL-watermark bootstrap → full scan (reference :189-192)
        return source_df, ExtractionPlan("full", None, None)
    out = source_df.filter(F.col(ext_col) > F.lit(last_wm))
    return out, ExtractionPlan("incremental", last_wm, None)


def run_extraction(
    catalog: Catalog,
    source_df: DataFrame,
    *,
    asset_id: int,
    ext_method: str,
    ext_col: str | None,
    dest_path: str,
) -> ExtractionPlan:
    """Ingest of one asset: plan → land parquet.  Returns the plan with
    the landed row count and, for a watermarked extraction, ``hi``:
    the max ``ext_col`` of the landed rows, or the previous watermark
    when none landed (it never moves back or becomes NULL).

    The caller commits the run by appending its ledger row
    (``catalog.record_run`` with ``last_ext_time=plan.hi``, as
    ``pipeline.run_asset`` does after its last stage).  Until that
    commit the ledger watermark is unchanged, so a run that dies
    before it leaves its window to be re-extracted by the next run,
    never skipped.

    The reference lands `repartition(1)` CSV (dataIngestionUtils.py:
    117-118); the engine lands partitioned parquet.
    """
    last_wm = (
        catalog.last_ext_time(asset_id) if ext_method == "incremental" else None
    )
    df, plan = plan_extraction(source_df, ext_method, ext_col, last_wm)
    # row count and watermark piggyback on the write via observe() — no
    # source probe and no second scan of the just-written data
    watermarked = ext_method == "incremental" and ext_col is not None
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if watermarked:
        metrics.append(F.max(ext_col).alias("hi"))
    obs = Observation()
    df = df.observe(obs, *metrics)
    df.write.mode("overwrite").parquet(dest_path)
    got = obs.get
    hi = got.get("hi")
    return replace(plan, hi=plan.lo if hi is None else hi, n_rows=got["n_rows"])
