"""Ingestion planner: full-vs-incremental extraction with watermarks.

Reproduces the reference's plan choice exactly (SURVEY.md §2.4 A1-A3,
ingestion/utils/dataIngestionUtils.py:181-194):

  * probe the source's live max of the watermark column (A1);
  * read the last persisted watermark from the run ledger (A2);
  * ledger watermark NULL → full-scan bootstrap, else incremental
    range scan over the half-open interval (last_wm, live_max] (A3).

The (lo, hi] interval makes re-runs idempotent: rows landing after
`hi` are picked up by the next run, and a replayed run re-extracts
exactly the same window.  Unlike the reference there is no
`time.sleep(5)` (:186 — cargo cult, see §4.3) and the probe is a
max() aggregate, not ORDER BY DESC LIMIT 1 (:136).
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
    hi: datetime | None  # inclusive
    n_rows: int | None = None  # rows landed (set by run_extraction)


def probe_max(df: DataFrame, col: str) -> Any:
    """A1: live high watermark — partial-aggregated max, one scalar to
    the driver (the only collect() in the ingestion path, as in the
    reference's .collect()[0][0] at :183-184)."""
    return df.agg(F.max(col).alias("m")).first()["m"]


def plan_extraction(
    source_df: DataFrame,
    ext_method: str,
    ext_col: str | None,
    last_wm: datetime | None,
) -> tuple[DataFrame, ExtractionPlan]:
    """A3: choose and apply the extraction plan.

    Returns the (lazy) extraction DataFrame and the plan record whose
    `hi` becomes the ledger's `last_ext_time`.
    """
    if ext_method == "full" or ext_col is None:
        return source_df, ExtractionPlan("full", None, None)

    hi = probe_max(source_df, ext_col)
    if last_wm is None:
        # NULL-watermark bootstrap → full scan (reference :189-192)
        return source_df, ExtractionPlan("full", None, hi)
    out = source_df.filter(
        (F.col(ext_col) > F.lit(last_wm)) & (F.col(ext_col) <= F.lit(hi))
    )
    return out, ExtractionPlan("incremental", last_wm, hi)


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
    the landed row count.

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
    # row count piggybacks on the write via observe() — no second scan
    # of the just-written data (that re-read is a full extra pass at
    # 100 TB for one ledger integer)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    df.write.mode("overwrite").parquet(dest_path)
    return replace(plan, n_rows=obs.get["n_rows"])
