"""Measure how many Spark jobs each registered query launches at
DataFrame-CONSTRUCTION time (before the driver's action).

Most queries must launch ZERO — a declarative plan runs nothing until
the action.  A construction job means eager materialization:
legitimate for the ranking helpers (localCheckpoint pins a sampled
range split; the offset collect is metadata-sized) and for the
stream_exec_* gate queries (the streaming pipeline IS the
construction), but a silent regression anywhere else (an accidental
.count(), an uncapped collect, an extra checkpoint) would execute
expensive pipelines twice per query at 100 TB.

This script measures the per-query counts and WRITES them to
tests/_construction_budget.py (a generated pin file);
tests/test_plan_shapes.py imports that map and asserts EQUALITY —
not ≤ — so a plan change that reduces jobs must regenerate the pin
and a stale-high ceiling can't mask a later +N regression (VERDICT
r7 item 5).

The session is local[8] with 8 shuffle partitions, the size of the
test session (tests/conftest.py): graph_cc and ns_dedup_clusters launch
a different number of construction jobs at other core counts, so the
pins are only valid at that size, whatever the host's core count.

Run from the repository root:  python3 scratch/measure_construction_jobs.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())

from aws_datalake_framework_ingestion_spark.plans import REGISTRY  # noqa: E402
from aws_datalake_framework_ingestion_spark.session import get_session  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_session(
        app_name="construction_jobs", cpus=8, shuffle_partitions=8
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # Pre-warm every table load + view registration: the FIRST
    # spark.read.parquet of a table runs a tiny schema-inference job
    # that would otherwise be charged to whichever query touches the
    # table first (order-dependent noise, not query cost).
    from aws_datalake_framework_ingestion_spark.tables import register_views

    register_views(spark, SF)

    nonzero = {}
    for name in sorted(REGISTRY):
        group = f"construct_{name}"
        sc.setJobGroup(group, name)
        try:
            REGISTRY[name].fn(spark, SF)
        finally:
            sc.setJobGroup("", "")
        n = len(tracker.getJobIdsForGroup(group))
        if n:
            nonzero[name] = n
            print(f"{name}: {n}")
    print()
    lines = [
        '"""GENERATED by scratch/measure_construction_jobs.py — do not',
        "hand-edit.  Per-query Spark-job counts at DataFrame",
        "construction time (sf0.001); queries absent here launch ZERO.",
        "tests/test_plan_shapes.py asserts EQUALITY against this map.",
        '"""',
        "",
        "CONSTRUCTION_JOBS = {",
    ]
    for name, n in sorted(nonzero.items()):
        lines.append(f'    "{name}": {n},')
    lines.append("}")
    out = os.path.join(os.getcwd(), "tests", "_construction_budget.py")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(nonzero)} nonzero entries)")
    spark.stop()


if __name__ == "__main__":
    main()
