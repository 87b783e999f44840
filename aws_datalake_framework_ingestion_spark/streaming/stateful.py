"""Custom stateful streaming operator via ``applyInPandasWithState``.

The green-field stateful surface (the reference's "streaming" is file
concatenation, ingestion/utils/dataIngestionUtils.py:251-269 — no
state of any kind).  Spark's built-ins cover windows/dedup; anything
else (running per-key accumulators, custom session logic, online
sketches) needs GroupState.  This module keeps the canonical example:
per-user running totals that survive across micro-batches.

Scale notes: state lives in the executor state store partitioned by
the grouping key — no driver involvement, arbitrary key cardinality.
Use GroupStateTimeout + state.remove() for keys that must expire, or
state grows monotonically.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATE_SCHEMA = "n bigint, total double"


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into persistent (n, total)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user cumulative (event count, value sum) across the life of
    the stream — each micro-batch emits the updated totals for every
    user seen in that batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

