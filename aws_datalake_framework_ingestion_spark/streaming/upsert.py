"""Streaming CDC upsert: foreachBatch MERGE-by-key into a parquet
table.

The reference lands every extraction as a new CSV and tracks state in
its Postgres catalog (dataIngestionUtils.py:117-118, 234-249); the
engine's batch CDC operator (cdc_apply_last_wins) shows the merge
semantics.  This module runs those semantics CONTINUOUSLY: a file
stream of change rows is folded into a keyed table once per
micro-batch — last-wins within the batch, upsert against the table —
with exactly-once across restarts from the checkpoint (re-delivered
batches re-apply idempotently because the merge is keyed).

Scale posture: the per-batch merge is one window over the BATCH (small
by construction) plus one anti-join against the table keyed on the
upsert key.  The parquet backend rewrites the table via staged_swap —
the same single-writer contract as catalog._rewrite; on Delta the
foreachBatch body becomes a transactional MERGE INTO and nothing else
changes.  For very large tables, partition the table by a key prefix
so the anti-join prunes partitions.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """Fold one batch of change rows into the keyed parquet table:
    last-wins per key inside the batch (ordered by ``order_cols``
    desc), then upsert — existing rows whose key is untouched pass
    through.  Idempotent for re-delivered batches."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    last = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # existence check through the SAME Hadoop FS API staged_swap
    # publishes with (scheme-agnostic: file://, hdfs://, s3a://) — a
    # local os.path.isdir here would always be False on remote stores,
    # silently replacing the table with the current batch alone
    from ..sources.files import holds_table, staged_swap
    from ..sources.versioned import sized_for_publish

    if holds_table(spark, table_dir):
        base = spark.read.parquet(table_dir)
        merged = base.join(
            last.select(*key_cols), key_cols, "left_anti"
        ).unionByName(last)
    else:
        merged = last

    tmp = f"{table_dir.rstrip('/')}.{uuid.uuid4().hex[:8]}"
    # the publish size rule: base ⋉ keys ∪ last would otherwise write
    # one more file per batch (base's files plus the batch's)
    sized_for_publish(merged).write.mode("overwrite").parquet(tmp)
    staged_swap(spark, table_dir, tmp)


def stream_upsert_parquet(
    spark: SparkSession,
    in_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    key_cols: list[str],
    order_cols: list[str],
    max_files_per_trigger: int | None = None,
) -> None:
    """Consume all currently staged JSON change files (AvailableNow)
    and upsert them into ``table_dir``.  Re-running with the same
    checkpoint consumes only newly staged files; a re-delivered batch
    after a crash re-applies as a no-op (keyed merge).

    ``max_files_per_trigger`` splits the available files into multiple
    micro-batches (the file source picks files in modification-time
    order) — the production cadence, where each batch's upsert sees
    the table state left by the previous batch.  Semantics are
    last-ARRIVING-wins across batches (CDC commit order), last by
    ``order_cols`` within a batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(in_dir)

    def sink(batch_df: DataFrame, _epoch: int) -> None:
        upsert_batch(spark, batch_df, table_dir, key_cols, order_cols)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
