"""Metadata catalog: sources, assets, run ledger — the engine's
rebuild of the reference's Postgres tables (FIXTURES.md §B):

  * ``source_systems`` ← `source_system_ingstn_atrbts`
    (ingestion/utils/dataIngestionUtils.py:48-54, fields :25-32)
  * ``data_assets``    ← `data_asset_ingstn_atrbts` (:56-61, :34-38)
  * ``run_ledger``     ← `data_asset_catalogs` (:234-249; watermark
    read-back :120-129)

Storage is partition-free parquet under a root directory with a
single-writer versioned-rewrite protocol for UPDATE/DELETE (metadata
tables are KB-scale; full rewrite is the right cost).
"""

from __future__ import annotations

import uuid
from datetime import datetime

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SOURCE_SYSTEMS_SCHEMA = T.StructType(
    [
        T.StructField("src_sys_id", T.LongType(), False),
        T.StructField("ingstn_pattern", T.StringType(), False),  # database|file|stream
        T.StructField("db_type", T.StringType(), True),
        T.StructField("db_hostname", T.StringType(), True),
        T.StructField("db_username", T.StringType(), True),
        T.StructField("db_schema", T.StringType(), True),
        T.StructField("db_port", T.IntegerType(), True),
        T.StructField("db_name", T.StringType(), True),
        T.StructField("bucket_name", T.StringType(), True),
    ]
)

DATA_ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("src_sys_id", T.LongType(), False),
        T.StructField("src_table_name", T.StringType(), True),
        T.StructField("src_sql_query", T.StringType(), True),
        T.StructField("trigger_mechanism", T.StringType(), True),  # time|event driven
        T.StructField("ext_method", T.StringType(), False),  # full|incremental
        T.StructField("ext_col", T.StringType(), True),
    ]
)

RUN_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("exec_id", T.StringType(), False),
        T.StructField("src_sys_id", T.LongType(), False),
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("dq_validation", T.StringType(), True),
        T.StructField("data_masking", T.StringType(), True),
        T.StructField("data_publish", T.StringType(), True),
        T.StructField("src_file_path", T.StringType(), True),
        T.StructField("log_path", T.StringType(), True),
        T.StructField("proc_start_ts", T.TimestampType(), True),
        T.StructField("created_ts", T.TimestampType(), True),
        T.StructField("last_ext_time", T.TimestampType(), True),
        T.StructField("n_rows", T.LongType(), True),
    ]
)

CURATION_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # succeeded|failed
        T.StructField("n_in", T.LongType(), True),
        T.StructField("n_out", T.LongType(), True),
        T.StructField("out_path", T.StringType(), True),
        T.StructField("spec_fp", T.StringType(), True),
        T.StructField("updated_ts", T.TimestampType(), True),
    ]
)

SCHEMAS: dict[str, T.StructType] = {
    "source_systems": SOURCE_SYSTEMS_SCHEMA,
    "data_assets": DATA_ASSETS_SCHEMA,
    "run_ledger": RUN_LEDGER_SCHEMA,
    "curation_ledger": CURATION_LEDGER_SCHEMA,
}

STATUS_NOT_STARTED = "not started"  # reference init value, :240-242


class Catalog:
    """Parquet-backed metadata catalog with the reference DAL's
    mutation surface (INSERT/UPDATE/DELETE/TRUNCATE/CREATE/DROP).

    UPDATE/DELETE are single-writer staged-swap rewrites of the whole
    table (``_rewrite``); they keep the reference's rowcount contract
    (pg_connect.py:365-395).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # per-instance table-schema cache (insert docstring); DDL
        # invalidates entries
        self._schema_cache: dict[str, T.StructType] = {}
        fs, jvm = self._fs()
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(root))

    # -- filesystem (scheme-agnostic: file://, hdfs://, s3a://) --------
    # All existence/listing/delete goes through the Hadoop FS API —
    # local os.path calls would be silently False/empty on a remote
    # catalog root, making exists() deny every table and create_all()
    # OVERWRITE live remote metadata (the same hazard class fixed in
    # streaming/upsert.py's batch-existence check).
    def _fs(self):
        from .sources.files import _fs

        return _fs(self.spark, self.root)

    # -- paths ----------------------------------------------------------
    def _dir(self, table: str) -> str:
        return f"{self.root.rstrip('/')}/{table}"

    def exists(self, table: str) -> bool:
        from .sources.files import holds_table

        return holds_table(self.spark, self._dir(table))

    # -- DDL (R13-R16) --------------------------------------------------
    def create(self, table: str, schema: T.StructType | None = None) -> None:
        """CREATE TABLE (reference pg_connect.py:237-243) — lays down an
        empty parquet dataset with an explicit schema."""
        schema = schema or SCHEMAS[table]
        empty = self.spark.createDataFrame([], schema)
        empty.write.mode("overwrite").parquet(self._dir(table))
        self._schema_cache[table] = schema

    def create_all(self) -> None:
        for t in SCHEMAS:
            if not self.exists(t):
                self.create(t)

    def truncate(self, table: str) -> None:
        """TRUNCATE (pg_connect.py:245-257)."""
        schema = self.read(table).schema
        self.create(table, schema)

    def drop(self, table: str) -> None:
        """DROP TABLE IF EXISTS (pg_connect.py:259-267)."""
        self._schema_cache.pop(table, None)
        fs, jvm = self._fs()
        fs.delete(jvm.org.apache.hadoop.fs.Path(self._dir(table)), True)

    def list_tables(self) -> list[str]:
        """(pg_connect.py:205-213)"""
        fs, jvm = self._fs()
        root = jvm.org.apache.hadoop.fs.Path(self.root)
        if not fs.exists(root):
            return []
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(root)
            if st.isDirectory()
        )

    # -- read -----------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        """Scan a table.  The schema comes from the per-instance cache
        (insert docstring) once known, so only the first read of a
        table pays the footer schema-inference job."""
        schema = self._schema_cache.get(table)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(self._dir(table))
        df = self.spark.read.parquet(self._dir(table))
        self._schema_cache[table] = df.schema
        return df

    # -- mutations (R9-R12) --------------------------------------------
    def insert(self, table: str, rows: list[dict]) -> int:
        """INSERT (single or bulk — pg_connect.py:330-363).  Appends a
        new parquet file; no rewrite.

        The table schema is cached per Catalog instance after the
        first resolution: a ledgered pipeline appends one status row
        per stage, and paying a footer-read schema-inference job plus
        a recursive existence walk on EVERY append dominated the
        control-plane cost (profiled ~1.3 s/insert at r11).  DDL ops
        invalidate the cache; the single-writer contract makes the
        cache safe (no concurrent writer can change a table's schema
        under this instance).

        r14 (optimization): on a LOCAL parquet catalog the append is
        written driver-side with pyarrow (atomic tmp+rename into the
        table dir) instead of launching a one-task Spark job per
        ledger row — the job was the single most expensive repeated
        control-plane action in the curation gates (profiled 0.6 s
        healthy / ~5 s under host contention, × 7 ledger commits per
        cur_pipeline_run).  Rows and bytes are equivalent (same
        parquet dataset, timestamp[us, UTC] matches the session-UTC
        Spark write); remote roots (s3a://, hdfs://) and types
        outside the catalog-schema subset keep the Spark write path,
        so the fast path never changes semantics, only the writer."""
        schema = self._schema_cache.get(table)
        if schema is None:
            schema = (
                self.read(table).schema
                if self.exists(table)
                else SCHEMAS[table]
            )
            self._schema_cache[table] = schema
        if self._insert_arrow(table, rows, schema):
            return len(rows)
        df = self.spark.createDataFrame([tuple(r.get(f.name) for f in schema) for r in rows], schema)
        df.coalesce(1).write.mode("append").parquet(self._dir(table))
        return len(rows)

    #: Spark→Arrow type mapping for the driver-side append fast path.
    #: Only the types the catalog schemas use; anything else falls
    #: back to the Spark writer.  Timestamps are written as
    #: timestamp[us] with an explicit UTC zone so Spark reads them
    #: back as TimestampType with bit-identical micros under the
    #: engine's session.timeZone=UTC posture (session.py).
    _ARROW_TYPES = {
        "bigint": "int64",
        "int": "int32",
        "string": "string",
        "double": "float64",
        "boolean": "bool_",
        "timestamp": "timestamp_utc",
    }

    def _insert_arrow(
        self, table: str, rows: list[dict], schema: T.StructType
    ) -> bool:
        """Driver-side parquet append.  Returns False (caller uses the
        Spark writer) for non-local roots or unsupported field types;
        the written file is invisible to readers until the atomic
        rename (dot-prefixed tmp names are skipped by Spark's file
        index)."""
        import os as _os
        import uuid as _uuid

        d = self._dir(table)
        path = d
        if path.startswith("file://"):
            path = path[len("file://"):]
        elif path.startswith("file:"):
            path = path[len("file:"):]
        if "://" in path or not _os.path.isdir(path):
            return False
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
        except Exception:  # pragma: no cover - pyarrow ships with pyspark
            return False
        arrays, fields = [], []
        for f in schema.fields:
            kind = self._ARROW_TYPES.get(f.dataType.simpleString())
            if kind is None:
                return False
            if kind == "timestamp_utc":
                typ = pa.timestamp("us", tz="UTC")
            else:
                typ = getattr(pa, kind)()
            try:
                arrays.append(
                    pa.array([r.get(f.name) for r in rows], type=typ)
                )
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                return False
            fields.append(pa.field(f.name, typ, nullable=True))
        tbl = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
        token = _uuid.uuid4().hex[:12]
        tmp = _os.path.join(path, f".part-{token}.parquet.tmp")
        final = _os.path.join(path, f"part-{token}-arrow.parquet")
        pq.write_table(tbl, tmp)
        _os.rename(tmp, final)
        return True

    def _rewrite(self, table: str, df: DataFrame) -> None:
        """Versioned rewrite: write to a staging dir, swap atomically
        (single-writer).  The swap goes through the Hadoop FS API
        (scheme-agnostic); rename atomicity per filesystem is
        documented in SCALING.md §"Object-store (S3A) semantics"."""
        from .sources.files import staged_swap

        tmp = self._dir(f".{table}.{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(tmp)
        staged_swap(self.spark, self._dir(table), tmp)
        self._schema_cache[table] = df.schema

    def update(self, table: str, where: Column, assignments: dict[str, Column]) -> int:
        """UPDATE ... SET ... WHERE (pg_connect.py:365-384), returning
        the affected-row count (the reference's rowcount contract).

        Counts the rows where ``where`` is TRUE (a NULL predicate does
        not count) with an observe() on the rewrite's own write: one
        scan, no cache."""
        obs = Observation()
        df = self.read(table).observe(obs, F.count(F.when(where, 1)).alias("n"))
        for col, val in assignments.items():
            df = df.withColumn(col, F.when(where, val).otherwise(F.col(col)))
        self._rewrite(table, df)
        return obs.get["n"]

    def delete(self, table: str, where: Column) -> int:
        """DELETE FROM ... WHERE (pg_connect.py:386-395).  Rows whose
        predicate is NULL are kept, as in SQL."""
        obs = Observation()
        df = self.read(table).observe(obs, F.count(F.when(where, 1)).alias("n"))
        self._rewrite(table, df.filter(~F.coalesce(where, F.lit(False))))
        return obs.get["n"]

    # -- ingestion-specific reads (§2.4 A2) -----------------------------
    def last_ext_time(self, asset_id: int) -> datetime | None:
        """Highest persisted watermark for an asset; NULL ⇒ caller does
        a full-scan bootstrap (reference get_highest_value_from_catalog,
        dataIngestionUtils.py:120-129 incl. the null-safe fallback).

        Read as the top-1 non-NULL row, the reference's ``ORDER BY …
        DESC`` first-row shape: one Spark job with no exchange, where a
        ``max()`` aggregate takes two."""
        row = (
            self.read("run_ledger")
            .filter(
                (F.col("asset_id") == asset_id)
                & F.col("last_ext_time").isNotNull()
            )
            .orderBy(F.col("last_ext_time").desc())
            .select("last_ext_time")
            .limit(1)
            .first()
        )
        return row["last_ext_time"] if row else None

    def record_run(
        self,
        exec_id: str,
        src_sys_id: int,
        asset_id: int,
        src_file_path: str,
        last_ext_time: datetime | None,
        n_rows: int | None = None,
        proc_start_ts: datetime | None = None,
        *,
        dq_validation: str = STATUS_NOT_STARTED,
        data_masking: str = STATUS_NOT_STARTED,
        data_publish: str = STATUS_NOT_STARTED,
    ) -> None:
        """Run-ledger append (reference insert_record_in_catalog_tbl,
        dataIngestionUtils.py:234-249): watermark persisted (:247);
        stage statuses default to the reference's 'not started'
        (:240-242).  ``pipeline.run_asset`` appends its row once, with
        the final statuses: one insert, never a rewrite of the
        ledger."""
        now = datetime.now()
        self.insert(
            "run_ledger",
            [
                {
                    "exec_id": exec_id,
                    "src_sys_id": int(src_sys_id),
                    "asset_id": int(asset_id),
                    "dq_validation": dq_validation,
                    "data_masking": data_masking,
                    "data_publish": data_publish,
                    "src_file_path": src_file_path,
                    "log_path": None,
                    "proc_start_ts": proc_start_ts or now,
                    "created_ts": now,
                    "last_ext_time": last_ext_time,
                    "n_rows": n_rows,
                }
            ],
        )

    def set_stage_status(self, exec_id: str, stage: str, status: str) -> int:
        """Pipeline-stage status update (dq_validation / data_masking /
        data_publish — the columns Airflow stages flip in the
        reference's DAG, dl_fmwrk_dag_template.py:60-97) on an already
        committed row.  A full ledger rewrite: ``run_asset`` does not
        call it, it records each stage's status in its one row."""
        assert stage in ("dq_validation", "data_masking", "data_publish")
        return self.update(
            "run_ledger", F.col("exec_id") == exec_id, {stage: F.lit(status)}
        )
