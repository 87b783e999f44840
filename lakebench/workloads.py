"""The closed-loop workloads.

Each workload has the same shape, driven by ``run.py``:

* ``generate()`` — build the seeded inputs (before the session starts;
  excluded from ``setup_s``);
* ``setup()`` — catalog / source creation (``run.py`` then runs
  ``warmup_ops`` untimed ops, still inside ``setup_s``);
* ``before_op(i)`` — untimed input delivery for op ``i``;
* ``op(i)`` — the timed op; returns its work count;
* ``check(i)`` — untimed correctness checks of op ``i``; returns the
  list of violations (any violation fails the op);
* ``final_check()`` — end-of-run checks; ``stored_bytes()`` /
  ``input_rows()`` for ``stored_bytes_per_row``.

Calls into the package go through module attributes (``upsert.
upsert_batch``, ``curation.run_curation_incremental``, ...) so a traced
run can wrap them (``targets()``).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen
from stats import dir_bytes

from aws_datalake_framework_ingestion_spark import curation, pipeline, planner, tables
from aws_datalake_framework_ingestion_spark.catalog import Catalog
from aws_datalake_framework_ingestion_spark.sources import versioned
from aws_datalake_framework_ingestion_spark.sources.jdbc import JdbcMutator, JdbcSource
from aws_datalake_framework_ingestion_spark.streaming import upsert


def _version_files(result, args, kwargs) -> dict:
    path = kwargs.get("path", args[2] if len(args) > 2 else None)
    vdir = os.path.join(str(path).rstrip("/"), f"v={int(result):05d}")
    return {"files": sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))}


def targets() -> list[tuple]:
    """(owner, attribute, span name, after-hook) of every wrapped layer
    entry point."""
    return [
        (planner, "probe_max", "planner.probe_max", None),
        (pipeline, "run_extraction", "planner.run_extraction", None),
        (pipeline, "quality_check", "pipeline.quality_check", None),
        (pipeline, "publish", "pipeline.publish", None),
        (Catalog, "last_ext_time", "catalog.last_ext_time", None),
        (Catalog, "record_run", "catalog.record_run", None),
        (Catalog, "set_stage_status", "catalog.set_stage_status", None),
        (Catalog, "insert", "catalog.insert", None),
        (upsert, "upsert_batch", "upsert.upsert_batch", None),
        (tables, "load", "tables.load", None),
        (versioned, "write_version", "versioned.write_version", _version_files),
        (curation, "run_curation_incremental", "curation.run_curation_incremental", None),
    ]


def _read_files(path: str, columns: list[str]) -> pd.DataFrame:
    """Read every visible parquet file under ``path`` with pyarrow (no
    Spark job), one file at a time so Spark- and Arrow-written files
    with different timestamp encodings both load."""
    frames = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                t = pq.read_table(os.path.join(root, f), columns=columns)
                frames.append(t.to_pandas())
    if not frames:
        return pd.DataFrame(columns=columns)
    return pd.concat(frames, ignore_index=True)


class Workload:
    name = ""
    warmup_ops = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.lake = os.path.join(work, "lake")
        self.spark = None

    def generate(self) -> None:
        pass

    def setup(self, spark) -> None:
        self.spark = spark

    def before_op(self, i: int) -> None:
        pass

    def final_check(self) -> list[str]:
        return []

    def trace_extra(self, i: int) -> dict:
        """Per-op values only a traced run records."""
        return {}

    def stored_bytes(self) -> int:
        return dir_bytes(self.lake)


# ------------------------------------------------------------ ingest


class Ingest(Workload):
    """Incremental ticks: JDBC extract -> DQ -> mask -> publish -> ledger
    (``pipeline.run_asset``), then ``upsert.upsert_batch`` of the same
    delta into a keyed table."""

    name = "ingest"
    warmup_ops = 3
    SPEC = pipeline.AssetSpec(
        asset_id=1,
        src_sys_id=1,
        ext_method="incremental",
        ext_col="TS",
        mask_cols=("EMAIL",),
        dq_not_null=("EVENT_ID", "TS"),
        dq_unique=("EVENT_ID",),
    )

    def generate(self) -> None:
        # enough deltas for the warm-up and ~4x the ops a run now holds;
        # later ones are made on demand, still outside the timed op
        self.deltas: dict[int, pd.DataFrame] = {}
        for k in range(self.warmup_ops + 20):
            self._delta(k)

    def _delta(self, k: int) -> pd.DataFrame:
        """Delta ``k``, also written as the CSV file Derby imports."""
        if k not in self.deltas:
            d = gen.ingest_delta(self.seed, k).rename(columns=str.upper)
            os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
            pacsv.write_csv(
                pa.Table.from_pandas(d, preserve_index=False), self._csv(k),
                pacsv.WriteOptions(include_header=False, quoting_style="none"),
            )
            self.deltas[k] = d
        return self.deltas[k]

    def _csv(self, k: int) -> str:
        return os.path.join(self.work, "inputs", f"events-{k:04d}.csv")

    def setup(self, spark) -> None:
        super().setup(spark)
        self.src = JdbcSource(
            db_type="derby", hostname="", port=0,
            db_name=f"lakebench{os.getpid()}", username="app",
        )
        self.mut = JdbcMutator(spark, self.src)
        self.mut.execute_update(
            "CREATE TABLE EVENTS (EVENT_ID BIGINT NOT NULL, TS TIMESTAMP NOT NULL, "
            "USER_KEY BIGINT NOT NULL, AMOUNT DOUBLE, EMAIL VARCHAR(64))"
        )
        self.source_df = self.src.read(spark, self.src.full_scan_sql("EVENTS"))
        self.catalog = Catalog(spark, os.path.join(self.lake, "catalog"))
        self.catalog.create_all()
        self.catalog.insert("source_systems", [{
            "src_sys_id": 1, "ingstn_pattern": "database", "db_type": "derby",
            "db_name": self.src.db_name,
        }])
        self.catalog.insert("data_assets", [{
            "asset_id": 1, "src_sys_id": 1, "src_table_name": "EVENTS",
            "trigger_mechanism": "time driven", "ext_method": "incremental",
            "ext_col": "TS",
        }])
        self.upsert_dir = os.path.join(self.lake, "upsert_events")
        self.published_ids: set[int] = set()
        self.keys_seen: set[int] = set()
        self.ticks = 0

    def before_op(self, k: int) -> None:
        # the source keeps the previous delta (so the incremental range
        # predicate has rows to exclude) and the new one
        if k >= 2:
            old_hi = self._delta(k - 2)["TS"].max().to_pydatetime()
            self.mut.delete("EVENTS", ("TS <= ?", (_java_ts(self.spark, old_hi),)))
        d = self._delta(k)
        # Derby's own bulk import: no Spark job, no py4j row traffic
        self.mut.execute_update(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_DATA(NULL, 'EVENTS', NULL, NULL, ?, ',', NULL, 'UTF-8', 0)",
            (self._csv(k),),
        )
        self.keys_seen.update(d["USER_KEY"].tolist())

    def _pub(self, k: int) -> str:
        return os.path.join(self.lake, "1", "publish", _tick_ts(k).strftime("%Y%m%d%H%M%S"))

    def op(self, k: int) -> int:
        pipeline.run_asset(
            self.catalog, self.SPEC, self.source_df, self.lake, run_ts=_tick_ts(k)
        )
        delta = self.spark.read.parquet(self._pub(k))
        upsert.upsert_batch(self.spark, delta, self.upsert_dir, ["USER_KEY"], ["TS", "EVENT_ID"])
        self.ticks += 1
        return len(self._delta(k))

    def check(self, k: int) -> list[str]:
        bad = []
        d = self._delta(k)
        pub = _read_files(self._pub(k), ["EVENT_ID"])
        if len(pub) != len(d):
            bad.append(f"tick {k}: published {len(pub)} rows, delta has {len(d)}")
        ids = set(pub["EVENT_ID"].tolist())
        if ids & self.published_ids:
            bad.append(f"tick {k}: {len(ids & self.published_ids)} event ids published twice")
        self.published_ids |= ids
        led = _read_files(os.path.join(self.lake, "catalog", "run_ledger"),
                          ["asset_id", "last_ext_time"])
        wm = pd.to_datetime(led.loc[led.asset_id == 1, "last_ext_time"], utc=True).max()
        want = pd.Timestamp(d["TS"].max(), tz="UTC")
        if wm != want:
            bad.append(f"tick {k}: ledger last_ext_time {wm} != delta max {want}")
        keys = _read_files(self.upsert_dir, ["USER_KEY"])["USER_KEY"]
        if keys.nunique() != len(self.keys_seen) or len(keys) != keys.nunique():
            bad.append(
                f"tick {k}: upsert table has {len(keys)} rows / {keys.nunique()} "
                f"keys, {len(self.keys_seen)} distinct keys generated"
            )
        return bad

    def trace_extra(self, k: int) -> dict:
        # upsert_batch rewrites the whole keyed table for each delta
        return {"rewrite_ratio": dir_bytes(self.upsert_dir) / dir_bytes(self._pub(k))}

    def input_rows(self) -> int:
        return self.ticks * gen.DELTA_ROWS


def _tick_ts(k: int) -> datetime:
    return datetime(2030, 1, 1) + timedelta(minutes=k)


def _java_ts(spark, dt: datetime):
    return spark.sparkContext._jvm.java.sql.Timestamp.valueOf(
        dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    )


# ------------------------------------------------------------ curate


class Curate(Workload):
    """One seeded document delta batch per op through
    ``curation.run_curation_incremental`` against the accumulated
    signature / probe state."""

    name = "curate"
    # the JIT keeps speeding batches up for about six batches
    warmup_ops = 6
    SPEC = curation.CurationSpec(run_id="lakebench")

    def generate(self) -> None:
        self.landing = os.path.join(self.work, "inputs", "docs")
        os.makedirs(self.landing, exist_ok=True)
        # enough batches for the warm-up and the ops a run now holds;
        # later ones are landed on demand, still outside the timed op
        for b in range(self.warmup_ops + 10):
            self._land(b)

    def _land(self, b: int) -> str:
        """Land batch ``b`` as a ``documents`` table directory."""
        path = os.path.join(self.landing, f"batch-{b:04d}")
        if not os.path.exists(path):
            os.makedirs(path)
            pq.write_table(
                pa.Table.from_pandas(gen.doc_batch(self.seed, b), preserve_index=False),
                os.path.join(path, "documents.parquet"),
            )
        return path

    def setup(self, spark) -> None:
        super().setup(spark)
        self.catalog = Catalog(spark, os.path.join(self.lake, "catalog"))
        self.catalog.create_all()
        self.store = os.path.join(self.lake, "store")
        self.funnels: dict[int, list] = {}
        self.batches = 0

    def before_op(self, b: int) -> None:
        self._land(b)

    def op(self, b: int) -> int:
        batch = tables.load(self.spark, self._land(b), "documents")
        res = curation.run_curation_incremental(
            self.catalog, self.SPEC, batch, self.store, b
        )
        self.funnels[b] = res
        self.batches += 1
        return gen.BATCH_DOCS

    def _ledger(self, b: int) -> list[tuple]:
        led = _read_files(
            os.path.join(self.lake, "catalog", curation.LEDGER_TABLE),
            ["run_id", "stage", "name", "status", "n_in", "n_out"],
        )
        key = f"{self.SPEC.run_id}@b{b:03d}"
        rows = led[(led.run_id == key) & (led.status == "succeeded")].sort_values("stage")
        return [(int(r.stage), r.name, int(r.n_in), int(r.n_out)) for r in rows.itertuples()]

    def check(self, b: int) -> list[str]:
        bad = []
        res = self.funnels[b]
        fn = [tuple(x) for x in res["funnel"]]
        if res["replayed"]:
            bad.append(f"batch {b}: fresh batch reported as replayed")
        if fn[0][2] != gen.BATCH_DOCS:
            bad.append(f"batch {b}: funnel starts at {fn[0][2]}, batch has {gen.BATCH_DOCS}")
        if fn[-1][3] >= fn[0][2]:
            bad.append(f"batch {b}: funnel does not narrow ({fn})")
        led = self._ledger(b)
        if led != fn:
            bad.append(f"batch {b}: ledger {led} != returned funnel {fn}")
        for (s1, _, _, o1), (s2, _, i2, _) in zip(led, led[1:]):
            if s2 != s1 + 1 or i2 != o1:
                bad.append(f"batch {b}: ledger chain broken at stage {s2}: n_in {i2} != n_out {o1}")
        return bad

    def final_check(self) -> list[str]:
        """Replay the first and the last committed batch: each must be a
        no-op returning its committed funnel."""
        bad = []
        done = sorted(self.funnels)
        for b in {done[0], done[-1]}:
            res = curation.run_curation_incremental(
                self.catalog, self.SPEC,
                tables.load(self.spark, self._land(b), "documents"), self.store, b,
            )
            if not res["replayed"] or [tuple(x) for x in res["funnel"]] != self._ledger(b):
                bad.append(f"replay of batch {b} returned {res}")
        return bad

    def input_rows(self) -> int:
        return self.batches * gen.BATCH_DOCS


WORKLOADS = {w.name: w for w in (Ingest, Curate)}
