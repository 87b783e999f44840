"""Catalog (DDL + mutations + run ledger) and DAL (select composition,
parameterized predicates) — the reference Connector surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_datalake_framework_ingestion_spark.catalog import Catalog
from aws_datalake_framework_ingestion_spark.dal import DataAccess


@pytest.fixture()
def catalog(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "catalog"))
    c.create_all()
    return c


def test_ddl_create_list_truncate_drop(catalog):
    assert sorted(catalog.list_tables()) == [
        "curation_ledger",
        "data_assets",
        "run_ledger",
        "source_systems",
    ]
    catalog.insert("source_systems", [{"src_sys_id": 1, "ingstn_pattern": "file"}])
    assert catalog.read("source_systems").count() == 1
    catalog.truncate("source_systems")
    assert catalog.read("source_systems").count() == 0
    catalog.drop("source_systems")
    assert "source_systems" not in catalog.list_tables()


def test_insert_update_delete_rowcounts(catalog):
    rows = [
        {"asset_id": i, "src_sys_id": 1, "ext_method": "full"} for i in range(5)
    ]
    assert catalog.insert("data_assets", rows) == 5
    n = catalog.update(
        "data_assets",
        F.col("asset_id") >= 3,
        {"ext_method": F.lit("incremental")},
    )
    assert n == 2
    got = dict(
        catalog.read("data_assets")
        .groupBy("ext_method")
        .count()
        .rdd.map(tuple)
        .collect()
    )
    assert got == {"full": 3, "incremental": 2}
    assert catalog.delete("data_assets", F.col("asset_id") == 0) == 1
    assert catalog.read("data_assets").count() == 4

    # a predicate that matches nothing: rowcount 0, table unchanged
    before = sorted(map(tuple, catalog.read("data_assets").collect()))
    nothing = F.col("asset_id") > 100
    assert catalog.update("data_assets", nothing, {"ext_col": F.lit("x")}) == 0
    assert catalog.delete("data_assets", nothing) == 0
    # a NULL predicate (ext_col is NULL on every row) is not a match:
    # not counted, and the rows are neither updated nor deleted
    null_pred = F.col("ext_col") == "ts"
    assert catalog.update("data_assets", null_pred, {"ext_col": F.lit("x")}) == 0
    assert catalog.delete("data_assets", null_pred) == 0
    assert sorted(map(tuple, catalog.read("data_assets").collect())) == before


def test_run_ledger_watermark(catalog):
    from datetime import datetime

    assert catalog.last_ext_time(7) is None  # NULL → bootstrap branch
    catalog.record_run("1_7_x", 1, 7, "/tmp/a", datetime(2024, 1, 2))
    catalog.record_run("1_7_y", 1, 7, "/tmp/b", datetime(2024, 1, 5))
    catalog.record_run("1_7_z", 1, 7, "/tmp/c", None)  # null wm ignored
    assert catalog.last_ext_time(7) == datetime(2024, 1, 5)
    ledger = catalog.read("run_ledger")
    st = ledger.filter(F.col("exec_id") == "1_7_x").first()
    assert st["dq_validation"] == "not started"  # reference init, :240-242
    assert catalog.set_stage_status("1_7_x", "dq_validation", "succeeded") == 1
    st = catalog.read("run_ledger").filter(F.col("exec_id") == "1_7_x").first()
    assert st["dq_validation"] == "succeeded"


def test_dal_select_composition(spark, duck_small):
    from aws_datalake_framework_ingestion_spark.tables import load

    dal = DataAccess(spark)
    cust = load(spark, "/root/testdata/sf0.001", "customer")

    # R1-R5 composition vs DuckDB
    got = dal.select(
        cust,
        cols=["c_custkey", "c_acctbal"],
        where=F.col("c_acctbal") > 0,
        order=("c_acctbal", "DESC"),
        limit=5,
        offset=2,
    ).collect()
    exp = duck_small.execute(
        "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0 "
        "ORDER BY c_acctbal DESC LIMIT 5 OFFSET 2"
    ).fetchall()
    assert [tuple(r) for r in got] == exp


def test_dal_parameterized_where(spark):
    from aws_datalake_framework_ingestion_spark.tables import load

    dal = DataAccess(spark)
    cust = load(spark, "/root/testdata/sf0.001", "customer")
    got = dal.select(
        cust,
        cols="c_custkey",
        where=("c_mktsegment = :seg AND c_acctbal > :bal", {"seg": "BUILDING", "bal": 1000}),
    )
    exp = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000)
    )
    assert got.count() == exp.count() > 0
    # injection attempt stays a VALUE, not SQL
    evil = dal.select(
        cust, cols="c_custkey", where=("c_mktsegment = :seg", {"seg": "x' OR '1'='1"})
    )
    assert evil.count() == 0


def test_dal_row_shapes_and_csv(spark, tmp_path):
    from aws_datalake_framework_ingestion_spark.tables import load

    dal = DataAccess(spark)
    nation = load(spark, "/root/testdata/sf0.001", "nation")
    assert len(dal.rows(nation)) == 25
    assert dal.dict_rows(nation.limit(1))[0].keys() == {
        "n_nationkey",
        "n_name",
        "n_regionkey",
    }
    out = str(tmp_path / "nation_csv")
    dal.to_csv(nation, out)
    back = spark.read.csv(out, header=True)
    assert back.count() == 25


def test_logutil_decorator_and_buffer(capsys):
    import logging

    from aws_datalake_framework_ingestion_spark import logutil as L

    logger = L.get_logger("t_log", level=logging.INFO)
    buf = L.buffer_handler(logger)

    @L.log
    def add(a, b):
        return a + b

    @L.log
    def boom():
        raise ValueError("nope")

    assert add(1, 2) == 3
    try:
        boom()
        raised = False
    except ValueError:
        raised = True
    assert raised, "@log must re-raise"
    logger.info("drain me")
    assert "drain me" in buf.getvalue()


def test_config_secret_resolution(tmp_path, monkeypatch):
    import base64

    from aws_datalake_framework_ingestion_spark import config as C

    monkeypatch.setenv("T_SECRET", "s3cr3t")
    assert C.resolve_secret("env:T_SECRET") == "s3cr3t"

    doc = tmp_path / "sec.json"
    doc.write_text('{"42": "pw42", "db": "pwdb"}')
    assert C.resolve_secret(f"file:{doc}#42") == "pw42"
    assert "pwdb" in C.resolve_secret(f"file:{doc}")

    assert C.resolve_secret("b64:" + base64.b64encode(b"abc").decode()) == "abc"
    assert C.resolve_secret("plain") == "plain"

    import pytest as _pt

    with _pt.raises(KeyError):
        C.resolve_secret("env:T_MISSING_VAR")
    with _pt.raises(KeyError):
        C.resolve_secret(f"file:{doc}#nope")

    cfg = tmp_path / "global.json"
    cfg.write_text('{"fm_prefix": "dl-fmwrk", "region": "us-east-2"}')
    assert C.get_global_config(str(cfg))["fm_prefix"] == "dl-fmwrk"


def test_compact_parquet(spark, tmp_path):
    from aws_datalake_framework_ingestion_spark.sinks import compact_parquet

    p = str(tmp_path / "many")
    spark.range(0, 10000).repartition(20).write.parquet(p)
    import os

    n_before = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert n_before >= 20
    compact_parquet(spark, p, target_files=2)
    n_after = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert n_after <= 2
    assert spark.read.parquet(p).count() == 10000


def test_compact_parquet_partitioned_layout_preserved(spark, tmp_path):
    """Regression (r7): sizing via a flat local os.listdir saw ZERO
    parquet files for a hive-partitioned dataset (total=0 → silently
    coalesce the whole table into one file, flattening the partition
    layout).  Compaction must size through a recursive listing, keep
    the ``col=value/`` layout, and preserve content exactly."""
    import os

    from pyspark.sql import functions as F

    from aws_datalake_framework_ingestion_spark.sinks import compact_parquet

    p = str(tmp_path / "part_many")
    df = spark.range(0, 9000).select(
        (F.col("id") % 3).cast("string").alias("grp"), F.col("id").alias("v")
    )
    df.repartition(10).write.partitionBy("grp").parquet(p)

    def leaf_files():
        out = []
        for root, _d, names in os.walk(p):
            out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
        return out

    assert len(leaf_files()) >= 30  # 10 tasks × 3 partitions
    compact_parquet(spark, p, target_files=1)
    after = leaf_files()
    assert len(after) <= 3  # one file per partition
    # layout preserved: every leaf still lives under grp=<value>/
    assert all("grp=" in f for f in after), after
    got = spark.read.parquet(p)
    assert got.count() == 9000
    assert set(got.columns) == {"grp", "v"}
    assert (
        got.agg(F.sum("v")).collect()[0][0] == sum(range(9000))
    )
    # partition pruning still works on the compacted layout
    assert got.where(F.col("grp") == "1").count() == 3000


def test_compact_parquet_splits_hot_partition(spark, tmp_path):
    """100 TB posture (VERDICT r7 item 2): a skewed partition value
    must NOT be rewritten by one task into one giant file.  The r7
    code repartitioned on the partition columns alone, so every row
    of a value landed in a single task regardless of target_files;
    the range-partitioned (pc..., content_salt) rewrite must spread a
    hot value over multiple files — and the return value must be the
    ACTUAL file count, not the requested budget."""
    import os

    from pyspark.sql import functions as F

    from aws_datalake_framework_ingestion_spark.sinks import compact_parquet

    p = str(tmp_path / "skewed")
    # 'hot' holds ~99% of rows; 'cold' a sliver
    df = spark.range(0, 50000).select(
        F.when(F.col("id") < 49500, "hot").otherwise("cold").alias("grp"),
        F.col("id").alias("v"),
    )
    df.repartition(16).write.partitionBy("grp").parquet(p)

    n = compact_parquet(spark, p, target_files=4)

    def files_under(sub):
        d = os.path.join(p, sub)
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    hot = files_under("grp=hot")
    assert len(hot) >= 2, (
        f"hot partition rewritten into {len(hot)} file(s) — "
        "single-task hot-partition write regressed"
    )
    # returned count is the real on-disk count
    total_files = len(hot) + len(files_under("grp=cold"))
    assert n == total_files
    got = spark.read.parquet(p)
    assert got.count() == 50000
    assert got.where(F.col("grp") == "cold").count() == 500
    assert got.agg(F.sum("v")).collect()[0][0] == sum(range(50000))


def test_vacuum_orphans_reaps_only_stale_siblings(spark, tmp_path):
    """vacuum_orphans must delete crash-orphaned staging/retired dirs
    ({t}.{hex8}, {t}.old.{hex8}, {t}.compact.{hex8}) PAST retention,
    and must never touch the live table, fresh orphans, or
    similarly-named non-orphan siblings."""
    import os

    from aws_datalake_framework_ingestion_spark.sources.files import (
        vacuum_orphans,
    )

    t = str(tmp_path / "tbl")
    spark.range(100).write.parquet(t)
    orphans = [f"{t}.deadbeef", f"{t}.old.0badf00d", f"{t}.compact.abc12345"]
    keepers = [f"{t}.notahex", f"{t}x.deadbeef", f"{t}.old.deadbeefff"]
    for d in orphans + keepers:
        os.makedirs(d)
        open(os.path.join(d, "part-x.parquet"), "wb").close()

    # young orphans survive (retention window = in-flight protection)
    assert vacuum_orphans(spark, t, retention_sec=3600) == []
    removed = vacuum_orphans(spark, t, retention_sec=0)
    assert len(removed) == 3
    assert all(not os.path.exists(d) for d in orphans)
    assert all(os.path.exists(d) for d in keepers)
    assert spark.read.parquet(t).count() == 100  # table untouched


def test_crashed_write_remnant_is_not_a_table(spark, tmp_path):
    """A table directory holding only a crashed write's ``_temporary``
    tree (or a dot-prefixed staging file) holds no readable table:
    ``exists`` is False, so ``create_all`` lays the table down and it
    reads, instead of every read failing to infer a schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_datalake_framework_ingestion_spark.sources.files import (
        holds_table,
    )

    cat = Catalog(spark, str(tmp_path / "catalog"))
    d = tmp_path / "catalog" / "run_ledger"
    task = d / "_temporary" / "0" / "task_0"
    os.makedirs(task)
    pq.write_table(pa.table({"x": [1]}), str(task / "part-0.parquet"))
    pq.write_table(pa.table({"x": [1]}), str(d / ".part-1.parquet"))
    assert not holds_table(spark, str(d))
    assert not cat.exists("run_ledger")
    cat.create_all()
    assert cat.exists("run_ledger")
    assert cat.read("run_ledger").count() == 0


def test_single_file_format_roundtrips(spark, tmp_path):
    """K1 single-artifact mode must round-trip losslessly through every
    bundled format (csv needs schema re-application; json/orc/parquet
    are self-describing enough for these types)."""
    from aws_datalake_framework_ingestion_spark import sinks

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -0.25), (3, None, 0.0)],
        "k: long, s: string, v: double",
    )
    expect = {(1, "a", 1.5), (2, "b", -0.25), (3, None, 0.0)}
    for fmt in ("parquet", "orc", "json"):
        p = str(tmp_path / fmt)
        sinks.write_single_file(src, p, fmt=fmt)
        got = {tuple(r) for r in spark.read.format(fmt).load(p).collect()}
        assert got == expect, fmt
    p = str(tmp_path / "csv")
    sinks.write_single_file(src, p, fmt="csv")
    got = {
        tuple(r)
        for r in spark.read.schema("k long, s string, v double")
        .option("header", True)
        .csv(p)
        .collect()
    }
    assert got == expect
    import pytest as _pytest

    with _pytest.raises(ValueError, match="spark-avro"):
        sinks.write_single_file(src, str(tmp_path / "avro"), fmt="avro")


def test_insert_arrow_fast_path_values_and_fallback(catalog, spark, tmp_path):
    """r14 optimization: local-parquet inserts are written driver-side
    by pyarrow (no Spark job).  Pins (a) the fast path actually fires
    on a local root, (b) values/types/timestamps round-trip exactly as
    the Spark writer's, (c) an out-of-subset schema falls back to the
    Spark writer and stays readable."""
    from datetime import datetime

    from pyspark.sql import types as T

    ts = datetime(2026, 3, 4, 5, 6, 7, 123456)
    row = {
        "run_id": "r",
        "stage": 3,
        "name": "lang_filter",
        "status": "succeeded",
        "n_in": 10,
        "n_out": 9,
        "out_path": None,
        "spec_fp": "fp",
        "updated_ts": ts,
    }
    catalog.insert("curation_ledger", [row])
    import glob
    import os

    root = catalog.root
    arrow_files = glob.glob(
        os.path.join(root, "curation_ledger", "part-*-arrow.parquet")
    )
    assert arrow_files, "fast path did not fire on a local parquet root"
    got = catalog.read("curation_ledger").first()
    assert got["stage"] == 3 and got["n_in"] == 10 and got["out_path"] is None
    assert got["updated_ts"] == ts  # micros exact under session UTC
    # a fresh instance infers the schema from the files (``catalog``
    # reads with the schema it cached at create)
    sch = Catalog(spark, root).read("curation_ledger").schema
    assert dict((f.name, f.dataType.simpleString()) for f in sch.fields)[
        "updated_ts"
    ] == "timestamp"

    # fallback: array column is outside the fast-path type subset
    c2 = Catalog(spark, str(tmp_path / "cat2"))
    arr_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("vs", T.ArrayType(T.LongType())),
        ]
    )
    c2.create("weird", arr_schema)
    c2.insert("weird", [{"k": 1, "vs": [1, 2, 3]}])
    assert not glob.glob(os.path.join(str(tmp_path / "cat2"), "weird", "*arrow*"))
    assert c2.read("weird").first()["vs"] == [1, 2, 3]
