"""File-landing operators: the reference's S3 data movement
(SURVEY.md §2.2 K2/K3, §2.1 S5/S6) over any Hadoop-visible
filesystem.

The reference drives boto3 object-by-object from the driver
(dataIngestionUtils.py:196-232).  Landing moves are metadata-scale
ops, so a driver-side loop over the filesystem API is correct — but
it must go through Hadoop's FileSystem so the same code addresses
file://, s3a://, hdfs://.  For *data*-scale copies there is a
distributed path via the binaryFile source.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jvm


def holds_table(spark: SparkSession, path: str) -> bool:
    """Whether directory ``path`` holds a parquet table Spark's reader
    can read: a ``.parquet`` file at its top level.  One level only,
    and names starting with ``_`` or ``.`` are skipped, as the reader
    skips them — a crashed write's ``_temporary/`` tree or a
    dot-prefixed staging file holds no table."""
    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
        return False
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if (
            st.isFile()
            and name.endswith(".parquet")
            and not name.startswith(("_", "."))
        ):
            return True
    return False


def list_prefix(spark: SparkSession, prefix: str) -> list[str]:
    """S5: enumerate files under a prefix (reference
    bucket.objects.filter(Prefix=...), :204)."""
    fs, jvm = _fs(spark, prefix)
    jpath = jvm.org.apache.hadoop.fs.Path(prefix)
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        out.append(it.next().getPath().toString())
    return sorted(out)


def copy_prefix(spark: SparkSession, src_prefix: str, dst_prefix: str) -> int:
    """K2: copy every file under src to dst (reference
    copy_file_between_buckets, :196-213).  Returns file count."""
    fs, jvm = _fs(spark, src_prefix)
    util = jvm.org.apache.hadoop.fs.FileUtil
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    n = 0
    for f in list_prefix(spark, src_prefix):
        rel = f[len(src_prefix) :].lstrip("/")
        src = jvm.org.apache.hadoop.fs.Path(f)
        dst = jvm.org.apache.hadoop.fs.Path(f"{dst_prefix.rstrip('/')}/{rel}")
        fs.mkdirs(dst.getParent())
        util.copy(fs, src, fs, dst, False, True, hconf)
        n += 1
    return n


def move_prefix(spark: SparkSession, src_prefix: str, dst_prefix: str) -> int:
    """K3: archive = copy + delete originals (reference
    move_file_within_bucket, :215-232)."""
    n = copy_prefix(spark, src_prefix, dst_prefix)
    fs, jvm = _fs(spark, src_prefix)
    fs.delete(jvm.org.apache.hadoop.fs.Path(src_prefix), True)
    return n


def read_binary_files(spark: SparkSession, prefix: str) -> DataFrame:
    """Distributed whole-file read (path, modificationTime, length,
    content) — the data-scale variant of S6 for multimodal payloads."""
    return spark.read.format("binaryFile").load(prefix)


def staged_swap(spark: SparkSession, final: str, tmp: str) -> None:
    """Publish a staged dataset directory: ``final`` ← ``tmp`` via the
    Hadoop FileSystem API (scheme-agnostic: file://, hdfs://, s3a://).

    Atomicity is the FILESYSTEM's rename contract: atomic on POSIX and
    HDFS; on S3A a directory rename is a non-atomic COPY+DELETE, O(data)
    — see SCALING.md §"Object-store (S3A) semantics" for the
    production posture there (immutable versioned locations + a
    pointer flip, or a table format).  Readers of the OLD data are
    never corrupted either way — the swap only moves whole immutable
    files; the S3A hazard is a reader LISTING mid-swap seeing a
    partial file set."""
    fs, jvm = _fs(spark, final)
    P = jvm.org.apache.hadoop.fs.Path
    dst = P(final)
    old = P(final.rstrip("/") + f".old.{uuid.uuid4().hex[:8]}")
    if fs.exists(dst):
        if not fs.rename(dst, old):
            raise IOError(f"staged_swap: could not retire {final}")
    if not fs.rename(P(tmp), dst):
        # put the old data back before failing
        if fs.exists(old):
            fs.rename(old, dst)
        raise IOError(f"staged_swap: could not publish {tmp} -> {final}")
    fs.delete(old, True)


def vacuum_orphans(
    spark: SparkSession, table_dir: str, retention_sec: int = 86400
) -> list[str]:
    """Delete crash-orphaned SIBLINGS of a staged-swap table — the
    Delta VACUUM analog for the plain-parquet mutation path.

    Every mutation here stages into ``{table}.{hex8}`` /
    ``{table}.compact.{hex8}`` (writers) and retires the previous
    generation to ``{table}.old.{hex8}`` (staged_swap); all three are
    deleted on success, so any survivor means a writer crashed mid
    publish.  At 100 TB each orphan is a full table copy of dead
    bytes — they must be reaped, but only PAST the retention window:
    a young ``.{hex8}`` may be a swap in flight, and deleting it
    under a live writer would turn a crash-safe protocol into data
    loss.  The table itself is never touched (exact-name match on
    the orphan patterns only).  Returns the deleted paths."""
    import re
    import time

    fs, jvm = _fs(spark, table_dir)
    P = jvm.org.apache.hadoop.fs.Path
    qual = fs.makeQualified(P(table_dir))
    parent, base = qual.getParent(), qual.getName()
    pat = re.compile(
        re.escape(base) + r"\.(?:old\.|compact\.)?[0-9a-f]{8}$"
    )
    cutoff_ms = (time.time() - retention_sec) * 1000
    removed = []
    for st in fs.listStatus(parent):
        name = st.getPath().getName()
        if not st.isDirectory() or not pat.fullmatch(name):
            continue
        if st.getModificationTime() >= cutoff_ms:
            continue
        if fs.delete(st.getPath(), True):
            removed.append(st.getPath().toString())
    return sorted(removed)
