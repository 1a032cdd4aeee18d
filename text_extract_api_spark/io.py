"""Table I/O — Iceberg when available, Parquet fallback.

The north rule mandates Iceberg tables; this sandbox ships no
``iceberg-spark-runtime`` jar, so all reads/writes go through this thin
seam: identical call sites, format chosen at runtime. On a real cluster set
``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`` and these
functions route to ``writeTo(...).append()`` / ``spark.read.table(...)``.

The reference's storage profiles (local FS / S3 / GDrive,
``files/storage_manager.py:18-44``) collapse into this layer: a profile is a
catalog+path config, not per-row I/O.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _is_table_ident(spark: SparkSession, location: str) -> bool:
    return (
        "://" not in location
        and "." in location.split("/")[-1]
        and iceberg_available(spark)
    )


def write_table(
    df: DataFrame,
    location: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """``location`` is either an Iceberg table identifier (``cat.db.tbl``)
    or a filesystem path (fallback)."""
    if _is_table_ident(df.sparkSession, location):
        writer = df.writeTo(location)
        (writer.append() if mode == "append" else writer.createOrReplace())
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(location)


def read_table(spark: SparkSession, location: str) -> DataFrame:
    if _is_table_ident(spark, location):
        return spark.read.table(location)
    return spark.read.parquet(location)


def table_exists(spark: SparkSession, location: str) -> bool:
    """Whether ``location`` holds a table yet. A missing location is asked
    of its filesystem (through the session's Hadoop conf), not read: the
    read logs a stack trace. An empty directory reads as absent; any other
    read error (a corrupt file, a permission or IO failure) propagates, so
    a caller never mistakes a broken table for "no rows yet"."""
    if _is_table_ident(spark, location):
        return spark.catalog.tableExists(location)
    path = spark._jvm.org.apache.hadoop.fs.Path(location)  # type: ignore[union-attr]
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not path.getFileSystem(conf).exists(path):
        return False
    try:
        spark.read.parquet(location)
    except AnalysisException as e:
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return False
        raise
    return True


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Write a bucket-co-located table: pre-shuffle ONCE at write time so
    every future equi-join / aggregation on ``bucket_col`` is exchange-free
    (both sides scan matching buckets; verified by test — no Exchange in the
    join plan).

    This is the at-scale form of the cache join (J1): the docs and cache
    tables are both bucketed by ``content_hash``, so the per-run anti/inner
    joins against a 10^12-row cache skip the corpus-wide shuffle entirely.
    Iceberg analog: a ``bucket(n, col)`` partition transform; parquet
    fallback: Spark native bucketing via ``saveAsTable`` (bucketing metadata
    needs a catalog table — plain ``.parquet(path)`` cannot carry it)."""
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def list_tables(spark: SparkSession, base: str) -> list[str]:
    """List stored tables under a namespace/directory — the engine analog of
    the reference's per-backend ``list`` (storage_manager.py:37-44,
    local_filesystem.py:42-50 glob / aws_s3.py list_objects).

    ``base`` is an Iceberg namespace (``cat.db``) or a filesystem directory
    (fallback: immediate subdirectories holding parquet data). A bare name
    that is not a known namespace (e.g. a relative directory) falls through
    to the filesystem listing instead of raising."""
    if "://" not in base and "/" not in base and iceberg_available(spark):
        try:
            return [r.tableName for r in spark.sql(f"SHOW TABLES IN {base}").collect()]
        except Exception:
            pass  # not a catalog namespace — treat as a directory below
    import os

    if not os.path.isdir(base):
        return []
    return sorted(
        name
        for name in os.listdir(base)
        if os.path.isdir(os.path.join(base, name))
    )


def delete_table(spark: SparkSession, location: str) -> bool:
    """Drop a stored table — the analog of per-backend ``delete``
    (storage_manager.py:37-44, local_filesystem.py:52-58 unlink /
    aws_s3.py delete_object). Returns True if something was removed.

    Iceberg path: ``DROP TABLE``; fallback: recursive directory removal
    (parquet tables are directories)."""
    if _is_table_ident(spark, location):
        # report whether anything was actually removed (ADVICE r2: the
        # unconditional True contradicted the filesystem branch's contract)
        existed = spark.catalog.tableExists(location)
        spark.sql(f"DROP TABLE IF EXISTS {location}")
        return existed
    import shutil
    import os

    if os.path.isdir(location):
        shutil.rmtree(location)
        return True
    return False
