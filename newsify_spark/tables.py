"""Fixture table access.

The driver materializes deterministic parquet tables under
``/root/testdata/sf{0.001,0.01,0.1}`` (TESTDATA.md). All queries take an
``sf_dir`` so the same code runs at any scale factor; at 100 TB the only
change is the path (and partitioned layout — see ``write_partitioned``).
Batch-partitioned stores (the signature, bloom word and frequency-cap
sketch stores) read through ``read_batch_store``.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan: Catalyst pushes filters
    and prunes columns into this scan (verified in tests via .explain).

    ``events.ts`` has been written three different ways by the fixture
    generator across rounds, so we normalize all of them to a UTC
    microsecond ``TIMESTAMP``:

    * parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects it;
      read as raw nanos (``nanosAsLong``) and ``timestamp_micros(ns/1000)``.
    * parquet timestamp[us] without ``isAdjustedToUTC`` — Spark 4 infers
      ``TIMESTAMP_NTZ``; since the session TZ is pinned UTC the cast to
      ``TIMESTAMP`` is value-preserving.
    * parquet timestamp[us] UTC-adjusted — already ``TIMESTAMP``, no-op.

    Each is a single codegen'd projection on a column-pruned scan. Oracle
    SQL truncates DuckDB's value to microseconds the same way
    (date_trunc), so both engines compute on identical values.
    """
    # the driver owns the session; pin the two confs oracle parity needs
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return _normalize_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a ``ts`` column to UTC microsecond TimestampType across
    every encoding the fixture generator has produced (see ``load``)."""
    dt = dict(df.dtypes).get(col)
    if dt is None:
        return df
    from pyspark.sql import functions as F

    if dt == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt.startswith("timestamp_ntz"):  # session TZ pinned UTC → lossless
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so SQL-form queries can run."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def read_batch_store(spark: SparkSession, store_path: str, schema: str) -> DataFrame | None:
    """A ``<path>/batch=<id>`` parquet store as one DataFrame of
    ``schema`` (DDL, without the ``batch`` column) plus ``batch``, or
    None if it holds nothing yet: the directory is missing, or it holds
    no data file (every partition expired, or ``_SUCCESS``-only), so
    Spark finds no ``batch`` partition column.

    With the schema known the read runs no footer-inference job, and a
    column missing from an older partition reads as null in that
    partition alone. A store that exists but does not read (a corrupt or
    foreign file) raises when it is scanned: taking it for an empty
    store would switch its dedup or cap off without a sign."""
    try:
        df = spark.read.schema(schema).option("basePath", store_path).parquet(store_path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    return df if "batch" in df.columns else None


def write_partitioned(df: DataFrame, path: str, *, partition_by: list[str] | None = None, buckets: tuple[int, str] | None = None) -> None:
    """Gold-table writer. At fixture scale plain parquet; at 100 TB the
    call sites pass partition_by (e.g. event date) so downstream reads
    partition-prune, and bucketing co-locates join keys.
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if buckets:
        n, col = buckets
        # saveAsTable required for bucketing metadata; fall back to plain
        # parquet when no catalog (local fixture runs).
        w.bucketBy(n, col).sortBy(col).option("path", path).saveAsTable(
            os.path.basename(path.rstrip("/")) + "_bucketed"
        )
        return
    w.parquet(path)


def spread_small_scan(
    df: DataFrame, min_parts: int | None = None, key: str | None = None
) -> DataFrame:
    """Re-spread a scan whose file layout yields fewer input partitions
    than cores (a single small file / one parquet row group is
    unsplittable, so Spark runs every downstream projection in ONE task).
    Used in front of expensive per-row work (JSON parse) so it
    parallelizes. NO-OP whenever the scan is already parallel: production
    inputs span many files/row groups, so this never fires there and adds
    no shuffle — it only triggers on small unsplittable inputs where the
    extra exchange is trivially cheap.

    Pass ``key`` to spread by hash of that column instead of round-robin
    (r12, guide §2.4): a keyless ``repartition(n)`` pays a local
    sort-before-repartition of the full rows (SPARK-23207) that a hash
    partitioning skips, and when downstream aggregations/windows cluster
    by ``key`` (or by a superset like ``(key, item)``) the one exchange
    satisfies their distribution too, so they plan with NO second
    exchange. Only use a key whose values spread well (e.g. user_id).
    """
    spark = df.sparkSession
    if min_parts is None:
        min_parts = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= min_parts:
        if key is not None:
            return df.repartition(min_parts, key)
        return df.repartition(min_parts)
    return df
