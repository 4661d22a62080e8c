"""Streaming per-key frequency caps backed by a Count-Min sketch store.

The corpus-governance gate `doc_domain_cap` applies in batch ("at most
N docs per source"), enforced AT INGEST over an unbounded stream: admit
rows for a key only while the key's accepted count is under the cap.

Exact per-key state for this is unbounded (every source/domain/user
ever seen); the 100 TB shape replaces it with the CM sketch store
(operators/cms.py): d*w counters TOTAL per store regardless of key
cardinality, mergeable counter-wise, so each micro-batch

1. loads the store (sum of all prior batch partitions — d*w rows),
2. estimates each incoming key's accepted-so-far count,
3. admits per key at most ``cap - est`` rows (deterministic order by
   ``id_col`` so replays admit the same rows),
4. appends the ADMITTED rows' sketch to ``store_path/batch=<id>/``
   with mode("overwrite") — the same idempotent batch-partition
   contract as streaming/ingest.py (a replayed batch rewrites its own
   partition and excludes it from the store it reads).

CM never undercounts, so the cap is conservative: a key may be
under-admitted by the overcount (bounded by (e/w)*N), never
over-admitted past cap + batch effects. Single-writer boundary as in
ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newsify_spark.operators.cms import cm_build, cm_estimate
from newsify_spark.tables import read_batch_store


def load_sketch_store(
    spark: SparkSession,
    store_path: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Merged (r, c, cnt) sketch across all persisted batch partitions;
    empty sketch if nothing ingested yet. A store that exists but cannot
    be read raises when it is scanned: taking it for an empty sketch
    would switch the cap off without a sign."""
    schema = "r int, c long, cnt long"
    s = read_batch_store(spark, store_path, schema)
    if s is None:
        return spark.createDataFrame([], schema)
    if exclude_batch is not None:
        s = s.filter(f"batch != {int(exclude_batch)}")
    return s.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def cap_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    key_col: str,
    id_col: str,
    cap: int,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Admit at most ``cap`` rows per key across ALL batches (estimated
    via the sketch store). Returns the admitted rows; persists their
    sketch. The foreachBatch body — exposed for batch use and tests."""
    spark = batch.sparkSession
    store = load_sketch_store(spark, store_path, exclude_batch=batch_id)
    keys = batch.select(key_col).distinct()
    est = cm_estimate(store, keys, key_col, depth, width)
    # deterministic admission order; budget = cap - accepted-so-far
    w = Window.partitionBy(key_col).orderBy(id_col)
    admitted = (
        batch.join(est, key_col, "left")
        .withColumn("_used", F.coalesce("est", F.lit(0)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(cap) - F.col("_used"))
        .drop("est", "_used", "_rn")
    )
    sketch = cm_build(admitted.select(key_col), key_col, depth, width)
    sketch.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")
    return admitted

