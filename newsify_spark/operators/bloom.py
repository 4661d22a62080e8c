"""Bloom-filter pre-filtered exact dedup — the membership-sketch layer
of a rolling-ingest pipeline.

Reference parity: the reference dedups ingest batches by looking every
key up in Redis (duplication_service.py:120-143 — one network round
trip per document). The Spark-first shape replaces the per-key store
with a COMPACT MERGEABLE BITMAP: a Bloom filter built from the corpus
key set answers "definitely new" executor-side with zero I/O, and only
the (rare) maybe-duplicates pay the exact verification join. CCNet /
Dolma-style corpus pipelines use exactly this layout for rolling
ingest at web scale. Its user here is ``queries/llmops.py::doc_bloom_dedup``
(a persisted word store per corpus snapshot); the streaming ingest path
does not use it, because its signature store already holds the key
column that a bitmap's positives must be verified against.

Everything is JVM-side expressions:

- BUILD: each corpus key sets k bit positions ``xxhash64(key, i) mod m``;
  positions fold to (word, mask) pairs and a ``bit_or`` groupBy yields
  the m/64-word bitmap. ``bit_or`` is associative/commutative, so the
  build is one partial-agg-combined shuffle of m/64-bounded rows per
  partition — and bitmaps from separate batches/days MERGE by element-
  wise OR, no rebuild.
- PROBE: the bitmap ships as a broadcast array literal; the membership
  test is k chained ``element_at`` + shift/AND expressions — whole-stage
  codegen, no UDF, no shuffle.

Scale bound: the literal bitmap costs m/8 bytes in the task closure —
size m for the DEDUP HORIZON, not all history (12 MB covers 1e8 keys at
fpp<1e-2 with k=5). Beyond that, shard bitmaps by key range (the probe
picks its shard by ``pmod(xxhash64(key), n_shards)``) or lean on
Spark's own runtime bloom join filters
(``spark.sql.optimizer.runtime.bloomFilter.enabled``), which inject the
same sketch into shuffle anti-joins automatically.

False positives are verified, false negatives are impossible, so the
RESULT is exact — identical to a plain anti-join, which is what the
DuckDB oracle checks (queries/llmops.py::doc_bloom_dedup).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from newsify_spark.tables import read_batch_store


def corpus_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file/directory from file
    stats (relpath, size, mtime) — keys a persisted bloom store to the
    exact corpus snapshot it was built from, so a regenerated corpus
    can never be probed with a stale bitmap (missing bits would break
    the no-false-negative guarantee)."""
    entries = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                st = os.stat(p)
                entries.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    else:
        st = os.stat(path)
        entries.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(sorted(entries)).encode()).hexdigest()


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def bloom_build_words(
    keys: DataFrame,
    key_col: str,
    m_bits: int,
    k: int = 5,
) -> DataFrame:
    """The un-collected build: sparse (word, bits, m_bits) rows — the
    bitmap's NATURAL persisted format. ``bit_or`` is associative, so
    word tables from separate batches/days merge by the same groupBy
    (see :func:`load_bloom_store`) instead of a corpus rescan.

    One narrow pass: k positions per key -> (word, mask) -> groupBy(word)
    with ``bit_or`` partial aggregation. The shuffle carries at most
    m/64 rows PER MAP PARTITION regardless of corpus size. ``m_bits``
    rides along as a column so a store can reject partitions built at a
    different modulus (positions are mod m — bitmaps of different m do
    NOT merge).
    """
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    pos = F.explode(
        F.array(*[F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits)) for i in range(k)])
    ).alias("pos")
    return (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            # call_function: SQL shiftleft takes a COLUMN bit count (the
            # python wrapper F.shiftleft only accepts an int literal)
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .withColumn("m_bits", F.lit(m_bits).cast("long"))
    )


def _words_to_bitmap(rows, m_bits: int) -> list[int]:
    bitmap = [0] * (m_bits // 64)
    for r in rows:
        bitmap[r["word"]] = r["bits"]
    return bitmap


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int,
    k: int = 5,
) -> list[int]:
    """Build an m_bits Bloom bitmap from ``keys[key_col]`` and return it
    as a list of ``m_bits/64`` longs (word i holds bits [64i, 64i+64)).
    The driver collects at most m/64 rows."""
    return _words_to_bitmap(
        bloom_build_words(keys, key_col, m_bits, k=k).collect(), m_bits
    )


def save_bloom_partition(words: DataFrame, store_path: str, batch_id: int) -> None:
    """Persist one batch's (word, bits, m_bits) rows to
    ``store_path/batch=<id>`` with mode("overwrite"): a rewrite of the
    same batch id replaces its own partition instead of adding bits."""
    words.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")


def load_bloom_store_df(spark, store_path: str) -> tuple[DataFrame | None, int | None]:
    """(merged_words_df, m_bits): the bit_or-merged (word, bits) table
    across all persisted batch partitions, LAZY — the corpus key set is
    never rescanned and the bitmap never passes through the driver.
    Returns (None, None) on a missing/empty store; a store that exists
    but cannot be read raises. Raises if partitions disagree on m_bits
    (bitmaps at different moduli do not merge)."""
    words = read_batch_store(spark, store_path, "word long, bits long, m_bits long")
    if words is None:
        return None, None
    sizes = [r["m_bits"] for r in words.select("m_bits").distinct().limit(3).collect()]
    if not sizes:
        return None, None
    if len(sizes) != 1:
        raise ValueError(f"bloom store {store_path} mixes m_bits values: {sorted(sizes)}")
    merged = words.groupBy("word").agg(F.bit_or("bits").alias("bits"))
    return merged, int(sizes[0])


def load_bloom_store(spark, store_path: str) -> tuple[list[int] | None, int | None]:
    """(bitmap, m_bits) — :func:`load_bloom_store_df` collected to a
    driver-side word list (<= m/64 rows). Use only for bitmaps small
    enough to ride the plan as a literal (see LITERAL_MAX_WORDS)."""
    merged, m_bits = load_bloom_store_df(spark, store_path)
    if merged is None:
        return None, None
    return _words_to_bitmap(merged.collect(), m_bits), m_bits


def bloom_merge(a: list[int], b: list[int]) -> list[int]:
    """Elementwise OR — bitmaps from separate batches merge exactly."""
    if len(a) != len(b):
        raise ValueError(f"bitmap sizes differ: {len(a)} vs {len(b)}")
    return [x | y for x, y in zip(a, b)]


def bloom_might_contain(
    key_col: str | Column,
    bitmap: list[int],
    k: int = 5,
) -> Column:
    """Pure-expression membership probe: TRUE iff all k probed bits are
    set. k chained element_at/shift/AND terms — whole-stage codegen'd,
    the bitmap rides the plan as one array<long> literal.

    The literal is built from a numpy int64 array, NOT a Python list:
    ``F.lit(list)`` expands to a CreateArray with m/64 child
    expressions (a 32k-word bitmap made analysis hang for minutes),
    while ``F.lit(ndarray)`` ships ONE ArrayType literal."""
    import numpy as np

    m_bits = len(bitmap) * 64
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    lit_words = F.lit(np.asarray(bitmap, dtype=np.int64))
    cond = F.lit(True)
    for i in range(k):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
        word = F.element_at(lit_words, (p / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


# Bitmaps at or under this many 64-bit words (256 KiB) ride the plan as
# ONE ArrayType literal (zero-shuffle codegen'd probe). Bigger bitmaps
# switch to the relational probe: the (word, bits) table joins as data.
# An expression literal beyond this is not just slow — every plan string
# render (AQE re-plan, explain, UI) repeats the full array per probe
# reference, which OOM'd the driver at 32k words x 10 references.
LITERAL_MAX_WORDS = 4096


def bloom_probe_flags(
    keys: DataFrame,
    key_col: str,
    words: DataFrame,
    m_bits: int,
    k: int = 5,
) -> DataFrame:
    """(key, maybe) from the RELATIONAL probe — the unbounded-m scale
    path: each distinct key explodes to its k (word, mask) probes, a
    broadcast left join against the m/64-bounded (word, bits) table
    checks each bit (missing word = all-zero = definitely new), and a
    bool-min groupBy ANDs the k probes back to one flag per key. One
    shuffle keyed by the probed key, carrying k booleans per key —
    independent of m, so a 12 MB horizon bitmap costs the same plan as
    a 1 KB one."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits)).alias("p")
                    for i in range(k)
                ]
            )
        ).alias("pos"),
    ).select(
        key_col,
        (F.col("pos") / 64).cast("long").alias("word"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
        ).alias("mask"),
    )
    hit = probes.join(F.broadcast(words), "word", "left").select(
        key_col,
        F.coalesce(F.col("bits").bitwiseAND(F.col("mask")) != 0, F.lit(False)).alias("_set"),
    )
    return hit.groupBy(key_col).agg(F.min("_set").alias("maybe"))


def bloom_prefilter_dedup(
    batch: DataFrame,
    corpus_keys: DataFrame,
    key_col: str,
    k: int = 5,
    bits_per_key: int = 20,
    m_bits: int | None = None,
    bitmap: list[int] | None = None,
    words: DataFrame | None = None,
) -> DataFrame:
    """Exact dedup of ``batch`` against ``corpus_keys`` with a Bloom
    pre-filter: rows whose key is definitely-absent pass with ZERO
    shuffle; only bloom-positive rows (true dups + fpp false alarms)
    enter the verification anti-join. Output == plain
    ``batch ANTI JOIN corpus`` (bloom-independent — the oracle checks
    this), but at 100 TB the join input shrinks from |batch| to
    |dups| + fpp*|batch|.

    ``corpus_keys`` must expose ``key_col``; m defaults to the next
    power of two of ``bits_per_key * |corpus|`` (20 bits/key, k=5 →
    fpp ≈ 1e-4). Pass a prebuilt ``bitmap`` list (small stores) or a
    ``words`` (word, bits) DataFrame WITH ``m_bits`` (unbounded stores,
    e.g. from :func:`load_bloom_store_df`) to skip the corpus count +
    build entirely — the production build-once-merge-daily shape; the
    bitmap must cover AT LEAST every key in ``corpus_keys`` (extra set
    bits only cost verified false positives, missing keys would break
    exactness). Bitmaps above LITERAL_MAX_WORDS route to the relational
    probe (:func:`bloom_probe_flags`) automatically.
    """
    if words is not None:
        if m_bits is None:
            raise ValueError("words DataFrame probe requires explicit m_bits")
    elif bitmap is None:
        if m_bits is None:
            n = corpus_keys.count()
            m_bits = max(1024, _next_pow2(bits_per_key * max(n, 1)))
        if m_bits // 64 > LITERAL_MAX_WORDS:
            words = bloom_build_words(corpus_keys, key_col, m_bits, k=k)
        else:
            bitmap = bloom_build(corpus_keys, key_col, m_bits, k=k)
    elif len(bitmap) > LITERAL_MAX_WORDS:
        # too big for a plan literal — hand the nonzero words back to the
        # cluster as a broadcast table
        spark = batch.sparkSession
        m_bits = len(bitmap) * 64
        words = spark.createDataFrame(
            [(i, b) for i, b in enumerate(bitmap) if b], "word long, bits long"
        )
        bitmap = None
    if words is not None:
        flags = bloom_probe_flags(
            batch.select(key_col).distinct(), key_col, words, m_bits, k=k
        )
        flagged = batch.join(flags, key_col, "left")
        definitely_new = flagged.filter(~F.coalesce("maybe", F.lit(False))).drop("maybe")
        verified_new = (
            flagged.filter(F.coalesce("maybe", F.lit(False)))
            .drop("maybe")
            .join(corpus_keys.select(key_col), key_col, "left_anti")
        )
        return definitely_new.unionByName(verified_new)
    maybe = bloom_might_contain(key_col, bitmap, k=k)
    definitely_new = batch.filter(~maybe)
    verified_new = batch.filter(maybe).join(
        corpus_keys.select(key_col), key_col, "left_anti"
    )
    return definitely_new.unionByName(verified_new)
