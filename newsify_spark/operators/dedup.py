"""Deduplication family for large-scale corpus curation.

Generalizes the reference's two dedup mechanisms — Redis SET-NX on link
(ingestion_service.py:74-77, S18) and upstream-guaranteed array dedup
(duplication_service.py:113, E4) — into the full menu a 100 TB
training-data pipeline needs:

- exact_dedup            hash-groupBy on a key or content hash
- minhash_signatures     MinHash over word shingles
- lsh_candidate_pairs    banded LSH self-join -> candidate pairs
- jaccard_pairs          exact n-gram Jaccard verification
- minhash_dedup          the composed pipeline: shingle -> minhash ->
                         band bucket join -> exact-verify -> survivors
- simhash64              64-bit SimHash fingerprint per document
- embedding_near_dup     cosine near-duplicate pairs over embeddings

Portability note: MinHash uses md5(seed || shingle) and takes the
LEXICOGRAPHIC MIN of the hex digests. min over uniformly-distributed hex
strings is a valid MinHash permutation and — unlike murmur/xxhash — md5
is bit-identical across Spark, DuckDB, and Python, which keeps the whole
pipeline oracle-checkable.

Scale notes: the MinHash signature is one row-local projection (no
explode, no aggregation); the band join is an equi join. Hot buckets
(boilerplate shingles) are the classic skew source: cap bucket size via
a count filter before the join (``max_bucket`` arg) exactly like
production MinHash pipelines drop stop-shingles.

Every LSH path here gets its candidates from ONE core,
``similarity._bucket_candidates``: the self-join shape for
``lsh_candidate_pairs``, ``embedding_near_dup_lsh`` and the SemDeDup LSH
prune, the cross-set shape (batch vs capped store) for
``incremental_dedup``. The embedding paths verify with ``_unit_dot``.

One MinHash dedup path: ``minhash_dedup``, ``incremental_dedup`` and the
streaming ingest (``streaming.ingest.ingest_batch``) all read a signature
table from ``_signature_table`` (doc columns + the distinct shingle array
+ h0..h{K-1}) and decide with ``_near_dup_losers`` (within the table,
exact Jaccard from the shingle arrays) and ``_store_dups`` (against a
stored signature table, signature estimate). The ingest builds the table
once per micro-batch and feeds both from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newsify_spark.functions.scalars import sql_double, sql_name
from newsify_spark.functions.text import tokens, word_shingles
from newsify_spark.operators.similarity import (
    RHP_MAX_BUCKET,
    _bucket_candidates,
    _unit_dot,
    rhp_signatures_pandas,
)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per key — deterministic, unlike
    dropDuplicates, so results are oracle-comparable. One shuffle on the
    key; min() is a partial aggregate (map-side combine)."""
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, [*key_cols, id_col], "left_semi")


def content_hash(text_col) -> F.Column:
    """md5 of raw text — exact-duplicate key."""
    return F.md5(text_col if not isinstance(text_col, str) else F.col(text_col))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, h0..h{K-1}) — MinHash signature row per doc.

    One row-local projection, no explode and no aggregation: per seed,
    ``transform`` md5s the doc's distinct shingle array, and ``array_min``
    of each 16-hex half of the digests gives two hash positions. One row
    out per input row, so ids are expected unique (as for every caller).
    Like the pandas form, a scan with fewer partitions than the session's
    parallelism is first spread by id (``_fan_out_scan``; a no-op at
    scale), so a one-file corpus is not hashed in one task."""
    docs = _fan_out_scan(docs.select(id_col, text_col), key=id_col)
    return _signature_table(docs, text_col, num_hashes, shingle_n).select(
        id_col, *[f"h{i}" for i in range(num_hashes)]
    )


def _signature_table(
    docs: DataFrame, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """``docs`` + ``_sh`` (the distinct word-shingle array) + h0..h{K-1}.

    Each md5 digest yields TWO 64-bit (16 hex char) hash positions, which
    halves the md5 calls, the dominant cost of the pass. The digest arrays
    are their own columns, so each is computed once for both halves
    (the optimizer keeps a non-trivial projection that two consumers
    reference, instead of inlining it into each). Each projection is one
    ``selectExpr`` of SQL text (see ``functions.vectors``)."""
    half = (num_hashes + 1) // 2
    digests = docs.withColumn(
        "_sh", F.array_distinct(word_shingles(text_col, shingle_n))
    ).selectExpr(
        "*", *[f"transform(_sh, s -> md5(concat('{j}|', s))) AS _d{j}" for j in range(half)]
    )
    return digests.selectExpr(
        *[sql_name(c) for c in docs.columns],
        "_sh",
        *[
            f"array_min(transform(_d{i // 2}, d -> substring(d, {1 + 16 * (i % 2)}, 16))) AS h{i}"
            for i in range(num_hashes)
        ],
    )


def _near_dup_losers(
    sig: DataFrame,
    bands: DataFrame,
    id_col: str,
    threshold: float,
    max_bucket: int = 1000,
) -> DataFrame:
    """Ids of the docs in a ``_signature_table`` that have a LOWER-id near
    duplicate inside it: LSH self-join candidates from ``bands``
    (``_sig_bands`` of ``sig``), verified by exact shingle-set Jaccard
    from the ``_sh`` arrays (|A ∩ B| / (|A| + |B| - |A ∩ B|), the same
    counts ``jaccard_pairs`` takes from exploded shingles)."""
    cands = _bucket_candidates(bands, id_col, ["band", "bucket"], max_bucket)
    sh = sig.selectExpr(sql_name(id_col), "_sh")
    inter = "size(array_intersect(_sa, _sb))"
    return (
        cands.join(sh.toDF("id_a", "_sa"), "id_a")
        .join(sh.toDF("id_b", "_sb"), "id_b")
        .filter(f"{inter} / (size(_sa) + size(_sb) - {inter}) >= {sql_double(threshold)}")
        .selectExpr(f"id_b AS {sql_name(id_col)}")
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signature, bucket-join within bands -> (id_a, id_b) with
    id_a < id_b. ``max_bucket`` drops degenerate mega-buckets (boilerplate)
    before the self-join — the skew guard that matters at 100 TB."""
    bands = _sig_bands(sigs, id_col, num_hashes, band_size)
    return _bucket_candidates(bands, id_col, ["band", "bucket"], max_bucket)


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate (or all) pairs.

    intersection = equi-join counts on exploded distinct shingles;
    union = |A| + |B| - intersection. This is the reference's J6/E1
    set-similarity math (batch-cluster-service.py:56-58) lifted from
    Python sets to a distributed join."""
    sh = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("shingle"),
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    if pairs is not None:
        inter = inter.join(pairs, ["id_a", "id_b"], "left_semi")
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline -> survivor rows (lowest id per duplicate
    group wins; groups are edges' connected pairs collapsed greedily to
    min-id, one pass — adequate for near-dup graphs which are cliquey).
    Signatures, band self-join, exact Jaccard verify on the candidates.

    The signature table feeds the bucket sizing, the bucket join and both
    Jaccard sides. A projection has no exchange for AQE to reuse, so it is
    materialized once (eager local checkpoint) instead of re-hashed per
    branch."""
    sig = _signature_table(
        _fan_out_scan(docs.select(id_col, text_col), key=id_col), text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    bands = _sig_bands(sig, id_col, num_hashes, band_size)
    # every doc that appears as the larger id of a dup edge is dropped
    losers = _near_dup_losers(sig, bands, id_col, threshold)
    return docs.join(losers, id_col, "left_anti")


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Full 64-bit SimHash over distinct tokens: per bit position,
    majority vote of token-hash bits. Token hash = first 16 hex chars of
    md5 (= 64 uniform bits), carried as two 32-bit halves — bits 32-63
    in ``simhash_hi``, 0-31 in ``simhash_lo`` — so neither engine ever
    signed-overflows a BIGINT (the round-1 form packed one BIGINT and
    could only use 60 bits). Hamming distance between docs is
    popcount(hi XOR hi') + popcount(lo XOR lo'). All JVM-side
    expressions, one explode + one groupBy."""
    toks = docs.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    )
    d = F.md5(F.col("tok"))
    toks = toks.withColumn(
        "th_hi", F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    ).withColumn("th_lo", F.conv(F.substring(d, 9, 8), 16, 10).cast("long"))
    votes = []
    for j in range(32):
        votes.append(
            F.sum(
                F.when(F.shiftright(F.col("th_hi"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"hi{j}")
        )
        votes.append(
            F.sum(
                F.when(F.shiftright(F.col("th_lo"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"lo{j}")
        )
    per_doc = toks.groupBy(id_col).agg(*votes)
    hi = F.lit(0).cast("long")
    lo = F.lit(0).cast("long")
    for j in range(32):
        hi = hi + F.when(F.col(f"hi{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        lo = lo + F.when(F.col(f"lo{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return per_doc.select(F.col(id_col), hi.alias("simhash_hi"), lo.alias("simhash_lo"))


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    All-pairs form — correct and oracle-checkable;
    :func:`embedding_near_dup_lsh` is the bucketed scale form."""
    from newsify_spark.functions.vectors import cosine_with_norms, l2_norm

    # norms computed once per row per side, not per pair (r12, guide
    # §1.2; bit-identical to the plain cosine)
    idc, vc = sql_name(id_col), sql_name(vec_col)
    a = emb.selectExpr(f"{idc} AS id_a", f"{vc} AS va").withColumn("_na", l2_norm("va"))
    b = emb.selectExpr(f"{idc} AS id_b", f"{vc} AS vb").withColumn("_nb", l2_norm("vb"))
    return (
        a.crossJoin(b)
        .filter("id_a < id_b")
        .withColumn("sim", cosine_with_norms("va", "vb", "_na", "_nb"))
        .filter(f"sim >= {sql_double(threshold)}")
        .select("id_a", "id_b", "sim")
    )


def _auto_bits(n: int, target_bucket: int = 64) -> int:
    """Band width that holds EXPECTED bucket size ~constant as the corpus
    grows: bits = log2(n / target_bucket), clamped to [4, 24]. With fixed
    bits the candidate set grows ~n^2/2^bits per band (see SCALING.md);
    scaling bits with log(n) keeps candidate volume linear in n."""
    import math

    return max(4, min(24, math.ceil(math.log2(max(n, 2) / target_bucket))))


def embedding_near_dup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_bands: int = 16,
    bits_per_band: int | None = 8,
    seed: int = 42,
    max_bucket: int = RHP_MAX_BUCKET,
    n_rows: int | None = None,
) -> DataFrame:
    """Scale form of :func:`embedding_near_dup`: random-hyperplane LSH
    self-join generates candidates, exact cosine verifies — same output
    schema (id_a, id_b, sim), approximate recall (rises with n_bands,
    candidate count falls with bits_per_band).

    The cross product shrinks from |n|^2 to the (band, signature) bucket
    collision set; the bucket join is a plain equi join AQE can
    skew-split. This is the 100 TB path for corpus-level near-dup.

    ``max_bucket`` drops degenerate (band, sig) mega-buckets before the
    self-join — the same skew guard as ``lsh_candidate_pairs``. A bucket
    bigger than that at 8 sign bits means a large set of (near-)identical
    vectors, which belongs to the EXACT dedup layer upstream (content
    hash / minhash), not a quadratic candidate join here.

    ``bits_per_band=None`` auto-tunes the band width from the corpus
    size (``_auto_bits``: hold expected bucket size constant), using
    ``n_rows`` if the caller already counted.
    """
    return _rhp_near_dups(
        emb, id_col, vec_col, threshold, dim, n_bands, bits_per_band, seed,
        max_bucket, n_rows,
    )


def _rhp_near_dups(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float, dim: int | None,
    n_bands: int, bits_per_band: int | None, seed: int, max_bucket: int,
    n_rows: int | None = None, group_col: str | None = None,
) -> DataFrame:
    """The RHP near-dup path behind :func:`embedding_near_dup_lsh` and the
    SemDeDup LSH prune: normalized band signatures, self-join bucket
    candidates, unit-vector dot verify -> (id_a, id_b, sim). A
    ``group_col`` joins the bucket key, so pairs only form within a group
    (SemDeDup's within-cluster contract)."""
    if dim is None:
        raise ValueError("dim (embedding dimensionality) required for the LSH path")
    if bits_per_band is None:
        bits_per_band = _auto_bits(n_rows if n_rows is not None else emb.count())
    # normalize=True: the verify step then needs one dot() aggregate per
    # candidate pair instead of cosine()'s three (sim is unchanged —
    # cosine of originals == dot of unit vectors)
    sig = rhp_signatures_pandas(
        emb.select(F.col(id_col), F.col(vec_col)),
        id_col, vec_col, dim, n_bands, bits_per_band, seed, normalize=True,
    )
    keys = ["band", "sig"]
    if group_col is not None:
        sig = sig.join(emb.select(F.col(id_col), F.col(group_col)), id_col)
        keys = [group_col, *keys]
    # the signature pass (scan + GEMM through mapInPandas) is the
    # expensive stage and feeds both sides of the self-join and the
    # verify — an eager local checkpoint runs it once and leaves nothing
    # in the CacheManager for a later query to pick up
    sig = sig.localCheckpoint(eager=True)
    cands = _bucket_candidates(sig, id_col, keys, max_bucket)
    return (
        _unit_dot(cands, sig, id_col, vec_col)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def neardup_auto(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    allpairs_rows_max: int = 20_000,
    n_rows: int | None = None,
    **lsh_kw,
) -> DataFrame:
    """Strategy-selecting embedding near-dup (VERDICT round-1 item #3):
    all-pairs exact below ``allpairs_rows_max`` rows, LSH candidates +
    exact verify above — the operator-level join selection that keeps the
    O(n^2) crossJoin from ever running at corpus scale.

    The cap defaults to 20k rows: at 20k the exact route is ~2x10^8
    candidate pairs — seconds of vectorized cosine — while at the old
    100k cap it was ~5x10^9 pairs x 384 dims, hours of compute the LSH
    route does in minutes (VERDICT round-3 item #3).

    Pass ``n_rows`` to skip the sizing ``.count()`` (cheap: column-pruned
    scan). The LSH route requires ``dim``.
    """
    if allpairs_rows_max <= 0 and n_rows is None:
        # forced-LSH route (e.g. the timed bench entry): the sizing
        # count() would decide nothing — skip the driver action entirely
        # (r12; embedding_near_dup_lsh counts itself iff it auto-tunes
        # bits_per_band)
        return embedding_near_dup_lsh(
            emb, id_col, vec_col, threshold, dim=dim, **lsh_kw
        )
    n = n_rows if n_rows is not None else emb.count()
    if n <= allpairs_rows_max:
        return embedding_near_dup(emb, id_col, vec_col, threshold)
    return embedding_near_dup_lsh(
        emb, id_col, vec_col, threshold, dim=dim, n_rows=n, **lsh_kw
    )


def minhash_signatures_pandas(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Same signature definition as minhash_signatures (bit-identical
    output), computed in Python via mapInPandas: shingling + hashlib.md5
    + per-doc mins in one Arrow batch pass. Both forms are row-local (one
    row per doc, no shuffle); the JVM form hashes every (doc, shingle,
    seed) in generated code, this one pays the Arrow round trip but
    memoizes repeated shingles per task, so it skips most md5 calls on
    natural text.
    """
    import hashlib

    from collections.abc import Iterator

    import pandas as pd

    half = (num_hashes + 1) // 2

    def sig(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Natural-language corpora repeat shingles heavily (~90% repeats
        # on the fixtures), so memoize shingle -> hash tuple per task:
        # cuts md5 calls ~10x. Bounded so adversarial corpora can't grow
        # it without limit; values are bit-identical either way.
        memo: dict[str, list[str]] = {}

        def hashes_for(sh: str) -> list[str]:
            hs = memo.get(sh)
            if hs is None:
                if len(memo) >= 2_000_000:
                    memo.clear()
                hs = []
                for seed in range(half):
                    d = hashlib.md5(f"{seed}|{sh}".encode()).hexdigest()
                    hs.append(d[:16])
                    hs.append(d[16:32])
                del hs[num_hashes:]
                memo[sh] = hs
            return hs

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").lower().split(" ")
                if len(toks) >= shingle_n:
                    shingles = {
                        " ".join(toks[i : i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)
                    }
                else:
                    shingles = {" ".join(toks)}
                sh_iter = iter(shingles)
                mins = list(hashes_for(next(sh_iter)))
                for sh in sh_iter:
                    hs = hashes_for(sh)
                    for i in range(num_hashes):
                        if hs[i] < mins[i]:
                            mins[i] = hs[i]
                rows.append([doc_id, *mins])
            yield pd.DataFrame(rows, columns=[id_col, *[f"h{i}" for i in range(num_hashes)]])

    schema = f"{id_col} bigint, " + ", ".join(f"h{i} string" for i in range(num_hashes))
    # keyed fan-out before the Python stage (r12, guide §4): a one-file
    # corpus scan otherwise hashes every shingle in ONE task; per-doc
    # output is partitioning-independent (the memo is a per-task cache
    # of a pure function)
    return _fan_out_scan(docs.select(id_col, text_col), key=id_col).mapInPandas(
        sig, schema=schema
    )


def winnow_fingerprints_pandas(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """(doc_id, fp) exploded winnowing fingerprints — vectorized numpy
    form of functions.text.winnow_fingerprints (bit-identical values;
    the nested higher-order-expression form is ~100x slower because
    Spark evaluates nested lambdas interpreted, per element).

    True O(n) rolling evaluation: sliding windows of char codes dotted
    with the power vector mod p (congruent to the per-step fold).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    MOD, BASE = 1_000_000_007, 31
    powers = np.array([pow(BASE, k - 1 - j, MOD) for j in range(k)], dtype=np.int64)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in it:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                t = (text or "").lower()
                codes = np.frombuffer(t.encode("utf-8", "replace"), dtype=np.uint8).astype(np.int64)
                if len(codes) >= k:
                    wins = sliding_window_view(codes, k)
                    hashes = (wins * powers).sum(axis=1) % MOD
                else:
                    h = 0
                    for c in codes if len(codes) else [0]:
                        h = (h * BASE + int(c)) % MOD
                    hashes = np.array([h], dtype=np.int64)
                if len(hashes) >= w:
                    mins = sliding_window_view(hashes, w).min(axis=1)
                else:
                    mins = np.array([hashes.min()])
                u = np.unique(mins)
                ids.extend([doc_id] * len(u))
                fps.extend(u.tolist())
            yield pd.DataFrame({id_col: ids, "fp": fps})

    return _fan_out_scan(docs.select(id_col, text_col), key=id_col).mapInPandas(
        run, schema=f"{id_col} bigint, fp bigint"
    )


def _sig_bands(sigs: DataFrame, id_col: str, num_hashes: int, band_size: int) -> DataFrame:
    """(id, band, bucket) rows for a signature table — shared by the
    self-join (lsh_candidate_pairs) and cross-set (incremental) paths.

    One pass: explode an array of (band, bucket) structs instead of a
    union of n_bands selects; identical output rows. In the AQE plan of
    lsh_candidate_pairs each consumer (either join side's bucket rows,
    the bucket sizing) scans the signature table once, where the union
    scanned it n_bands times. A lazy signature DAG runs twice, under the
    bucket rows (the second join side reuses that exchange) and under the
    sizing, where the union ran it twice per band, on that band's hashes."""
    entries = ", ".join(
        f"struct({b} AS band, md5(concat_ws('|', "
        + ", ".join(f"h{i}" for i in range(b * band_size, (b + 1) * band_size))
        + ")) AS bucket)"
        for b in range(num_hashes // band_size)
    )
    idc = sql_name(id_col)
    return sigs.selectExpr(idc, f"explode(array({entries})) AS _bb").selectExpr(
        idc, "_bb.band", "_bb.bucket"
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    band_size: int = 4,
    est_threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Ingestion-time dedup of a NEW batch against an already-ingested
    corpus represented ONLY by its stored MinHash signatures — the
    100 TB shape: the corpus text is never re-read and never re-deduped;
    the signature store is ~1e-3 the corpus size and grows by one batch
    of rows per ingest.

    Candidates come from an LSH band equi-join between the batch's
    signatures and the store (cross-set, not self-join); each candidate
    is then verified from SIGNATURES ALONE — the fraction of equal
    MinHash positions is an unbiased estimate of shingle-set Jaccard, so
    no text comparison is needed (identical text gives estimate 1.0,
    subsuming the exact-dup layer). New docs whose best estimate against
    the store reaches ``est_threshold`` are dropped; the survivors are
    what gets appended to the corpus (and their signatures to the store).

    Every join is signature-sized and key-partitioned; ``max_bucket``
    drops degenerate boilerplate buckets on the store side before the
    join (same skew guard as lsh_candidate_pairs).
    """
    # materialized once: the band join and the estimate both read it
    new_sigs = minhash_signatures(
        new_docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    ).localCheckpoint(eager=True)
    bands = _sig_bands(new_sigs, id_col, num_hashes, band_size)
    dups = _store_dups(
        new_sigs, bands, corpus_sigs, id_col, num_hashes, band_size, est_threshold, max_bucket
    )
    return new_docs.join(dups, id_col, "left_anti")


def _store_dups(
    sig: DataFrame,
    bands: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    band_size: int,
    est_threshold: float,
    max_bucket: int = 1000,
) -> DataFrame:
    """Ids of the docs in signature table ``sig`` (banded as ``bands``)
    whose MinHash estimate against some row of ``corpus_sigs`` reaches
    ``est_threshold``: the cross-set bucket join (store buckets capped at
    ``max_bucket``), then the fraction of equal hash positions. Decided
    per document, so the ids do not depend on what else ``sig`` holds."""
    nb = bands.withColumnRenamed(id_col, "new_id")
    cb = _sig_bands(corpus_sigs, id_col, num_hashes, band_size).withColumnRenamed(
        id_col, "corpus_id"
    )
    cand = _bucket_candidates(nb, "new_id", ["band", "bucket"], max_bucket, cb, "corpus_id")

    hs = range(num_hashes)
    # equal positions summed as one left fold, over the hash count
    eq = " + ".join(f"CASE WHEN n_h{i} = c_h{i} THEN 1 ELSE 0 END" for i in hs)
    idc = sql_name(id_col)
    ns = sig.selectExpr(f"{idc} AS new_id", *[f"h{i} AS n_h{i}" for i in hs])
    cs = corpus_sigs.selectExpr(f"{idc} AS corpus_id", *[f"h{i} AS c_h{i}" for i in hs])
    return (
        cand.join(ns, "new_id")
        .join(cs, "corpus_id")
        .withColumn("est", F.expr(f"({eq}) / {sql_double(num_hashes)}"))
        .filter(f"est >= {sql_double(est_threshold)}")
        .selectExpr(f"new_id AS {idc}")
        .distinct()
    )


def _fan_out_scan(df: DataFrame, key: str | None = None) -> DataFrame:
    """Fan a small-file scan out to the session's parallelism before a
    heavy per-row projection: a single-parquet-file corpus (the sf0.1
    fixture) otherwise runs the whole tokenize+shingle+explode in ONE
    task — the actual bottleneck behind doc_dup_spans' 4.4s r8 cost. At
    real scale the scan already has >= defaultParallelism partitions and
    this is a NO-OP — it never adds a corpus-sized shuffle; when it does
    fire, it exchanges the (small) pre-explode doc rows, not the spans.

    With ``key`` the spread hashes on that column (r12, guide §2.4): a
    keyless ``repartition(n)`` first pays a local sort of the full rows
    (SPARK-23207, deterministic round-robin); hashing a well-spread id
    column skips it."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if key is not None:
            return df.repartition(target, key)
        return df.repartition(target)
    return df


def _doc_spans(
    docs: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, _h): one 64-bit hash per sliding ``window``-token span —
    codegen'd transform+slice projection, no UDF. Short docs (< window
    tokens) contribute their whole text as one span (the
    ``word_shingles`` fallback), so verbatim tiny docs still collide.
    xxhash64 (8-byte keys on the wire) — only span COUNTS leave the
    operator, so the hash never needs to be oracle-portable."""
    from newsify_spark.functions.text import word_shingles

    return _fan_out_scan(docs.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col),
        F.explode(word_shingles(text_col, window)).alias("_span"),
    ).select(F.col(id_col), F.xxhash64("_span").alias("_h"))


def _hot_span_filter(
    spans: DataFrame, min_total: int, m_positions: int
) -> DataFrame:
    """Sketch prefilter for the span exchange: project every span hash
    onto ``m_positions`` counter positions, keep only positions hit >=
    ``min_total`` times, and semi-join spans back onto the hot set. A
    span shared by >= min_docs DISTINCT docs has total count >= min_docs
    too, so the filter is CONSERVATIVE — no false negatives; collisions
    (two hashes on one position) only admit extra candidates that exact
    downstream counting rejects. Result-identical to no filter.

    Cost shape: the position rollup exchanges (long, long) rows with
    map-side combine — a fraction of the (id, hash) exchange it guards —
    and the hot set is ~|duplicated spans| + |collision positions| rows,
    which AQE broadcast-joins while small. At extreme scale the hot set
    saturates toward m and AQE falls back to a shuffled semi join — the
    filter degrades to roughly the unfiltered exchange, never to a wrong
    answer; size m ~ a few x expected span count to keep collision
    admits low."""
    hot = (
        spans.select(F.pmod(F.col("_h"), F.lit(m_positions)).alias("_pos"))
        .groupBy("_pos")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_total)
        .select("_pos")
    )
    return spans.withColumn(
        "_pos", F.pmod(F.col("_h"), F.lit(m_positions))
    ).join(hot, "_pos", "left_semi").drop("_pos")


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 12,
    min_docs: int = 2,
    flag_frac: float = 0.5,
    prefilter: bool | str = "auto",
    m_positions: int = 1 << 26,
    prefilter_min_docs: int = 1_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Windowed exact-substring duplicate-span detection — the
    token-span rung of the dedup ladder (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022, ExactSubstr):
    document- and line-level dedup miss templated pages and quote farms
    that share long verbatim PASSAGES inside otherwise-distinct
    documents; this flags them.

    Every ``window``-token sliding span (stride 1 — exact semantics) is
    hashed; spans occurring in >= ``min_docs`` DISTINCT documents are
    duplicated, and each document reports its duplicated-span fraction:
    (id, n_spans, n_dup, dup_frac, flagged). Downstream either drops
    flagged docs or cuts the spans (see :func:`remove_duplicate_spans`).

    Spark shape (r9 rework — the r8 plan shuffled EVERY span hash and
    fanned the cached rollup into three consumers):

    - per-doc span totals come from a pure column expression
      (max(n_tokens - window + 1, 1) == the shingle count), so the
      corpus-sized exchange no longer carries unique spans just to count
      them;
    - the hot-position sketch (:func:`_hot_span_filter`) drops spans
      whose hash cannot repeat before the (id, hash) exchange — at the
      fixture's ~91% unique-span fraction that is ~10x less exchange
      volume. The sketch itself costs a second span projection, so it
      pays off only where the exchange dominates: ``prefilter='auto'``
      (the family's standard size switch) engages it at
      ``prefilter_min_docs`` and runs the direct exchange below —
      result-identical either way (test-pinned); pass ``n_docs`` to
      skip the route-probe ``.count()`` scan entirely (composed
      pipelines share one count across the span family);
    - the span rows are explicitly repartitioned on ``_h`` ONCE (r10):
      ``HashPartitioning([_h])`` satisfies both the ``groupBy(id, _h)``
      clustering AND the distinct-doc window's ``partitionBy(_h)``, so
      the aggregate and the window share a single corpus-span exchange
      (the r9 plan paid two back to back — ``(id,_h)`` then ``_h``).
      Trade-off, documented: the single exchange carries raw occurrence
      rows (no map-side combine — at the fixture's ~91% unique-span
      fraction the combine saved ~9% of bytes, the dropped exchange
      saves ~50%), and a globally hot span funnels its per-doc rows
      into one window partition; that funnel is bounded at |docs with
      the span| rows of 24 bytes — the skew-safe groupBy(_h)+semi-join
      alternative pays a third exchange to avoid it.

    Same linear-pass cost the suffix-array ExactSubstr pays, as hash
    aggregations a 1000-executor cluster partitions trivially; no suffix
    array, no global sort.
    """
    from pyspark.sql import Window

    toks_n = F.size(F.split(F.lower(F.col(text_col)), " "))
    totals = docs.select(
        F.col(id_col),
        F.greatest(toks_n - F.lit(window - 1), F.lit(1))
        .cast("long")
        .alias("n_spans"),
    )
    spans = _doc_spans(docs, id_col, text_col, window)
    if prefilter == "auto":
        if n_docs is None:
            n_docs = docs.count()
        prefilter = n_docs >= prefilter_min_docs
    if prefilter:
        spans = _hot_span_filter(spans, min_docs, m_positions)
    # one exchange for both consumers: HashPartitioning([_h]) satisfies
    # the groupBy(id,_h) clustering (subset rule) and the window's
    # partitionBy(_h), so Catalyst inserts no further exchange. Hot-key
    # note: a span in k docs puts k `per` rows on one window partition.
    per = (
        spans.repartition("_h")
        .groupBy(id_col, "_h")
        .agg(F.count("*").alias("_c"))
    )
    nd = F.count("*").over(Window.partitionBy("_h"))
    dupc = (
        per.withColumn("_nd", nd)
        .filter(F.col("_nd") >= min_docs)
        .groupBy(id_col)
        .agg(F.sum("_c").alias("n_dup"))
    )
    frac = F.coalesce("n_dup", F.lit(0)) / F.col("n_spans").cast("double")
    return totals.join(dupc, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
        F.round(frac, 4).alias("dup_frac"),
        (frac >= flag_frac).alias("flagged"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 12,
    min_docs: int = 2,
    prefilter: bool | str = "auto",
    m_positions: int = 1 << 26,
    prefilter_min_docs: int = 1_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """ExactSubstr span REMOVAL — the operator Lee et al. (ACL 2022 §4)
    actually run on training data: :func:`duplicate_spans` is the
    diagnostic (how much of each doc is duplicated text); this emits the
    CLEANED corpus with every duplicated span cut from all but one
    document. Deterministic survivor rule: for each duplicated span, the
    lowest ``id_col`` containing it keeps its copy (all its occurrences);
    every other document loses all tokens covered by any occurrence of
    any duplicated span. Overlapping cut spans union their token ranges,
    so text never tears mid-span. (The paper removes all-but-one
    occurrence globally; the doc-granular min-id survivor is the
    deterministic, engine-portable variant of that rule.)

    Returns (id, n_tokens, n_removed, clean_text) — clean_text is the
    lowercased surviving tokens in original order ('' when a document is
    duplicated wall to wall).

    Spark shape (r10 rework — the r9 rebuild ``posexplode``d EVERY token
    of every doc and ``collect_list``-shuffled them back, a ~1.5-2×
    raw-corpus exchange regardless of dup fraction):

    - span occurrences carry their token offset (posexplode of the
      codegen'd shingle projection, prefiltered by the same hot-position
      sketch ``duplicate_spans`` uses; pass ``n_docs`` to skip the
      route-probe count);
    - the duplicated-span set + min-id survivor come from PARTIAL
      AGGREGATION — distinct (doc, span) rows, then a skew-safe
      ``groupBy(_h, _h2).agg(count, min)`` over them (count of per-doc
      rows IS the distinct-doc count); both stages combine map-side, so
      a boilerplate span present once in 100M docs (cookie banners,
      license headers — routine at 100 TB) contributes ONE partial row
      per input partition instead of 100M occurrence rows and a
      100M-element ``collect_set`` in a single window task (the r10
      plan's funnel — VERDICT r10 #1). The rollup is filtered to
      duplicated spans BEFORE the occurrences join back to it, and that
      join is a plain shuffle join AQE can skew-split — windows can't
      be. One more corpus-sized exchange than the window form (and the
      narrow scan+explode runs twice — recompute beats persisting a
      corpus-sized intermediate); that's the price of no single-task
      stage anywhere in the plan;
    - cut occurrences aggregate **per doc into a sorted array of span
      start offsets** — rows and bytes bounded by the DUPLICATED text,
      not the corpus — and that small side joins back to ``docs`` (AQE
      broadcasts it while it fits; even the shuffle fallback is one row
      per cut doc, never one row per token);
    - the rebuild is MAP-SIDE on the joined row with higher-order
      functions only: clamp each start to its interval end, derive the
      complement (kept) ranges from the sorted starts via one
      ``zip_with`` against the shifted end array — interval ends are
      monotone in the sorted starts, so the running max IS the previous
      end and no fold is needed — then ``flatten(transform(kept,
      slice(tokens, …)))`` + ``array_join``. O(tokens + cuts) per doc,
      zero corpus-sized exchange anywhere in the plan.

    Span identity is 128-bit for this DESTRUCTIVE path: two
    independently-seeded xxhash64 values ``(_h, _h2)`` key the window.
    At ~10^13 spans (100 TB) a single 64-bit key has ~million-pair
    birthday collisions — harmless noise for the ``duplicate_spans``
    COUNTING diagnostic, but here a false collision silently cuts
    legitimate text, and fixture-scale oracles can't surface it. The
    hot-position sketch stays on ``_h`` alone (conservative: admitting
    extra candidates is safe; 64 bits is plenty for positions)."""
    from newsify_spark.functions.text import word_shingles

    toks = F.split(F.lower(F.col(text_col)), " ")
    docs_p = _fan_out_scan(docs.select(F.col(id_col), F.col(text_col)), key=id_col)
    spansi = docs_p.select(
        F.col(id_col),
        F.posexplode(word_shingles(text_col, window)).alias("_i", "_span"),
    ).select(
        F.col(id_col),
        "_i",
        F.xxhash64("_span").alias("_h"),
        F.xxhash64(F.lit(0x9E3779B9), "_span").alias("_h2"),
    )
    if prefilter == "auto":
        if n_docs is None:
            n_docs = docs.count()
        prefilter = n_docs >= prefilter_min_docs
    occ = (
        _hot_span_filter(spansi, min_docs, m_positions) if prefilter else spansi
    )
    # duplicated-span set + min-id survivor via PARTIAL AGGREGATION —
    # first distinct (doc, span) rows (groupBy keyed by doc: no global
    # key can be hot), then count(*)/min(id) over them, both combining
    # map-side. A boilerplate span present once in 100M docs (cookie
    # banners, license headers — routine at 100 TB) contributes one
    # partial row per input partition instead of 100M occurrence rows
    # and a 100M-element collect_set in a single window task (the r10
    # plan's funnel — VERDICT r10 #1).
    spanagg = (
        occ.select(id_col, "_h", "_h2")
        .distinct()
        .groupBy("_h", "_h2")
        .agg(F.count("*").alias("_nd"), F.min(id_col).alias("_surv"))
        .filter(F.col("_nd") >= min_docs)
    )
    # join the occurrences back to the (pre-filtered, duplicated-only)
    # span rollup: a shuffle join AQE can skew-split — windows can't be.
    # Catalyst computes occ twice (the rollup branch prunes down to a
    # codegen'd distinct, no array payloads); recomputing a narrow
    # scan+explode beats persisting a corpus-sized intermediate at scale.
    cut = occ.join(spanagg.drop("_nd"), ["_h", "_h2"]).filter(
        F.col(id_col) != F.col("_surv")
    )
    # dup-bounded per-doc cut summary: sorted distinct span starts
    cuts = cut.groupBy(id_col).agg(
        F.sort_array(F.collect_set("_i")).alias("_starts")
    )
    # Materialize the token array ONCE as a real column before the
    # higher-order rebuild. An expression referenced from inside a
    # lambda is re-evaluated per array ELEMENT — with split(lower(text))
    # inlined, the `ends` clamp re-tokenized the whole document for
    # every cut start, O(cuts x doc_len) per doc. Invisible at fixture
    # dup rates, catastrophic when most of a corpus is duplicated (the
    # 8x content-replication harness measured 42x at 8x data). As a
    # projected column the lambdas read an attribute; the rebuild is
    # O(tokens + cuts) again.
    joined = (
        docs.select(F.col(id_col), F.col(text_col))
        .join(cuts, id_col, "left")
        .select(F.col(id_col), F.col("_starts"), toks.alias("_toks"))
    )
    tks = F.col("_toks")
    nt = F.size(tks)
    ends = F.transform(
        F.col("_starts"), lambda s: F.least(s + F.lit(window - 1), nt - 1)
    )
    # previous-interval end per position (-1 before the first): ends are
    # monotone in the sorted starts, so this IS the running max
    prev_e = F.concat(
        F.array(F.lit(-1)), F.slice(ends, 1, F.greatest(F.size(ends) - 1, F.lit(0)))
    )
    gaps = F.zip_with(
        prev_e,
        F.col("_starts"),
        lambda pe, s: F.struct((pe + 1).alias("s"), (s - 1).alias("e")),
    )
    tail = F.array(
        F.struct(
            (F.element_at(ends, -1) + 1).alias("s"), (nt - 1).alias("e")
        )
    )
    kept_ranges = F.filter(
        F.concat(gaps, tail), lambda g: g["s"] <= g["e"]
    )
    clean_toks = F.flatten(
        F.transform(
            kept_ranges,
            lambda g: F.slice(tks, g["s"] + 1, g["e"] - g["s"] + 1),
        )
    )
    rebuilt = F.when(
        F.col("_starts").isNull(), F.array_join(tks, " ")
    ).otherwise(F.array_join(clean_toks, " "))
    n_kept = F.when(F.col("_starts").isNull(), nt).otherwise(
        F.size(clean_toks)
    )
    return joined.select(
        F.col(id_col),
        nt.cast("long").alias("n_tokens"),
        (nt - n_kept).cast("long").alias("n_removed"),
        rebuilt.alias("clean_text"),
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    centroid_vec: str = "centroid",
    threshold: float = 0.95,
    max_cluster: int | None = 100_000,
    assign_route: str = "auto",
    assign_exact_max: int = 64,
    assign_cells: int | None = None,
    assign_probe: int = 4,
    prune_route: str = "auto",
    prune_lsh_min: int = 20_000,
    dim: int | None = None,
    n_bands: int = 16,
    bits_per_band: int | None = None,
    seed: int = 42,
    max_bucket: int = RHP_MAX_BUCKET,
) -> DataFrame:
    """SemDeDup-style clustered semantic dedup (Abbas et al., "SemDeDup",
    arXiv:2303.09540): assign every embedding to its nearest centroid,
    find cosine near-duplicate pairs WITHIN clusters only, and keep the
    min-id survivor of each duplicate pair chain. Returns
    (id_col, cluster_col) survivor rows.

    This is the scale bridge between ``embedding_near_dup`` (exact, O(n²))
    and ``embedding_near_dup_lsh`` (approximate, bucketed): clustering
    bounds the quadratic term at Σ|cluster|² ≈ n²/k for k balanced
    clusters, and recall within a cluster is exact. The scale law: exact
    assignment costs n·k pair scores and exact pruning n²/k, so k must
    GROW with the corpus (k ∝ √n balances the two at O(n^1.5)) — and
    BOTH superlinear terms have bucketed replacements that auto-engage:

    - ASSIGNMENT (``assign_route``): "exact" scores all k centroids per
      point; "ivf" coarse-probes through ``knn_join_ivf`` — the centroid
      TABLE is itself quantized into ~√k cells, each point scores the
      cells plus only the centroids in its ``assign_probe`` nearest
      cells, ≈ n·O(√k) total. "auto" (default) routes to ivf above
      ``assign_exact_max`` centroids, keeping small-k runs (and their
      oracle hash-checks) on the exact argmax.
    - PRUNE (``prune_route``): "exact" is the within-cluster pair equi
      join (AQE-skew-splittable); "lsh" runs random-hyperplane LSH
      candidates WITHIN each cluster — bucket key (cluster, band, sig) —
      then the same dot-verify; "auto" swaps to lsh when the largest
      cluster exceeds ``prune_lsh_min`` (mirroring ``neardup_auto``'s
      20k all-pairs cap). The lsh route needs ``dim``.

    ``centroids`` is any (cluster_col, centroid_vec) table: MLlib KMeans
    centers, label centroids, or a coarse quantizer — SemDeDup semantics
    don't depend on how the partition was produced. ``max_cluster``
    fails fast (one cheap count aggregate, guarding a quadratic join) on
    degenerate clusterings when the exact prune runs: a cluster above
    the cap needs a finer clustering upstream, not a bigger self-join
    here. Pass ``None`` to skip the extra job.
    """
    from newsify_spark.operators.similarity import knn_join_ivf, nearest_centroid_assign

    pts = emb.select(F.col(id_col), F.col(vec_col))
    if assign_route not in ("auto", "exact", "ivf"):
        raise ValueError(f"assign_route must be auto|exact|ivf, got {assign_route!r}")
    if prune_route not in ("auto", "exact", "lsh"):
        raise ValueError(f"prune_route must be auto|exact|lsh, got {prune_route!r}")
    k_cent = None
    if assign_route == "auto" or (assign_route == "ivf" and assign_cells is None):
        k_cent = centroids.count()  # centroid side is small by construction
    use_ivf = assign_route == "ivf" or (
        assign_route == "auto" and k_cent > assign_exact_max
    )
    if use_ivf:
        import math

        n_cells = assign_cells or max(2, math.isqrt(k_cent or centroids.count()))
        assign = knn_join_ivf(
            pts,
            centroids,
            k=1,
            n_cells=n_cells,
            n_probe=assign_probe,
            query_id=id_col,
            item_id=cluster_col,
            query_vec=vec_col,
            item_vec=centroid_vec,
            seed=seed,
        ).select(id_col, cluster_col)
        # knn_join_ivf returns NO row for a point whose n_probe probed
        # cells hold zero centroids (possible with empty/skewed cells) —
        # without a fallback that point would vanish from the output
        # entirely: data loss, not dedup (ADVICE r6). Exact-argmax the
        # unassigned remainder (ids-only anti join; empty in the normal
        # case) so the IVF route keeps the exact route's every-point-
        # assigned guarantee.
        unassigned = pts.join(assign.select(id_col), id_col, "left_anti")
        fallback = nearest_centroid_assign(
            unassigned,
            centroids,
            threshold=-2.0,
            point_id=id_col,
            centroid_id=cluster_col,
            point_vec=vec_col,
            centroid_vec=centroid_vec,
        ).select(id_col, cluster_col)
        assign = assign.unionByName(fallback)
    else:
        assign = nearest_centroid_assign(
            pts,
            centroids,
            threshold=-2.0,  # always "matched": pruning, not story-minting
            point_id=id_col,
            centroid_id=cluster_col,
            point_vec=vec_col,
            centroid_vec=centroid_vec,
        ).select(id_col, cluster_col)
    # members feeds the cluster-size probe, both prune sides, and the
    # survivor anti join — a local checkpoint, written by the probe's job,
    # so assignment runs once and nothing stays in the CacheManager. The
    # per-row L2 norm is computed HERE (n rows), not per pair (n²/k rows):
    # sim = dot/(na·nb) is the same float ops in the same order as
    # cosine(), so results stay bit-identical to the fold-form oracle
    # while the quadratic stage drops from three array folds per pair to
    # one.
    from newsify_spark.functions.vectors import cosine_with_norms, l2_norm

    members = (
        pts.join(assign, id_col)
        .withColumn("_n", l2_norm(vec_col))
        .localCheckpoint(eager=False)
    )
    max_sz = (
        members.groupBy(cluster_col)
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("m"))
        .first()["m"]
    ) or 0
    # auto only swaps when the caller supplied dim (the LSH route needs
    # the dimensionality); without it, big clusters still hit the
    # max_cluster fail-fast below rather than a surprise requirement
    use_lsh = prune_route == "lsh" or (
        prune_route == "auto" and dim is not None and max_sz > prune_lsh_min
    )
    if not use_lsh and max_cluster is not None and max_sz > max_cluster:
        raise ValueError(
            f"semantic_dedup: largest cluster has {max_sz} members "
            f"(> max_cluster={max_cluster}); refine the clustering or pass "
            "prune_route='lsh' before the quadratic within-cluster join"
        )
    if use_lsh:
        pairs = _rhp_near_dups(
            members, id_col, vec_col, threshold, dim, n_bands, bits_per_band,
            seed, max_bucket, group_col=cluster_col,
        )
    else:
        a = members.select(
            cluster_col,
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("_n").alias("na"),
        )
        b = members.select(
            cluster_col,
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.col("_n").alias("nb"),
        )
        sim = cosine_with_norms("va", "vb", "na", "nb")
        pairs = (
            a.join(b, cluster_col)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(sim >= threshold)
        )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return members.join(losers, id_col, "left_anti").select(id_col, cluster_col)

