"""Vector / similarity ★ operators over the embeddings fixture
(SURVEY.md §2: A2 centroid mean, F11-F13 vector math, J4 nearest-centroid
assignment, J5 brute-force kNN; X5 ANN scale path is rows-only in
mlops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newsify_spark.functions.vectors import (
    cosine,
    cosine_with_norms,
    l2_dist,
    l2_norm,
    l2_normalize,
)
from newsify_spark.operators.similarity import nearest_centroid_assign
from newsify_spark.queries.registry import register
from newsify_spark.queries.sqlkit import (
    cosine_sql,
    dot_sql,
    l2_dist_sql,
    l2_sq_sql,
    norm_sql,
)
from newsify_spark.tables import load


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, centroid array<double>) — element-wise mean of ``emb``'s
    ``embedding`` per ``label`` (A2; reference np.mean(embeddings, axis=0),
    batch-cluster-service.py:128-130). The one centroid builder: the
    registry queries, the flagship and the pipeline's story seeding all
    call it.

    posexplode → (label,pos) partial-agg mean → re-assemble ordered array.
    One shuffle keyed (label,pos); at 100 TB this is the scalable form of
    a vector mean (no driver collection, no UDF).
    """
    flat = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    means = flat.groupBy("label", "pos").agg(F.avg("v").alias("m"))
    return (
        means.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )


# DuckDB-side flat centroid CTE (1-based pos shifted to 0-based to match
# posexplode).
CENTROID_FLAT_SQL = """
cent AS (
  SELECT label, CAST(pos - 1 AS INTEGER) AS pos, avg(v) AS m
  FROM (SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
  GROUP BY label, pos
)
"""


@register(
    "vec_centroids",
    doc="A2 element-wise vector mean (story centroid recompute). Flat "
    "(label,pos,value) output — avoids nested-hash ambiguity in the oracle.",
    tags=("A2",),
    bench=True,
    oracle="""
SELECT label, pos, round(m, 6) AS centroid_val
FROM (SELECT label, CAST(pos - 1 AS INTEGER) AS pos, avg(v) AS m
      FROM (SELECT label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
      GROUP BY label, pos)
""",
)
def vec_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return flat.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("centroid_val"))


@register(
    "vec_cosine_pairs",
    doc="F11 cosine + dot (reference sklearn cosine_similarity, "
    "duplication_service.py:81) with F12 L2 norm and F13 L2 distance per "
    "pair (FAISS IndexFlatL2 metric; normalize at "
    "batch-cluster-service.py:215-218) — all codegen'd higher-order "
    "expressions, one broadcast pair join.",
    tags=("F11", "F12", "F13"),
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim,
       round({dot_sql('a.embedding', 'b.embedding')}, 6)    AS dot_ab,
       round({norm_sql('a.embedding')}, 6)                  AS l2_a,
       round({l2_dist_sql('a.embedding', 'b.embedding')}, 6) AS l2_dist_ab
FROM embeddings a, embeddings b
WHERE a.vec_id < 12 AND b.vec_id < 12 AND a.vec_id < b.vec_id
""",
)
def vec_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 12)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    from newsify_spark.functions.vectors import dot

    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine("va", "vb"), 6).alias("cos_sim"),
            F.round(dot("va", "vb"), 6).alias("dot_ab"),
            F.round(l2_norm("va"), 6).alias("l2_a"),
            F.round(l2_dist("va", "vb"), 6).alias("l2_dist_ab"),
        )
    )


@register(
    "vec_norms",
    doc="F12 L2 normalize + F13 L2 distance (FAISS IndexFlatL2 metric; "
    "normalize at batch-cluster-service.py:215-218).",
    tags=("F12", "F13"),
    oracle=f"""
WITH z AS (SELECT embedding AS z0 FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round({norm_sql('embedding')}, 6) AS l2,
       round(CASE WHEN {norm_sql('embedding')} > 0
                  THEN CAST(embedding[1] AS DOUBLE) / {norm_sql('embedding')}
                  ELSE CAST(embedding[1] AS DOUBLE) END, 6) AS unit0,
       round({l2_dist_sql('embedding', 'z0')}, 6) AS dist_to_v0
FROM embeddings, z
""",
)
def vec_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v0 = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("z0"))
    return emb.crossJoin(F.broadcast(v0)).select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2"),
        F.round(F.element_at(l2_normalize("embedding"), 1), 6).alias("unit0"),
        F.round(l2_dist("embedding", "z0"), 6).alias("dist_to_v0"),
    )


@register(
    "vec_knn_bruteforce",
    doc="J5 exact k-NN: broadcast cross join + cosine + window top-k "
    "(replaces FAISS flat search, recommendation-trainer.py:89-100). "
    "Scale path: operators.similarity.knn_join_lsh (rows-only, mlops).",
    tags=("J5", "W2"),
    bench=True,
    oracle=f"""
SELECT query_id, item_id, round(score, 6) AS score FROM (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id,
         {cosine_sql('q.embedding', 'i.embedding')} AS score,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {cosine_sql('q.embedding', 'i.embedding')} DESC, i.vec_id ASC
         ) AS rn
  FROM embeddings q, embeddings i
  WHERE q.vec_id < 20 AND i.vec_id <> q.vec_id)
WHERE rn <= 5
""",
)
def vec_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # exclude self-matches from the item side before ranking; each side's
    # L2 norm is computed once per ROW before the cross join (r12: the
    # plain cosine folded both norms again for every PAIR — 3 O(d) folds
    # per pair -> 1; bit-identical, guide §1.2 per-task work)
    items = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec")
    ).withColumn("_in", l2_norm("item_vec"))
    scored = (
        q.withColumn("_qn", l2_norm("query_vec"))
        .crossJoin(F.broadcast(items))
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn(
            "score", cosine_with_norms("query_vec", "item_vec", "_qn", "_in")
        )
        .select("query_id", "item_id", "score")
    )
    from newsify_spark.operators.topk import top_k_per_group

    top = top_k_per_group(
        scored, ["query_id"], [F.col("score").desc(), F.col("item_id").asc()], 5
    )
    return top.select("query_id", "item_id", F.round("score", 6).alias("score"))


@register(
    "vec_nearest_centroid",
    doc="J4 nearest-centroid assignment with threshold (online story "
    "clustering, duplication_service.py:74-92; threshold 0.8). "
    "matched=false rows are the mint-new-story branch.",
    tags=("J4", "W1", "P10", "A10"),
    bench=True,
    oracle=f"""
WITH {CENTROID_FLAT_SQL.strip()},
vflat AS (
  SELECT vec_id, CAST(pos - 1 AS INTEGER) AS pos, CAST(v AS DOUBLE) AS v
  FROM (SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
dots AS (
  SELECT vf.vec_id, c.label,
         sum(vf.v * c.m) AS dp,
         sqrt(sum(vf.v * vf.v)) AS nv,
         sqrt(sum(c.m * c.m)) AS nc
  FROM vflat vf JOIN cent c ON vf.pos = c.pos
  GROUP BY vf.vec_id, c.label
),
sims AS (
  SELECT vec_id, label,
         CASE WHEN nv > 0 AND nc > 0 THEN dp / (nv * nc) ELSE 0.0 END AS sim
  FROM dots
),
best AS (
  SELECT vec_id, label, sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, label ASC) AS rn
  FROM sims
)
SELECT vec_id AS point_id, label AS centroid_id,
       round(sim, 6) AS similarity, sim > 0.8 AS matched
FROM best WHERE rn = 1
""",
)
def vec_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cents = label_centroids(emb).select(
        F.col("label").alias("centroid_id"), F.col("centroid").alias("centroid_vec")
    )
    pts = emb.select(F.col("vec_id").alias("point_id"), F.col("embedding").alias("point_vec"))
    # BLAS assignment (centroid side collected once — bounded by the label
    # vocabulary); equality with the expression form is pinned in
    # tests/test_operators.py. 3-4x faster at sf0.1, and the gap widens
    # with data: the per-pair HOF cosine is interpreted per element while
    # the GEMM is one vectorized kernel per Arrow batch.
    from newsify_spark.operators.similarity import nearest_centroid_assign_matmul

    out = nearest_centroid_assign_matmul(pts, cents, threshold=0.8)
    return out.select(
        "point_id", "centroid_id", F.round("similarity", 6).alias("similarity"), "matched"
    )


@register(
    "vec_knn_matmul",
    doc="J5 exact kNN, production form: per-partition BLAS matmul via "
    "mapInPandas (operators.similarity.knn_join_matmul) — 30x faster "
    "than the expression form at millions of pairs, identical results. "
    "Same oracle as vec_knn_bruteforce.",
    tags=("J5", "X5"),
    bench=True,
    oracle=f"""
SELECT query_id, item_id, round(score, 6) AS score FROM (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id,
         {cosine_sql('q.embedding', 'i.embedding')} AS score,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {cosine_sql('q.embedding', 'i.embedding')} DESC, i.vec_id ASC
         ) AS rn
  FROM embeddings q, embeddings i
  WHERE q.vec_id < 20 AND i.vec_id <> q.vec_id)
WHERE rn <= 5
""",
)
def vec_knn_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.similarity import knn_join_matmul
    from newsify_spark.operators.topk import top_k_per_group

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    # ask for k+1, drop the self-match (sim=1.0 is always rank 1 for these
    # queries), re-rank to top-5 — matches the oracle's pre-ranking filter
    top6 = knn_join_matmul(q, items, k=6)
    nonself = top6.filter(F.col("item_id") != F.col("query_id"))
    top5 = top_k_per_group(
        nonself, ["query_id"], [F.col("score").desc(), F.col("item_id").asc()], 5
    )
    return top5.select("query_id", "item_id", F.round("score", 6).alias("score"))


@register(
    "vec_knn_ivf",
    doc="IVF ANN made hash-checkable (J5 scale path): "
    "operators.similarity.knn_join_ivf with a DETERMINISTIC coarse "
    "quantizer — 6dp-rounded label centroids as the cell table (IVF "
    "semantics are independent of how cells were trained; the KMeans "
    "route stays timed as ml_ann_ivf_topk). Items assign to their top-1 "
    "cell, queries probe their top-3, exact cosine reranks within probed "
    "cells — every stage bit-identical cross-engine (fold-form cosine, "
    "rounded centroids), so the APPROXIMATE index itself is "
    "oracle-verified end to end, not just recall-tested.",
    tags=("J5", "ivf", "scale-path"),
    oracle=f"""
WITH cm AS (
  SELECT label, CAST(pos - 1 AS INTEGER) AS pos, round(avg(v), 6) AS m
  FROM (SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
  GROUP BY label, pos
),
cent AS (
  SELECT label AS cell, list(m ORDER BY pos) AS cell_vec
  FROM cm GROUP BY label
),
icell AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cosine_sql('e.embedding', 'c.cell_vec')} DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
qcell AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cosine_sql('e.embedding', 'c.cell_vec')} DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 20) WHERE rn <= 3
),
cand AS (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id
  FROM qcell q JOIN icell i ON q.cell = i.cell
),
scored AS (
  SELECT c.query_id, c.item_id,
         {cosine_sql('qe.embedding', 'ie.embedding')} AS score,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY {cosine_sql('qe.embedding', 'ie.embedding')} DESC, c.item_id ASC) AS rn
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ie ON ie.vec_id = c.item_id
)
SELECT query_id, item_id, round(score, 6) AS score FROM scored WHERE rn <= 5
""",
)
def vec_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.similarity import knn_join_ivf

    emb = load(spark, sf_dir, "embeddings")
    cells = label_centroids(emb).select(
        F.col("label").cast("int").alias("cell"),
        F.transform("centroid", lambda v: F.round(v, 6)).alias("cell_vec"),
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec")
    )
    out = knn_join_ivf(q, items, k=5, n_probe=3, cells=cells)
    return out.select("query_id", "item_id", F.round("score", 6).alias("score"))


# --- vec_knn_lsh: the LSH index itself hash-checked -----------------------
# Same plane family as the production pandas path (seed + 1000*band);
# signatures via the EXPRESSION form whose fold is bit-identical to
# DuckDB's list_reduce (sqlkit parity contract), so bucket membership —
# and therefore the approximate result set — is reproducible in SQL.
LSH_BANDS, LSH_BITS, LSH_SEED, LSH_DIM = 4, 6, 42, 64


def _lsh_band_planes() -> list[list[list[float]]]:
    from newsify_spark.operators.similarity import _hyperplanes

    return [
        _hyperplanes(LSH_DIM, LSH_BITS, LSH_SEED + 1000 * b) for b in range(LSH_BANDS)
    ]


def _rhp_band_sig_sql(planes: list[list[float]]) -> str:
    """DuckDB mirror of operators.similarity.rhp_signature for one band:
    sign bit per plane packed into an int. repr() float literals
    round-trip exactly; the zip/transform/reduce fold matches Spark's
    F.aggregate (0.0 + x == x in IEEE, so the missing init is a no-op)."""
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        proj = (
            f"list_reduce(list_transform(list_zip(CAST(embedding AS DOUBLE[]), "
            f"CAST({arr} AS DOUBLE[])), p -> p[1] * p[2]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _lsh_oracle() -> str:
    bands = _lsh_band_planes()
    qs = "\nUNION ALL ".join(
        f"SELECT vec_id AS query_id, {b} AS band, {_rhp_band_sig_sql(p)} AS sig "
        "FROM embeddings WHERE vec_id < 20"
        for b, p in enumerate(bands)
    )
    isg = "\nUNION ALL ".join(
        f"SELECT vec_id AS item_id, {b} AS band, {_rhp_band_sig_sql(p)} AS sig "
        "FROM embeddings"
        for b, p in enumerate(bands)
    )
    cos = cosine_sql("qe.embedding", "ie.embedding")
    return f"""
WITH qs AS ({qs}),
isg AS ({isg}),
cand AS (
  SELECT DISTINCT q.query_id, i.item_id
  FROM qs q JOIN isg i ON q.band = i.band AND q.sig = i.sig
  WHERE q.query_id <> i.item_id
),
scored AS (
  SELECT c.query_id, c.item_id, {cos} AS score,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY {cos} DESC, c.item_id ASC) AS rn
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ie ON ie.vec_id = c.item_id
)
SELECT query_id, item_id, round(score, 6) AS score FROM scored WHERE rn <= 5
"""


@register(
    "vec_knn_lsh",
    doc="LSH ANN made hash-checkable (J5 scale path, completing the set "
    "with vec_knn_bruteforce/vec_knn_ivf): random-hyperplane band "
    "signatures via the EXPRESSION form (operators.similarity."
    "rhp_signature — fold bit-identical to DuckDB list_reduce), bucket "
    "equi-join candidates, exact cosine rerank top-5. The oracle embeds "
    "the same seeded planes as repr() literals, so the APPROXIMATE "
    "bucket membership itself is reproduced and hash-compared — recall "
    "is whatever 4x6-bit banding gives, identically on both engines. "
    "Production route (vectorized signatures, skew caps) stays "
    "ml_ann_lsh_topk.",
    tags=("J5", "lsh", "scale-path"),
    oracle=_lsh_oracle(),
)
def vec_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.similarity import rhp_signature
    from newsify_spark.operators.topk import top_k_per_group

    emb = load(spark, sf_dir, "embeddings")
    bands = _lsh_band_planes()

    def sigs(df, id_alias):
        out = None
        for b, planes in enumerate(bands):
            one = df.select(
                F.col("vec_id").alias(id_alias),
                F.lit(b).alias("band"),
                rhp_signature(F.col("embedding"), planes).alias("sig"),
            )
            out = one if out is None else out.unionByName(one)
        return out

    qs = sigs(emb.filter(F.col("vec_id") < 20), "query_id")
    isg = sigs(emb, "item_id")
    cand = (
        qs.join(isg, ["band", "sig"])
        .filter(F.col("query_id") != F.col("item_id"))
        .select("query_id", "item_id")
        .distinct()
    )
    # norms hoisted to once-per-row on each join side (r12, bit-identical)
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).withColumn("_qn", l2_norm("qv"))
    ie = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("iv")
    ).withColumn("_in", l2_norm("iv"))
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ie, "item_id")
        .withColumn("score", cosine_with_norms("qv", "iv", "_qn", "_in"))
        .select("query_id", "item_id", "score")
    )
    top = top_k_per_group(
        scored, ["query_id"], [F.col("score").desc(), F.col("item_id").asc()], 5
    )
    return top.select("query_id", "item_id", F.round("score", 6).alias("score"))


# --- int8 scalar quantization (operators/quantize.py) ---------------------

_SQ_DIMS_SQL = """
u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos
      FROM embeddings),
dims AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM u GROUP BY pos),
sc AS (SELECT pos, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS s
       FROM dims)
"""


@register(
    "vec_int8_quantize",
    doc="int8 scalar quantization of the embedding column "
    "(operators.quantize.sq_encode_col): per-dimension min/max affine "
    "codes, FAISS IndexScalarQuantizer(QT_8bit) scheme — 4x index "
    "compression with pure transform() expressions, no UDF. Flat "
    "(vec_id, pos, code) output for unambiguous hashing.",
    tags=("X5", "quantize"),
    oracle=f"""
WITH {_SQ_DIMS_SQL.strip()}
SELECT u.vec_id, u.pos,
       CAST(least(255.0, greatest(0.0, floor((u.v - sc.mn) / sc.s + 0.5))) AS BIGINT) AS code
FROM u JOIN sc USING (pos)
ORDER BY vec_id, pos
""",
)
def vec_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.quantize import sq_encode_col, sq_train

    emb = load(spark, sf_dir, "embeddings")
    mins, scales = sq_train(emb, "embedding")
    return (
        emb.select("vec_id", sq_encode_col("embedding", mins, scales).alias("codes"))
        .select("vec_id", F.posexplode("codes").alias("pos", "code"))
        .orderBy("vec_id", "pos")
    )


@register(
    "vec_knn_int8",
    doc="J5/X5 kNN over int8-quantized items (operators.quantize."
    "knn_join_sq): candidates ranked by cosine against DECODED int8 "
    "vectors (6-dp rounded, item_id tiebreak), exact-cosine rerank of "
    "the top-25 pool, top-5 out. Returned scores are exact; the whole "
    "deterministic chain (train, encode, decode, both rankings) is "
    "reproduced in the DuckDB oracle — the index itself is hash-checked, "
    "like vec_knn_ivf/vec_knn_lsh.",
    tags=("J5", "X5", "quantize"),
    bench=True,
    oracle=f"""
WITH {_SQ_DIMS_SQL.strip()},
ms AS (SELECT list(mn ORDER BY pos) AS mins, list(s ORDER BY pos) AS scales FROM sc),
dec AS (
  SELECT e.vec_id,
         list_transform(
           list_zip(CAST(e.embedding AS DOUBLE[]), m.mins, m.scales),
           p -> p[2] + least(255.0, greatest(0.0, floor((p[1] - p[2]) / p[3] + 0.5))) * p[3]
         ) AS dv
  FROM embeddings e, ms m
),
approx AS (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id,
         round({cosine_sql('q.embedding', 'i.dv')}, 6) AS ascore
  FROM embeddings q JOIN dec i ON i.vec_id <> q.vec_id
  WHERE q.vec_id < 20
),
cand AS (
  SELECT query_id, item_id FROM (
    SELECT query_id, item_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ascore DESC, item_id ASC) AS rn
    FROM approx) WHERE rn <= 25
),
exact AS (
  SELECT c.query_id, c.item_id,
         {cosine_sql('q.embedding', 'i.embedding')} AS score
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings i ON i.vec_id = c.item_id
)
SELECT query_id, item_id, round(score, 6) AS score FROM (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rn
  FROM exact) WHERE rn <= 5
""",
)
def vec_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.quantize import knn_join_sq

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    top = knn_join_sq(q, items, k=5, candidate_k=25)
    return top.select("query_id", "item_id", F.round("score", 6).alias("score"))


@register(
    "vec_knn_ivfpq",
    doc="J5/X5 composed IVF-PQ ANN, hash-checked end to end (VERDICT r7 "
    "#7 — closes the last rows-only ANN gap): the same index semantics "
    "as operators.similarity.knn_join_ivfpq (FAISS IndexIVFPQ: coarse "
    "cells -> PQ codes -> ADC shortlist -> exact rerank) but with every "
    "stage a deterministic JVM expression both engines reproduce "
    "bit-identically. Cells are the 6dp-rounded label centroids (as "
    "vec_knn_ivf — IVF semantics are independent of how cells were "
    "trained); the m=4 x k=16 codebook is the raw subvectors of the 16 "
    "lowest-id embeddings (sampling init without Lloyd refinement — a "
    "legitimate PQ build whose entries are exact fixture values, so no "
    "training arithmetic to mirror); encoding is argmin squared-L2 per "
    "subspace (l2_sq fold, code tiebreak); the ADC estimate folds the "
    "per-subspace distance-table lookups in j order; items probe their "
    "top-1 cell, queries their top-3; the 4k-deep ADC shortlist is "
    "reranked by exact cosine. Scale shape: codebook + distance tables "
    "broadcast (m*k rows), per-item work is m code rows, candidates "
    "move as ids through one cell equi-join, rankings are "
    "top_k_per_group partial aggregates — no global window, no "
    "driver-side vectors beyond the 16-row codebook pull. The numpy "
    "production route stays timed as ml_ann_ivfpq_topk (recall-floor "
    "pinned); this entry proves the INDEX MATH is reproducible, like "
    "vec_knn_ivf/vec_knn_lsh/vec_knn_int8.",
    tags=("J5", "X5", "ivfpq", "scale-path"),
    oracle=f"""
WITH cm AS (
  SELECT label, CAST(pos - 1 AS INTEGER) AS pos, round(avg(v), 6) AS m
  FROM (SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
  GROUP BY label, pos
),
cent AS (
  SELECT label AS cell, list(m ORDER BY pos) AS cell_vec
  FROM cm GROUP BY label
),
icell AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cosine_sql('e.embedding', 'c.cell_vec')} DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
qcell AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cosine_sql('e.embedding', 'c.cell_vec')} DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 20) WHERE rn <= 3
),
js AS (SELECT unnest(generate_series(0, 3)) AS j),
donors AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings ORDER BY vec_id LIMIT 16
),
book AS (
  SELECT js.j, d.code, list_slice(d.e, js.j * 16 + 1, js.j * 16 + 16) AS entry
  FROM donors d CROSS JOIN js
),
isub AS (
  SELECT e.vec_id AS item_id, js.j,
         list_slice(CAST(e.embedding AS DOUBLE[]), js.j * 16 + 1, js.j * 16 + 16) AS sub
  FROM embeddings e CROSS JOIN js
),
icode AS (
  SELECT item_id, j, code FROM (
    SELECT s.item_id, s.j, b.code,
           row_number() OVER (PARTITION BY s.item_id, s.j
             ORDER BY {l2_sq_sql('s.sub', 'b.entry')} ASC, b.code ASC) AS rn
    FROM isub s JOIN book b ON s.j = b.j) WHERE rn = 1
),
qd AS (
  SELECT e.vec_id AS query_id, b.j, b.code,
         {l2_sq_sql("list_slice(CAST(e.embedding AS DOUBLE[]), b.j * 16 + 1, b.j * 16 + 16)", 'b.entry')} AS d
  FROM embeddings e CROSS JOIN book b WHERE e.vec_id < 20
),
cand AS (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id
  FROM qcell q JOIN icell i ON q.cell = i.cell
),
est AS (
  SELECT c.query_id, c.item_id,
         list_reduce(list(qd.d ORDER BY qd.j), (x, y) -> x + y) AS est
  FROM cand c
  JOIN icode ic ON ic.item_id = c.item_id
  JOIN qd ON qd.query_id = c.query_id AND qd.j = ic.j AND qd.code = ic.code
  GROUP BY c.query_id, c.item_id
),
short AS (
  SELECT query_id, item_id FROM (
    SELECT query_id, item_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY est ASC, item_id ASC) AS rn
    FROM est) WHERE rn <= 20
)
SELECT query_id, item_id, round(score, 6) AS score FROM (
  SELECT s.query_id, s.item_id,
         {cosine_sql('qe.embedding', 'ie.embedding')} AS score,
         row_number() OVER (PARTITION BY s.query_id
           ORDER BY {cosine_sql('qe.embedding', 'ie.embedding')} DESC, s.item_id ASC) AS rn
  FROM short s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ie ON ie.vec_id = s.item_id
) WHERE rn <= 5
""",
)
def vec_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.functions.vectors import l2_sq
    from newsify_spark.operators.topk import top_k_per_group

    DS, M, K, NPROBE, NCAND, TOPK = 16, 4, 16, 3, 20, 5
    emb = load(spark, sf_dir, "embeddings")
    cells = label_centroids(emb).select(
        F.col("label").cast("int").alias("cell"),
        F.transform("centroid", lambda v: F.round(v, 6)).alias("cell_vec"),
    )
    # codebook: raw subvectors of the K lowest-id embeddings — a
    # K-row driver pull (the sanctioned fail-fast-capped small side)
    donors = emb.select("vec_id", "embedding").orderBy("vec_id").limit(K).collect()
    entries = [
        (j, c, [float(x) for x in r.embedding[j * DS:(j + 1) * DS]])
        for c, r in enumerate(donors)
        for j in range(M)
    ]
    book = spark.createDataFrame(entries, "j int, code int, entry array<double>")

    # IVF layer: item -> top-1 cell, query -> top-NPROBE cells (norms
    # hoisted to once-per-row — r12, bit-identical to the plain cosine)
    paired = (
        emb.withColumn("_vn", l2_norm("embedding"))
        .crossJoin(F.broadcast(cells.withColumn("_cn", l2_norm("cell_vec"))))
        .withColumn("s", cosine_with_norms("embedding", "cell_vec", "_vn", "_cn"))
    )
    rank_cells = [F.col("s").desc(), F.col("cell").asc()]
    icell = top_k_per_group(paired, ["vec_id"], rank_cells, 1).select(
        F.col("vec_id").alias("item_id"), "cell"
    )
    qcell = top_k_per_group(
        paired.filter(F.col("vec_id") < 20), ["vec_id"], rank_cells, NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")

    # PQ layer: encode every item (argmin squared-L2 per subspace)
    jdf = F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("j")
    isub = emb.select(F.col("vec_id").alias("item_id"), jdf, "embedding").withColumn(
        "sub", F.expr(f"slice(embedding, j * {DS} + 1, {DS})")
    )
    icode = top_k_per_group(
        isub.join(F.broadcast(book), "j").withColumn("d", l2_sq("sub", "entry")),
        ["item_id", "j"],
        [F.col("d").asc(), F.col("code").asc()],
        1,
    ).select("item_id", "j", "code")

    # ADC distance tables: |Q| x m x k scalars — broadcast-sized
    qd = (
        emb.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), jdf, "embedding")
        .withColumn("sub", F.expr(f"slice(embedding, j * {DS} + 1, {DS})"))
        .join(F.broadcast(book), "j")
        .select("query_id", "j", "code", l2_sq("sub", "entry").alias("d"))
    )

    cand = qcell.join(icell, "cell").select("query_id", "item_id")
    est = (
        cand.join(icode, "item_id")
        .join(F.broadcast(qd), ["query_id", "j", "code"])
        .groupBy("query_id", "item_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("j", "d"))),
                F.lit(0.0),
                lambda acc, s: acc + s["d"],
            ).alias("est")
        )
    )
    short = top_k_per_group(
        est, ["query_id"], [F.col("est").asc(), F.col("item_id").asc()], NCAND
    ).select("query_id", "item_id")

    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    ie = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("iv"))
    scored = (
        short.join(F.broadcast(qe), "query_id")
        .join(ie, "item_id")
        .withColumn("score", cosine("qv", "iv"))
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("score").desc(), F.col("item_id").asc()], TOPK
    ).select("query_id", "item_id", F.round("score", 6).alias("score"))
