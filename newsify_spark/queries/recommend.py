"""The flagship query — hybrid recommendations for ALL users in one
DataFrame program (SURVEY.md §7.2; reference §3.3 training cycle,
recommendation-trainer.py:174-263).

The reference loops per user: Mongo lookups + FAISS search + Python dict
merges, one user at a time. Here the whole cycle is a single declarative
plan with no driver-side loop:

  score events (A11) → per-(user,item) ratings (A8 dedup)
  → user profile = rating-weighted mean embedding (J3 + A2)
  → label centroids (A2)
  → content score = cosine(profile, centroid) (J5/F11)
  → per-user range normalization (A7/W3 — reference formula score/range,
    recommendation-trainer.py:138-141)
  → label popularity + range normalization (A1/A7)
  → label freshness decay from event recency (F7/F8)
  → combined weighted score (J8/F10) → top-k per user (W2)
  → cold-start popularity fallback unioned in
    (recommendation-trainer.py:253-256)

Every step is a built-in Spark expression. The shuffles, counted in the
executed plans at sf0.01 (8 in all, down from 10 when each
consumer re-ran the label aggregate):

- the events spread by user_id, which the (user, item) rating groupBy
  reuses (in the interaction checkpoint);
- the per-label aggregate and its 1-row range aggregate (in the label
  scores checkpoint; the second read of the label aggregate is a
  ReusedExchange);
- the profile aggregate and the roster (the per-user aggregate that
  splits warm from cold users), each keyed by user_id: under AQE a
  local checkpoint does not keep its user_id partitioning, so both
  re-shuffle the checkpoint. The warm-user semi-join and the per-user
  windows ride on the profile exchange; the cold read of the roster is a
  ReusedExchange;
- the centroid builder's (label, pos) and label exchanges (none when the
  caller hands in checkpointed centroids, as run_pipeline does);
- the single-partition rank of the k-row popularity top-k.

At 100 TB the events scan dominates; everything after the first groupBy
is proportional to |users|·|labels|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newsify_spark.functions.scalars import epoch_us, event_score, safe_div
from newsify_spark.functions.vectors import cosine_with_norms, l2_norm
from newsify_spark.operators.topk import global_top_k, top_k_per_group
from newsify_spark.queries.registry import register
from newsify_spark.queries.relational import EVENT_WEIGHTS, EVENT_WEIGHTS_SQL
from newsify_spark.queries.vector import label_centroids
from newsify_spark.tables import load, spread_small_scan

K = 3
W_CONTENT, W_POP = 0.6, 0.4
DECAY_PER_HOUR = 0.001
COLD_MIN_RATING = 0.5


def interactions(events: DataFrame) -> DataFrame:
    """(user_id, item, rating): weighted event scores summed per user-item
    (A11 + A8). item = props.k, the fixture's story key."""
    return interactions_with_ts(events).filter(F.col("rating") > 0).drop("last_ts")


def interactions_with_ts(events: DataFrame) -> DataFrame:
    """(user_id, item, rating, last_ts): ONE events pass computes both the
    weighted rating sum and the latest event time per (user, item), so the
    flagship query's freshness signal never re-scans/re-parses events —
    at 100 TB the events scan is the dominant cost and this halves it.
    Rows with rating <= 0 are KEPT (freshness counts all events)."""
    # from_json with an explicit one-field schema is ~3x cheaper than
    # get_json_object on this hot path (one JSON parse per event);
    # spread_small_scan parallelizes the parse when the fixture is one
    # unsplittable row group (no-op on multi-file production inputs).
    # Spread BY user_id (r12, guide §2.4): hash partitioning skips the
    # round-robin's local sort, and HashPartitioning(user_id) satisfies
    # ClusteredDistribution(user_id, item), so this groupBy plans without
    # a second exchange. A local checkpoint of the result does not carry
    # that partitioning under AQE (its plan reports UnknownPartitioning),
    # so the user_id-keyed consumers of the checkpoint shuffle again.
    return (
        spread_small_scan(events, key="user_id")
        .withColumn("item", F.from_json("props", "k bigint")["k"])
        .withColumn("w", event_score("event_type", EVENT_WEIGHTS))
        .groupBy("user_id", "item")
        .agg(F.sum("w").alias("rating"), F.max("ts").alias("last_ts"))
    )


def user_profiles(inter: DataFrame, emb: DataFrame) -> DataFrame:
    """(user_id, profile array<double>): rating-weighted mean of the
    embeddings of items the user interacted with — the distributed form
    of the reference's per-user np.mean over liked-story centroids
    (recommendation-trainer.py:58-69).

    Executor-JVM-side via Spark ML ``Summarizer.mean`` with a weight
    column: a true combining aggregate, so the per-user vector sums
    partial-aggregate MAP-SIDE and the user_id shuffle carries one
    partial vector per (partition, user), not every interaction row.
    On the largest intermediate of the flagship that beats the previous
    groupBy-``applyInPandas`` (vectorized, but Python+Arrow and no
    map-side combine) on both counts that matter at 100 TB: shuffle
    volume and executor-JVM residency.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    # items table is the small side (one row per story/item): broadcast so
    # the ratings side never shuffles for this join
    j = inter.join(F.broadcast(emb), inter.item == emb.vec_id).select(
        "user_id", "rating", array_to_vector("embedding").alias("v")
    )
    return j.groupBy("user_id").agg(
        vector_to_array(
            Summarizer.mean(F.col("v"), weightCol=F.col("rating"))
        ).alias("profile")
    )


def hybrid_recommendations(spark: SparkSession, sf_dir: str, k: int = K) -> DataFrame:
    """The flagship over the fixture tables: builds the interaction
    checkpoint and the label centroids from ``sf_dir`` and hands them to
    :func:`hybrid_topk`. ``run_pipeline`` calls the core directly with the
    hand-offs its earlier stages already built."""
    emb = load(spark, sf_dir, "embeddings")
    # ONE events pass feeds ratings, freshness and the user roster; the
    # post-groupBy interaction table is |users|x|items| — small relative
    # to raw events at any scale — so materialize it once for its
    # consumers as an eager local checkpoint: it never enters the
    # CacheManager, so no cached plan outlives the call.
    inter_all = interactions_with_ts(load(spark, sf_dir, "events")).localCheckpoint(
        eager=True
    )
    return hybrid_topk(inter_all, emb, label_centroids(emb), k)


def hybrid_topk(
    inter_all: DataFrame, emb: DataFrame, cents: DataFrame, k: int = K
) -> DataFrame:
    """(user_id, story, rnk, score, src) from the interaction checkpoint
    ``inter_all`` (:func:`interactions_with_ts`), the item embeddings
    ``emb`` (vec_id, embedding, label) and the label centroids ``cents``
    (label, centroid)."""
    inter = inter_all.filter(F.col("rating") > 0).drop("last_ts")
    # the item->label map is one row per item: always broadcastable
    item_lab = F.broadcast(emb.select(F.col("vec_id").alias("item"), "label"))

    # the roster: one per-user aggregate over every interaction. A user
    # whose positive ratings sum below COLD_MIN_RATING, or who has none
    # (null sum), is cold and gets only the popularity fallback
    # (recommendation-trainer.py:253-256); every other user gets only the
    # hybrid list. An event without a user_id names no user. Dropping it
    # here also keeps the roster's two reads one plan (a join would infer
    # the filter into one read only), so they share one exchange; the
    # shuffle join rides on the profile aggregate's user_id exchange
    # instead of broadcasting the warm users.
    roster = (
        inter_all.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rating") > 0, F.col("rating"))) >= COLD_MIN_RATING,
                F.lit(False),
            ).alias("warm")
        )
    )
    profiles = user_profiles(inter, emb).join(
        roster.filter("warm").hint("shuffle_hash"), "user_id", "left_semi"
    )

    # content score: cosine(profile, centroid) for every (user, label);
    # centroids are tiny (one row per story cluster) -> broadcast, the
    # user side never shuffles for this join.
    content = (
        profiles.withColumn("_pn", l2_norm("profile"))
        .crossJoin(F.broadcast(cents.withColumn("_cn", l2_norm("centroid"))))
        .select(
            "user_id",
            "label",
            # norms computed once per user / per label instead of per
            # (user, label) pair — bit-identical (r12, guide §1.2)
            cosine_with_norms("profile", "centroid", "_pn", "_cn").alias("cscore"),
        )
    )
    wu = Window.partitionBy("user_id")
    crange = F.max("cscore").over(wu) - F.min("cscore").over(wu)
    content = content.withColumn("cnorm", safe_div(F.col("cscore"), crange))

    # label popularity (A1) and label freshness (F7/F8) in ONE label-keyed
    # aggregation over the interaction checkpoint. pop sums only positive
    # ratings (sum ignores the when()'s nulls); labels whose events are
    # ALL non-positive get a null pop and drop out of the scored labels.
    lab_stats = (
        inter_all.join(item_lab, "item")
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("rating") > 0, F.col("rating"))).alias("pop"),
            F.max("last_ts").alias("label_ts"),
        )
    )
    # the popularity range (A7) and the latest event in one 1-row
    # aggregate, broadcast — NOT a global window (which would
    # single-partition the data). max/min skip the null pops, so prange
    # spans the scored labels only, while mx spans every label.
    glob = lab_stats.agg(
        (F.max("pop") - F.min("pop")).alias("prange"), F.max("label_ts").alias("mx")
    )
    # lab_scores has |labels| rows (bounded by the label vocabulary at any
    # scale) and two consumers, the per-user scoring join and the
    # cold-start popularity top-k: materialize it once, so the label
    # aggregate runs once instead of once per consumer. Freshness is an
    # exponential decay on hours since the label's latest event
    # (recommendation-trainer.py:77-80).
    lab_scores = (
        lab_stats.filter(F.col("pop").isNotNull())
        .crossJoin(F.broadcast(glob))
        .select(
            "label",
            safe_div(F.col("pop"), F.col("prange")).alias("pnorm"),
            F.exp(
                F.lit(-DECAY_PER_HOUR)
                * (epoch_us("mx") - epoch_us("label_ts"))
                / 3600.0e6
            ).alias("fresh"),
        )
        .localCheckpoint(eager=True)
    )
    scored = content.join(F.broadcast(lab_scores), "label").select(
        "user_id",
        "label",
        (
            (F.lit(W_CONTENT) * F.col("cnorm") + F.lit(W_POP) * F.col("pnorm"))
            * F.col("fresh")
        ).alias("score"),
    )
    top = top_k_per_group(
        scored,
        ["user_id"],
        [F.col("score").desc(), F.col("label").asc()],
        k,
        rank_col="rnk",
        keep_rank=True,
    ).withColumn("src", F.lit("hybrid"))

    # cold-start fallback: the roster's cold users get the global
    # popularity top-k
    cold = roster.filter(~F.col("warm")).select("user_id")
    pop_top = global_top_k(
        lab_scores.select(
            "label", (F.col("pnorm") * F.col("fresh")).alias("score")
        ),
        [F.col("score").desc(), F.col("label").asc()],
        k,
        rank_col="rnk",
    )
    cold_recs = cold.crossJoin(F.broadcast(pop_top)).withColumn("src", F.lit("popular"))

    out = top.unionByName(cold_recs)
    return out.select(
        "user_id",
        F.col("label").alias("story"),
        "rnk",
        F.round("score", 6).alias("score"),
        "src",
    )


_ORACLE = f"""
WITH inter AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         sum({EVENT_WEIGHTS_SQL}) AS rating
  FROM events GROUP BY 1, 2
  HAVING sum({EVENT_WEIGHTS_SQL}) > 0
),
vflat AS (
  SELECT vec_id, label, CAST(pos - 1 AS INTEGER) AS pos, CAST(v AS DOUBLE) AS v
  FROM (SELECT vec_id, label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
profile AS (
  SELECT i.user_id, f.pos, sum(i.rating * f.v) / sum(i.rating) AS p
  FROM inter i JOIN vflat f ON i.item = f.vec_id
  GROUP BY i.user_id, f.pos
),
cent AS (
  SELECT label, pos, avg(v) AS m FROM vflat GROUP BY label, pos
),
content AS (
  SELECT pr.user_id, c.label,
         CASE WHEN sqrt(sum(pr.p * pr.p)) > 0 AND sqrt(sum(c.m * c.m)) > 0
              THEN sum(pr.p * c.m) / (sqrt(sum(pr.p * pr.p)) * sqrt(sum(c.m * c.m)))
              ELSE 0.0 END AS cscore
  FROM profile pr JOIN cent c ON pr.pos = c.pos
  GROUP BY pr.user_id, c.label
),
cnormed AS (
  SELECT user_id, label,
         CASE WHEN (max(cscore) OVER w - min(cscore) OVER w) <> 0
              THEN cscore / (max(cscore) OVER w - min(cscore) OVER w)
              ELSE 0 END AS cnorm
  FROM content WINDOW w AS (PARTITION BY user_id)
),
pop AS (
  SELECT e.label, sum(i.rating) AS pop
  FROM inter i JOIN (SELECT DISTINCT vec_id, label FROM vflat) e ON i.item = e.vec_id
  GROUP BY e.label
),
pnormed AS (
  SELECT label, pop,
         CASE WHEN (max(pop) OVER () - min(pop) OVER ()) <> 0
              THEN pop / (max(pop) OVER () - min(pop) OVER ())
              ELSE 0 END AS pnorm
  FROM pop
),
ev_lab AS (
  SELECT e2.label, date_trunc('microseconds', ev.ts) AS ts
  FROM events ev
  JOIN (SELECT DISTINCT vec_id, label FROM vflat) e2
    ON CAST(json_extract_string(ev.props, '$.k') AS BIGINT) = e2.vec_id
),
fresh AS (
  SELECT label,
         exp(-{DECAY_PER_HOUR} * (epoch_us((SELECT max(ts) FROM ev_lab)) - epoch_us(max(ts))) / 3600.0e6) AS fresh
  FROM ev_lab GROUP BY label
),
scored AS (
  SELECT cn.user_id, cn.label,
         ({W_CONTENT} * cn.cnorm + {W_POP} * pn.pnorm) * fr.fresh AS score
  FROM cnormed cn JOIN pnormed pn ON cn.label = pn.label
  JOIN fresh fr ON cn.label = fr.label
),
top AS (
  SELECT user_id, label, score,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY score DESC, label ASC) AS INTEGER) AS rnk
  FROM scored
),
totals AS (SELECT user_id, sum(rating) AS tot FROM inter GROUP BY user_id),
cold AS (
  SELECT DISTINCT e.user_id FROM events e
  WHERE e.user_id IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM totals t
                    WHERE t.user_id = e.user_id AND t.tot >= {COLD_MIN_RATING})
),
pop_top AS (
  SELECT label, score,
         CAST(row_number() OVER (ORDER BY score DESC, label ASC) AS INTEGER) AS rnk
  FROM (SELECT pn.label, pn.pnorm * fr.fresh AS score
        FROM pnormed pn JOIN fresh fr ON pn.label = fr.label)
)
SELECT user_id, label AS story, rnk, round(score, 6) AS score, 'hybrid' AS src
FROM top WHERE rnk <= {K} AND user_id IS NOT NULL
  AND user_id NOT IN (SELECT user_id FROM cold)
UNION ALL
SELECT c.user_id, p.label AS story, p.rnk, round(p.score, 6) AS score, 'popular' AS src
FROM cold c, pop_top p WHERE p.rnk <= {K}
"""


@register(
    "rec_hybrid_topk",
    doc="FLAGSHIP: hybrid content+popularity recommendations for all "
    "users, one declarative plan, no per-user loop (reference training "
    "cycle §3.3). Exercises A11/A8/A2/J3/J5/A7/W3/A1/F7/F8/F10/J8/W2 "
    "plus the cold-start fallback.",
    tags=("flagship",),
    bench=True,
    oracle=_ORACLE,
)
def rec_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hybrid_recommendations(spark, sf_dir)


@register(
    "rec_read_path",
    doc="§3.1 read path — GET /recommendations/{user_id} re-expressed: "
    "point lookup on the (computed) gold recs for the lowest user id, "
    "exploded and projected with defaults (P2/F17), with the latest-N "
    "fallback (O3) unioned for a user with no recs "
    "(api_gateway_service.py:285-312).",
    tags=("read-path", "S7", "O3", "F17", "F19"),
    oracle=f"""
WITH base AS ({_ORACLE}),
target AS (SELECT min(user_id) AS uid FROM events)
SELECT b.user_id, b.story, b.rnk, b.score, 'rec' AS route
FROM base b, target t WHERE b.user_id = t.uid AND b.src = 'hybrid'
UNION ALL
SELECT -1 AS user_id, CAST(label AS INTEGER) AS story,
       CAST(row_number() OVER (ORDER BY mx DESC, label ASC) AS INTEGER) AS rnk,
       0.0 AS score, 'fallback' AS route
FROM (SELECT e.label, max(date_trunc('microseconds', ev.ts)) AS mx
      FROM events ev
      JOIN (SELECT DISTINCT vec_id, label FROM embeddings) e
        ON CAST(json_extract_string(ev.props, '$.k') AS BIGINT) = e.vec_id
      GROUP BY e.label)
QUALIFY rnk <= 3
""",
)
def rec_read_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    emb = load(spark, sf_dir, "embeddings")
    recs = hybrid_recommendations(spark, sf_dir)

    # point lookup (S7): one user's rec list from the gold table
    target = events.agg(F.min("user_id").alias("uid"))
    mine = (
        recs.join(F.broadcast(target), recs.user_id == F.col("uid"))
        .filter(F.col("src") == "hybrid")
        .select("user_id", "story", "rnk", "score", F.lit("rec").alias("route"))
    )

    # fallback (O3): latest-updated stories for a user with no rec doc
    ev_lab = (
        events.select(F.from_json("props", "k bigint")["k"].alias("item"), "ts")
        .join(F.broadcast(emb.select(F.col("vec_id").alias("item"), "label")), "item")
        .groupBy("label")
        .agg(F.max("ts").alias("mx"))
    )
    fallback = (
        global_top_k(
            ev_lab, [F.col("mx").desc(), F.col("label").asc()], 3, rank_col="rnk"
        )
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            F.col("label").cast("int").alias("story"),
            "rnk",
            F.lit(0.0).alias("score"),
            F.lit("fallback").alias("route"),
        )
    )
    return mine.unionByName(fallback)


# --- serving-layer diversification + training-data negatives (round 5) ----

_MMR_ORACLE = f"""
WITH inter AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         sum({EVENT_WEIGHTS_SQL}) AS rating
  FROM events WHERE user_id < 10 GROUP BY 1, 2
  HAVING sum({EVENT_WEIGHTS_SQL}) > 0
),
withvec AS (
  SELECT i.user_id, i.item, round(i.rating, 6) AS rel, e.embedding
  FROM inter i JOIN embeddings e ON i.item = e.vec_id
),
cand AS (
  SELECT user_id, item, rel, embedding FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY rel DESC, item ASC) AS rn
    FROM withvec) WHERE rn <= 8
),
sims AS (
  SELECT a.user_id, a.item AS ia, b.item AS ib,
         round({{cos}}, 6) AS s
  FROM cand a JOIN cand b ON a.user_id = b.user_id AND a.item <> b.item
),
p1 AS (
  SELECT user_id, item, rel AS score FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY rel DESC, item ASC) AS rn
    FROM cand) WHERE rn = 1
),
r2 AS (
  SELECT c.user_id, c.item, round(0.7 * c.rel - 0.3 * s.s, 6) AS score
  FROM cand c
  JOIN p1 ON c.user_id = p1.user_id AND c.item <> p1.item
  JOIN sims s ON s.user_id = c.user_id AND s.ia = c.item AND s.ib = p1.item
),
p2 AS (
  SELECT user_id, item, score FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY score DESC, item ASC) AS rn
    FROM r2) WHERE rn = 1
),
r3 AS (
  SELECT c.user_id, c.item, round(0.7 * c.rel - 0.3 * max(s.s), 6) AS score
  FROM cand c
  JOIN p1 ON c.user_id = p1.user_id AND c.item <> p1.item
  JOIN p2 ON c.user_id = p2.user_id AND c.item <> p2.item
  JOIN sims s ON s.user_id = c.user_id AND s.ia = c.item
             AND s.ib IN (p1.item, p2.item)
  GROUP BY c.user_id, c.item, c.rel
),
p3 AS (
  SELECT user_id, item, score FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY score DESC, item ASC) AS rn
    FROM r3) WHERE rn = 1
)
SELECT user_id, CAST(1 AS INTEGER) AS rk, item, score FROM p1
UNION ALL SELECT user_id, 2, item, score FROM p2
UNION ALL SELECT user_id, 3, item, score FROM p3
ORDER BY user_id, rk
"""


@register(
    "rec_mmr_rerank",
    doc="MMR diversification re-rank (operators.mmr, Carbonell & "
    "Goldstein SIGIR'98): per-user top-8 candidate pools by rating, "
    "then 3 greedy picks maximizing 0.7*rel - 0.3*max_sim_to_picked — "
    "the ACTION the reference's diversity measurement "
    "(rec_bias_report / bias_detection_service.py) never takes. The k "
    "greedy steps unroll into k relational stages (join + group-max + "
    "per-user top-1), all user-keyed; the Python loop builds the PLAN, "
    "no data touches the driver. Whole chain hash-checked against "
    "unrolled DuckDB CTEs.",
    tags=("W2", "A5", "mmr", "serving"),
    oracle=None,  # set below — needs cosine_sql templating
)
def rec_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.mmr import mmr_rerank

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    emb = load(spark, sf_dir, "embeddings")
    inter = interactions(ev).withColumn("rel", F.round("rating", 6))
    withvec = inter.join(
        F.broadcast(emb.select(F.col("vec_id").alias("item"), "embedding")), "item"
    )
    cand = top_k_per_group(
        withvec, ["user_id"], [F.col("rel").desc(), F.col("item").asc()], 8
    ).select("user_id", "item", "rel", F.col("embedding").alias("vec"))
    out = mmr_rerank(cand, k=3, lam=0.7)
    return out.select("user_id", "rk", "item", "score").orderBy("user_id", "rk")


_NEG_ORACLE = """
WITH pos AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE user_id < 50
),
users AS (SELECT DISTINCT user_id FROM pos),
catalog AS (SELECT vec_id AS item FROM embeddings),
cand AS (
  SELECT u.user_id, c.item
  FROM users u CROSS JOIN catalog c
  WHERE NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.user_id = u.user_id AND p.item = c.item)
)
SELECT user_id, item, CAST(rk AS INTEGER) AS rk FROM (
  SELECT user_id, item,
         row_number() OVER (PARTITION BY user_id
           ORDER BY md5(CAST(user_id AS VARCHAR) || '|' || CAST(item AS VARCHAR)),
                    item) AS rk
  FROM cand) WHERE rk <= 5
ORDER BY user_id, item
"""


@register(
    "rec_negative_samples",
    doc="Deterministic negative sampling for recommender/contrastive "
    "training data: per user, 5 catalog items the user has NOT "
    "interacted with, chosen by md5(user|item) order — reproducible "
    "across runs and engines (no rand()). Catalog side broadcast + "
    "anti join on the positives; at 100 TB pre-thin the catalog per "
    "user with pmod(xxhash64(user, item), R) = 0 before the anti join "
    "so candidate generation is |users|*|catalog|/R, then sample as "
    "here. The reference trains ALS on positives only "
    "(recommendation-trainer.py) — implicit-feedback pipelines need "
    "exactly this negative feed.",
    tags=("J7", "training-data", "sampling"),
    oracle=_NEG_ORACLE,
)
def rec_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    emb = load(spark, sf_dir, "embeddings")
    pos = (
        ev.withColumn("item", F.from_json("props", "k bigint")["k"])
        .select("user_id", "item")
        .distinct()
    )
    users = pos.select("user_id").distinct()
    catalog = emb.select(F.col("vec_id").alias("item"))
    cand = users.crossJoin(F.broadcast(catalog)).join(
        pos, ["user_id", "item"], "left_anti"
    )
    h = F.md5(F.concat_ws("|", F.col("user_id"), F.col("item")))
    ranked = top_k_per_group(
        cand.withColumn("_h", h), ["user_id"], [F.col("_h").asc(), F.col("item").asc()], 5,
        rank_col="rk", keep_rank=True,
    )
    return ranked.select("user_id", "item", "rk").orderBy("user_id", "item")


# rec_mmr_rerank oracle needs the fold-form cosine over the two cand
# embeddings — inject it now that sqlkit is importable without cycles.
from newsify_spark.queries.registry import REGISTRY  # noqa: E402
from newsify_spark.queries.sqlkit import cosine_sql as _cos_sql  # noqa: E402

REGISTRY["rec_mmr_rerank"].oracle = _MMR_ORACLE.format(
    cos=_cos_sql("a.embedding", "b.embedding")
)


_PAGERANK_ORACLE = """
WITH ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE user_id < 300
),
ok AS (SELECT user_id FROM ui GROUP BY user_id HAVING count(*) <= 100),
ui2 AS (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)),
edges AS (
  SELECT a.item AS src, b.item AS dst, CAST(count(*) AS BIGINT) AS w
  FROM ui2 a JOIN ui2 b ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT src AS item FROM edges),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outw AS (SELECT src, CAST(sum(w) AS DOUBLE) AS ow FROM edges GROUP BY src),
norm AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS p
         FROM edges e JOIN outw o USING (src)),
pr0 AS (SELECT item, round(CAST(1.0 AS DOUBLE) / nn.n, 6) AS pr FROM nodes, nn),
c1 AS (SELECT norm.dst AS item, sum(pr0.pr * norm.p) AS i
       FROM pr0 JOIN norm ON pr0.item = norm.src GROUP BY 1),
it1 AS (
  SELECT nd.item,
         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(c1.i, CAST(0.0 AS DOUBLE)), 6) AS pr
  FROM nodes nd CROSS JOIN nn LEFT JOIN c1 USING (item)
),
c2 AS (SELECT norm.dst AS item, sum(it1.pr * norm.p) AS i
       FROM it1 JOIN norm ON it1.item = norm.src GROUP BY 1),
it2 AS (
  SELECT nd.item,
         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(c2.i, CAST(0.0 AS DOUBLE)), 6) AS pr
  FROM nodes nd CROSS JOIN nn LEFT JOIN c2 USING (item)
)
SELECT item, pr FROM it2 ORDER BY item
"""


@register(
    "rec_item_pagerank",
    doc="PageRank centrality over the item co-occurrence graph "
    "(operators.pagerank): distinct (user,item) pairs -> capped "
    "per-user self-join edges (the bot-basket skew guard) -> 2 "
    "weighted power iterations, each one join + dst-keyed partial-agg "
    "sum; the Python loop unrolls the PLAN, no driver state. 6-dp "
    "rounding after each iteration keeps the chain engine-reproducible "
    "— hash-checked against the same unrolled steps in DuckDB. The "
    "graph-centrality upgrade of the reference's popularity count "
    "(recommendation-trainer.py:222-231).",
    tags=("graph", "A1", "scale-path", "rec"),
    oracle=_PAGERANK_ORACLE,
)
def rec_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.pagerank import cooccurrence_edges, pagerank

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    ui = ev.withColumn("item", F.from_json("props", "k bigint")["k"]).select(
        "user_id", "item"
    )
    edges = cooccurrence_edges(ui, max_user_items=100)
    return pagerank(edges, iterations=2, damping=0.85).orderBy("item")


_RANKING_METRICS_ORACLE = """
WITH inter AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         event_type
  FROM events
),
ranked AS (
  SELECT user_id, item, rank FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY count(*) DESC, item ASC) AS rank
    FROM inter WHERE event_type <> 'purchase' GROUP BY user_id, item
  ) WHERE rank <= 10
),
rel AS (SELECT DISTINCT user_id, item FROM inter WHERE event_type = 'purchase'),
n_rel AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM rel GROUP BY user_id),
hits AS (
  SELECT r.user_id, r.rank FROM ranked r JOIN rel USING (user_id, item)
),
per_user AS (
  SELECT n_rel.user_id,
         COALESCE(1.0 / min(h.rank), 0.0) AS rr,
         COALESCE(count(h.rank), 0) / CAST(n_rel.n AS DOUBLE) AS recall,
         COALESCE(sum(1.0 / log2(h.rank + 1)), 0.0)
           / list_reduce(list_transform(generate_series(1, LEAST(n_rel.n, 10)),
                                        i -> 1.0 / log2(i + 1)),
                         (x, y) -> x + y) AS ndcg
  FROM n_rel LEFT JOIN hits h USING (user_id)
  GROUP BY n_rel.user_id, n_rel.n
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       round(avg(rr), 6) AS mrr,
       round(avg(recall), 6) AS recall_at_10,
       round(avg(ndcg), 6) AS ndcg_at_10
FROM per_user
"""


@register(
    "rec_ranking_metrics",
    doc="Offline ranking-quality evaluation — MRR, recall@10, nDCG@10 "
    "of the interaction-count ranker against held-out purchases as "
    "relevance (the Cremonesi/Koren offline protocol every serving "
    "stack needs before an A/B test; the reference trains and serves "
    "recommendation-trainer.py rankings with no evaluation loop at "
    "all). Per-user ranked list = top-10 non-purchase interactions "
    "(count desc, item asc — deterministic); relevant set = the user's "
    "distinct purchased items; binary-relevance nDCG with "
    "ideal-DCG(min(|rel|,10)) denominator computed by a codegen'd "
    "fold, no UDF. Every stage is user-keyed — one exchange reused "
    "through ranking, hits, and the per-user rollup; output is one "
    "row. Evaluates ANY (user,item,rank) leg: swap in ALS, BM25, ANN "
    "or fused rankings unchanged.",
    tags=("A-extra", "W-extra", "eval"),
    oracle=_RANKING_METRICS_ORACLE,
)
def rec_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.operators.topk import top_k_per_group

    inter = load(spark, sf_dir, "events").select(
        "user_id",
        F.from_json("props", "k bigint")["k"].alias("item"),
        "event_type",
    )
    ranked = top_k_per_group(
        inter.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "item")
        .agg(F.count("*").alias("_n")),
        ["user_id"],
        [F.col("_n").desc(), F.col("item").asc()],
        10,
        rank_col="rank",
        keep_rank=True,
    ).select("user_id", "item", "rank")
    rel = (
        inter.filter(F.col("event_type") == "purchase")
        .select("user_id", "item")
        .distinct()
    )
    n_rel = rel.groupBy("user_id").agg(F.count("*").alias("n"))
    hits = ranked.join(rel, ["user_id", "item"]).select("user_id", "rank")
    idcg = F.expr(
        "aggregate(sequence(1, int(least(n, 10))), 0D,"
        " (acc, i) -> acc + 1.0 / log2(i + 1))"
    )
    per_user = (
        n_rel.join(hits, "user_id", "left")
        .groupBy("user_id", "n")
        .agg(
            F.coalesce(F.lit(1.0) / F.min("rank"), F.lit(0.0)).alias("rr"),
            (F.count("rank") / F.col("n").cast("double")).alias("recall"),
            F.coalesce(
                F.sum(F.lit(1.0) / F.log2(F.col("rank") + 1)), F.lit(0.0)
            ).alias("_dcg"),
        )
        .withColumn("ndcg", F.col("_dcg") / idcg)
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.round(F.avg("rr"), 6).alias("mrr"),
        F.round(F.avg("recall"), 6).alias("recall_at_10"),
        F.round(F.avg("ndcg"), 6).alias("ndcg_at_10"),
    )


# ------------------------------------------------- item co-occurrence / lift
@register(
    "rec_item_cooccurrence",
    doc="Frequently-bought-together mining by association lift (Agrawal "
    "et al. SIGMOD 1993 support/confidence/lift, the market-basket "
    "classic): top-50 item pairs by lift(x,y) = p(x,y)/(p(x)p(y)) over "
    "per-user interaction baskets, with a min co-count floor (5). Each "
    "user's basket is CAPPED at their top-20 items (interaction-count "
    "rank, item tiebreak) before pairing — the standard bound that "
    "keeps the per-user quadratic term at choose(20,2)=190 pairs at "
    "any scale, so the self-join shuffles user-keyed and never "
    "explodes on a power user. Marginals join back vocab-bounded "
    "(broadcast), totals ride as a 1-row crossJoin, ranking is a "
    "k-bounded TakeOrderedAndProject. Lift is one per-row expression "
    "over exact integer counts — engine-portable without float-sum "
    "tricks. The item-item similarity leg the reference's trainer "
    "lacks (its ALS is user-item only); feeds the same serving shape "
    "as rec_mmr_rerank.",
    tags=("rec", "basket", "scale-path"),
    oracle="""
WITH inter AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY cnt DESC, item ASC) AS rn
    FROM inter) WHERE rn <= 20
),
nu AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM capped),
marg AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM capped GROUP BY item),
pairs AS (
  SELECT a.item AS i1, b.item AS i2, CAST(count(*) AS BIGINT) AS c_xy
  FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
),
scored AS (
  SELECT p.i1, p.i2, p.c_xy,
         round((CAST(p.c_xy AS DOUBLE) * nu.n_users)
               / (CAST(m1.c AS DOUBLE) * m2.c), 6) AS lift
  FROM pairs p
  JOIN marg m1 ON p.i1 = m1.item
  JOIN marg m2 ON p.i2 = m2.item
  CROSS JOIN nu
  WHERE p.c_xy >= 5
),
ranked AS (
  SELECT i1, i2, c_xy, lift,
         row_number() OVER (ORDER BY lift DESC, i1 ASC, i2 ASC) AS rank
  FROM scored
)
SELECT i1, i2, c_xy, lift, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 50 ORDER BY rank
""",
)
def rec_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.from_json("props", "k bigint")["k"].alias("item")
    )
    inter = ev.groupBy("user_id", "item").agg(F.count("*").alias("cnt"))
    capped = top_k_per_group(
        inter, ["user_id"], [F.col("cnt").desc(), F.col("item").asc()], 20
    ).select("user_id", "item")
    nu = capped.agg(F.countDistinct("user_id").cast("double").alias("n_users"))
    marg = capped.groupBy("item").agg(F.count("*").alias("c"))
    a = capped.select("user_id", F.col("item").alias("i1"))
    b = capped.select("user_id", F.col("item").alias("i2"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    lift = (F.col("c_xy").cast("double") * F.col("n_users")) / (
        F.col("c1").cast("double") * F.col("c2")
    )
    scored = (
        pairs.join(F.broadcast(marg.select(F.col("item").alias("i1"), F.col("c").alias("c1"))), "i1")
        .join(F.broadcast(marg.select(F.col("item").alias("i2"), F.col("c").alias("c2"))), "i2")
        .crossJoin(F.broadcast(nu))
        .select("i1", "i2", "c_xy", F.round(lift, 6).alias("lift"))
    )
    return top_k_per_group(
        scored,
        [],
        [F.col("lift").desc(), F.col("i1").asc(), F.col("i2").asc()],
        50,
        rank_col="rank",
        keep_rank=True,
    ).orderBy("rank")
