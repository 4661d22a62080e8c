"""The end-to-end pipeline — the reference's whole dataflow (ingestion →
dedup → enrich → cluster → summarize → recommend → bias) as ONE Spark
driver, replacing the Airflow/Kubeflow DAGs (news_pipeline_dag.py:13-50,
recommendation_retrainer_dag.py:26-52, kube_pipeline.py:5-13).

Lakehouse layout (SURVEY §7.1): bronze (raw as ingested) → silver
(deduped, enriched, clustered) → gold (stories, recommendations,
user_embeddings-equivalent profiles, bias reports), all partitioned
parquet. Each stage is a DataFrame function; this module only sequences
and writes. A hand-off that feeds more than one consumer is an eager
local checkpoint: materialized once, never entered into the session
CacheManager, and freed by the ContextCleaner once unreachable, so a run
leaves no cached plan behind. The hand-offs are:

- the silver articles (cluster, summarize);
- the label centroids, built once from ``embeddings`` (story
  assignment, the flagship's content score);
- the cluster membership and the story rollup (silver and gold writes);
- the interaction table, the one ``events`` scan and parse of the run
  (the flagship's profiles, popularity, freshness and cold-start roster,
  and the bias report's positive (user, item) pairs).

So ``run_pipeline`` scans and parses ``events`` once and builds the
centroids once. ``stage_cluster``, ``stage_recommend`` and ``stage_bias``
stay callable on their own: they build the same inputs from ``sf_dir``
and call the same cores.

At 100 TB: articles partition by ingest date, events by event date,
gold tables by run date; every stage below already keys its shuffles so
dynamic partition overwrite applies. Swap parquet for Delta/Iceberg to
get MERGE instead of overwrite — no logic change (operators/merge.py).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newsify_spark.functions import text as TX
from newsify_spark.ml.infer import embed_text_udf, ner_entities_udf, summarize_udf
from newsify_spark.operators.dedup import exact_dedup
from newsify_spark.operators.similarity import nearest_centroid_assign
from newsify_spark.queries.mlops import bias_report, rec_bias_report
from newsify_spark.queries.recommend import (
    hybrid_recommendations,
    hybrid_topk,
    interactions_with_ts,
)
from newsify_spark.queries.vector import label_centroids
from newsify_spark.tables import load


def stage_ingest(spark: SparkSession, sf_dir: str, embed_dim: int = 64) -> DataFrame:
    """Bronze → silver articles: dedup (S18 batch form), enrich with
    embedding/entities/lang/quality (U1/U2 stubs + text ops). The
    documents fixture stands in for the RSS scrape output (S1-S3)."""
    docs = load(spark, sf_dir, "documents")
    deduped = exact_dedup(
        docs.withColumn("content_hash", F.md5("text")), ["content_hash"], "doc_id"
    )
    embed = embed_text_udf(dim=embed_dim)
    return deduped.select(
        F.col("doc_id").alias("article_id"),
        "text",
        "source",
        "lang",
        embed("text").alias("embedding"),
        ner_entities_udf("text").alias("entities"),
        TX.language_id("text").alias("lang_pred"),
        TX.quality_score("text").alias("quality"),
        F.current_timestamp().alias("ingestion_time"),
    )


def stage_cluster(articles: DataFrame, emb_table: DataFrame) -> tuple[DataFrame, DataFrame]:
    """:func:`cluster_stories` against the label centroids of ``emb_table``."""
    return cluster_stories(articles, label_centroids(emb_table))


def cluster_stories(articles: DataFrame, cents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Silver: assign articles to stories (J4 against the current
    centroids ``cents`` (label, centroid) — here seeded from the
    embeddings fixture labels), roll up story centroid (A2) + entity
    union (A3) + membership arrays (E4).

    The article → story membership is materialized eagerly here (a local
    checkpoint), so the silver write and the story rollup share one
    assignment instead of each re-running the nearest-centroid join. The
    trade is lineage: a lost executor block fails the run rather than
    recomputing, and a rerun is safe because every pipeline write
    overwrites.
    """
    assigned = nearest_centroid_assign(
        articles.select(
            F.col("article_id").alias("point_id"), F.col("embedding").alias("point_vec")
        ),
        cents.select(
            F.col("label").alias("centroid_id"), F.col("centroid").alias("centroid_vec")
        ),
        threshold=0.2,  # fixture-scale τ (reference: 0.8 on real embeddings)
    )
    membership = assigned.select(
        F.col("point_id").alias("article_id"),
        F.when(F.col("matched"), F.col("centroid_id")).alias("story_id"),
        "similarity",
    ).localCheckpoint(eager=True)
    enriched = articles.join(membership, "article_id")
    stories = (
        enriched.filter(F.col("story_id").isNotNull())
        .groupBy("story_id")
        .agg(
            F.sort_array(F.collect_list("article_id")).alias("articles"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("entities")))).alias(
                "entities"
            ),
            F.count("*").alias("n_articles"),
            F.max("ingestion_time").alias("last_updated"),
        )
    )
    return enriched, stories


def stage_summarize(
    stories: DataFrame, articles: DataFrame, existing: DataFrame | None = None
) -> DataFrame:
    """Gold stories: J1 membership join (explode articles array → join
    article text), F2 concat, U3 summarize stub.

    Incremental (P7/T7, summarization-service.py:44-49): when ``existing``
    summaries are supplied, only stories with no summary or with
    last_updated > last_summarized are re-summarized; fresh ones keep
    their summary — change-data recompute without a table format.
    """
    if existing is not None:
        ex = existing.select("story_id", "summary", "last_summarized")
        joined = stories.join(ex, "story_id", "left")
        stale = joined.filter(
            F.col("last_summarized").isNull()
            | (F.col("last_updated") > F.col("last_summarized"))
        ).drop("summary", "last_summarized")
        fresh = joined.filter(
            F.col("last_summarized").isNotNull()
            & (F.col("last_updated") <= F.col("last_summarized"))
        )
        resummed = stage_summarize(stale, articles, existing=None)
        return resummed.unionByName(fresh.select(*resummed.columns))

    member = stories.select(
        "story_id", F.explode("articles").alias("article_id")
    ).join(articles.select("article_id", "text"), "article_id")
    texts = member.groupBy("story_id").agg(
        F.concat_ws(" ", F.collect_list("text")).alias("full_text")
    )
    return (
        stories.join(texts, "story_id")
        .withColumn("summary", summarize_udf("full_text"))
        .drop("full_text")
        .withColumn("last_summarized", F.current_timestamp())
    )


def stage_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold recommendations from ``sf_dir``: :func:`recommendations_gold`
    of the flagship query."""
    return recommendations_gold(hybrid_recommendations(spark, sf_dir))


def recommendations_gold(flat: DataFrame) -> DataFrame:
    """The flagship's rows reshaped to the reference's gold schema
    (user_id, recommendations array<struct>, last_updated —
    recommendation-trainer.py:259-263)."""
    return flat.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("rnk", F.col("story").alias("story_id"), "score"))
        ).alias("recommendations"),
        F.current_timestamp().alias("last_updated"),
    )


def stage_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rec_bias_report(spark, sf_dir)


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, float]:
    """Run every stage, write gold tables, return per-stage seconds."""
    timings: dict[str, float] = {}

    def clock(name: str, df: DataFrame) -> None:
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        timings[name] = round(time.perf_counter() - t0, 3)

    articles = stage_ingest(spark, sf_dir).localCheckpoint(eager=True)
    clock("silver_articles", articles)
    emb = load(spark, sf_dir, "embeddings")
    cents = label_centroids(emb).localCheckpoint(eager=True)
    enriched, stories = cluster_stories(articles, cents)
    clock("silver_article_stories", enriched.drop("embedding", "entities"))
    stories = stories.localCheckpoint(eager=True)
    clock("gold_stories", stage_summarize(stories, articles))
    inter_all = interactions_with_ts(load(spark, sf_dir, "events")).localCheckpoint(
        eager=True
    )
    clock("gold_recommendations", recommendations_gold(hybrid_topk(inter_all, emb, cents)))
    # rating is a sum of event weights, all >= 0 (EVENT_WEIGHTS; pinned by
    # test_event_weights_are_non_negative), so a pair's rating is > 0
    # exactly when one of its events weighs > 0: these are the pairs
    # rec_bias_report's distinct over positively weighted events yields.
    positive = inter_all.filter(F.col("rating") > 0).select("user_id", "item")
    clock("gold_bias_reports", bias_report(positive, load(spark, sf_dir, "documents")))
    return timings


if __name__ == "__main__":
    from newsify_spark.session import get_spark
    from newsify_spark.tables import DEFAULT_SF_DIR

    spark = get_spark("newsify_pipeline")
    out = os.environ.get("NEWSIFY_OUT", "/tmp/newsify_gold")
    print(run_pipeline(spark, os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR), out))
