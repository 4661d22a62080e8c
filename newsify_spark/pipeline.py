"""The end-to-end pipeline — the reference's whole dataflow (ingestion →
dedup → enrich → cluster → summarize → recommend → bias) as ONE Spark
driver, replacing the Airflow/Kubeflow DAGs (news_pipeline_dag.py:13-50,
recommendation_retrainer_dag.py:26-52, kube_pipeline.py:5-13).

Lakehouse layout (SURVEY §7.1): bronze (raw as ingested) → silver
(deduped, enriched, clustered) → gold (stories, recommendations,
user_embeddings-equivalent profiles, bias reports), all partitioned
parquet. Each stage is a DataFrame function; this module only sequences
and writes. A hand-off that feeds more than one consumer (the silver
articles, the cluster membership, the story rollup, the flagship's
interaction table) is an eager local checkpoint: materialized once,
never entered into the session CacheManager, and freed by the
ContextCleaner once unreachable, so a run leaves no cached plan behind.

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
from newsify_spark.queries.recommend import hybrid_recommendations
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
    """Silver: assign articles to stories (J4 against current centroids —
    here seeded from the embeddings fixture labels), roll up story
    centroid (A2) + entity union (A3) + membership arrays (E4).

    The article → story membership is materialized eagerly here (a local
    checkpoint), so the silver write and the story rollup share one
    assignment instead of each re-running the centroid build and the
    nearest-centroid join. The trade is lineage: a lost executor block
    fails the run rather than recomputing, and a rerun is safe because
    every pipeline write overwrites.
    """
    from newsify_spark.operators.cluster import cluster_centroids

    seed_labels = emb_table.select(
        F.col("vec_id").alias("member_id"), F.col("label").alias("cluster")
    )
    seed_cents = cluster_centroids(
        emb_table.select(F.col("vec_id").alias("member_id"), "embedding"),
        seed_labels,
        id_col="member_id",
        vec_col="embedding",
    ).select(
        F.col("cluster").alias("centroid_id"), F.col("centroid").alias("centroid_vec")
    )
    assigned = nearest_centroid_assign(
        articles.select(
            F.col("article_id").alias("point_id"), F.col("embedding").alias("point_vec")
        ),
        seed_cents,
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
    """Gold recommendations: the flagship plan, reshaped to the reference's
    gold schema (user_id, recommendations array<struct>, last_updated —
    recommendation-trainer.py:259-263)."""
    flat = hybrid_recommendations(spark, sf_dir)
    return flat.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("rnk", F.col("story").alias("story_id"), "score"))
        ).alias("recommendations"),
        F.current_timestamp().alias("last_updated"),
    )


def stage_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from newsify_spark.queries.mlops import rec_bias_report

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
    emb_table = load(spark, sf_dir, "embeddings")
    enriched, stories = stage_cluster(articles, emb_table)
    clock("silver_article_stories", enriched.drop("embedding", "entities"))
    stories = stories.localCheckpoint(eager=True)
    clock("gold_stories", stage_summarize(stories, articles))
    clock("gold_recommendations", stage_recommend(spark, sf_dir))
    clock("gold_bias_reports", stage_bias(spark, sf_dir))
    return timings


if __name__ == "__main__":
    from newsify_spark.session import get_spark
    from newsify_spark.tables import DEFAULT_SF_DIR

    spark = get_spark("newsify_pipeline")
    out = os.environ.get("NEWSIFY_OUT", "/tmp/newsify_gold")
    print(run_pipeline(spark, os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR), out))
