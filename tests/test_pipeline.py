"""End-to-end pipeline test (SURVEY §5.4): bronze→silver→gold run over
the sf0.01 fixtures, then assert the invariants mirrored from reference
semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_pipeline_end_to_end(spark, tmp_path):
    from newsify_spark.pipeline import run_pipeline

    out = str(tmp_path / "gold")
    timings = run_pipeline(spark, SF_DIR, out)
    assert set(timings) == {
        "silver_articles",
        "silver_article_stories",
        "gold_stories",
        "gold_recommendations",
        "gold_bias_reports",
    }

    articles = spark.read.parquet(f"{out}/silver_articles")
    memb = spark.read.parquet(f"{out}/silver_article_stories")
    stories = spark.read.parquet(f"{out}/gold_stories")
    recs = spark.read.parquet(f"{out}/gold_recommendations")
    bias = spark.read.parquet(f"{out}/gold_bias_reports")

    # dedup: article ids unique, content hashes unique
    n_articles = articles.count()
    assert articles.select("article_id").distinct().count() == n_articles
    assert articles.select(F.md5("text")).distinct().count() == n_articles

    # every article has <=1 story (reference invariant §5.4)
    assert memb.count() == n_articles
    assert memb.groupBy("article_id").count().filter("count > 1").count() == 0

    # story membership arrays are consistent with the per-article table
    s = stories.select("story_id", F.explode("articles").alias("article_id"))
    joined = s.join(
        memb.select("article_id", F.col("story_id").alias("assigned")), "article_id"
    )
    assert joined.filter(F.col("story_id") != F.col("assigned")).count() == 0

    # rec lists: <=3, sorted by rank, scores descending (O2/W2)
    r = recs.toPandas()
    assert (r.recommendations.str.len() <= 3).all()
    for lst in r.recommendations:
        ranks = [x["rnk"] for x in lst]
        scores = [x["score"] for x in lst]
        assert ranks == sorted(ranks)
        assert all(scores[i] >= scores[i + 1] - 1e-9 for i in range(len(scores) - 1))

    # bias reports: diversity in (0,1], flag consistent with explanation
    b = bias.toPandas()
    assert ((b.diversity > 0) & (b.diversity <= 1)).all()
    assert ((b.explanation != "balanced") == b.bias_flag).all()

    # summaries exist and are <=10 tokens (U3 stub contract)
    st = stories.toPandas()
    assert st.summary.str.split(" ").str.len().le(10).all()
    assert (st.n_articles == st.articles.str.len()).all()


def test_incremental_summarization(spark):
    """T7/P7: a second summarization pass only touches stale stories
    (summarization-service.py:44-49)."""
    from newsify_spark.pipeline import stage_cluster, stage_ingest, stage_summarize
    from newsify_spark.tables import load

    articles = stage_ingest(spark, SF_DIR).cache()
    _, stories = stage_cluster(articles, load(spark, SF_DIR, "embeddings"))
    stories = stories.cache()

    first = stage_summarize(stories, articles).cache()
    n = first.count()

    # mark half the stories as freshly summarized (future timestamp),
    # half as stale (ancient timestamp), and stamp sentinel summaries
    existing = first.select(
        "story_id",
        F.lit("SENTINEL").alias("summary"),
        F.when(
            F.col("story_id") % 2 == 0, F.lit("2999-01-01").cast("timestamp")
        ).otherwise(F.lit("1970-01-01").cast("timestamp")).alias("last_summarized"),
    )
    second = stage_summarize(stories, articles, existing=existing).cache()
    assert second.count() == n
    out = second.select("story_id", "summary").toPandas()
    fresh = out[out.story_id.astype("int64") % 2 == 0]
    stale = out[out.story_id.astype("int64") % 2 == 1]
    assert (fresh.summary == "SENTINEL").all()      # untouched
    assert (stale.summary != "SENTINEL").all()      # re-summarized


def test_pipeline_caches_nothing(spark, tmp_path, monkeypatch):
    """The batch pipeline hands its stages off as eager local checkpoints:
    a full run_pipeline plus the flagship, LSH / SemDeDup and unigram-LM
    queries never call persist or cache and leave the session
    CacheManager empty."""
    from pyspark.sql.classic.dataframe import DataFrame

    from newsify_spark.pipeline import run_pipeline
    from newsify_spark.queries import REGISTRY

    spark.catalog.clearCache()
    calls = []
    for name in ("persist", "cache"):

        def spy(self, *a, _name=name, _orig=getattr(DataFrame, name), **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, spy)

    run_pipeline(spark, SF_DIR, str(tmp_path / "gold"))
    for name in (
        "rec_hybrid_topk",
        "doc_neardup_lsh",
        "ml_ann_lsh_topk",
        "doc_semdedup",
        "doc_unigram_logprob",
    ):
        REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    assert not calls, calls
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# jobs of one warm run_pipeline at sf0.01 (test session, 8 cores, 8
# shuffle partitions): 43 measured, 55 before the recommend and bias
# stages read the interaction and centroid hand-offs
WARM_PIPELINE_JOBS_MAX = 45


def test_pipeline_is_one_dataflow(spark, tmp_path, monkeypatch):
    """A warm run_pipeline loads events and embeddings once, builds the label
    centroids once and stays within its job bound; its recommendation and
    bias gold tables equal the standalone stages' (which rebuild the same
    hand-offs from the fixture directory)."""
    import sys

    from newsify_spark import tables
    from newsify_spark.pipeline import run_pipeline, stage_bias, stage_recommend
    from newsify_spark.queries import vector

    out = str(tmp_path / "gold")
    run_pipeline(spark, SF_DIR, out)  # warm-up: first-run compiles and planning

    loads, builds = [], []
    spies = {
        "load": (tables.load, lambda *a, _f=tables.load, **k: loads.append(a[2]) or _f(*a, **k)),
        "label_centroids": (
            vector.label_centroids,
            lambda *a, _f=vector.label_centroids, **k: builds.append(1) or _f(*a, **k),
        ),
    }
    for mod in [m for n, m in sys.modules.items() if n.startswith("newsify_spark")]:
        for attr, (orig, spy) in spies.items():
            if getattr(mod, attr, None) is orig:
                monkeypatch.setattr(mod, attr, spy)

    sc = spark.sparkContext
    sc.setJobGroup("warm_pipeline", "warm run_pipeline")
    try:
        run_pipeline(spark, SF_DIR, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("warm_pipeline"))

    assert sorted(loads) == ["documents", "documents", "embeddings", "events"], loads
    assert len(builds) == 1, builds
    assert 0 < jobs <= WARM_PIPELINE_JOBS_MAX, jobs

    def rows(df):
        return sorted(map(repr, df.drop("last_updated").collect()))

    gold = lambda name: spark.read.parquet(f"{out}/{name}")  # noqa: E731
    recs = rows(gold("gold_recommendations"))
    assert recs and recs == rows(stage_recommend(spark, SF_DIR))
    bias = rows(gold("gold_bias_reports"))
    assert bias and bias == rows(stage_bias(spark, SF_DIR))
