"""Invariant tests for operators whose queries are rows-only (◆), plus
semantics tests for the merge/dedup/cluster building blocks
(SURVEY.md §5.2-5.4).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ------------------------------------------------------------ LSH ANN recall


def test_lsh_knn_recall_vs_bruteforce(spark):
    from newsify_spark.operators.similarity import knn_join, knn_join_lsh
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))

    exact = knn_join(q, items, k=6).filter("query_id != item_id").toPandas()
    approx = knn_join_lsh(q, items, k=6, dim=dim, n_bands=12, bits_per_band=6).filter(
        "query_id != item_id"
    ).toPandas()

    exact_sets = exact.groupby("query_id")["item_id"].apply(set)
    approx_sets = approx.groupby("query_id")["item_id"].apply(set)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets.index
    ]
    assert sum(recalls) / len(recalls) >= 0.5, f"mean LSH recall too low: {recalls}"
    # scores must still be exact cosine (rerank step)
    merged = approx.merge(exact, on=["query_id", "item_id"], suffixes=("_a", "_e"))
    assert (abs(merged.score_a - merged.score_e) < 1e-9).all()


# --------------------------------------------------------- ALS invariants


def test_als_topk_shape(spark):
    from newsify_spark.queries import REGISTRY

    recs = REGISTRY["ml_als_topk"].fn(spark, SF_DIR).toPandas()
    assert len(recs) > 0
    per_user = recs.groupby("user_id")
    assert (per_user.size() <= 5).all()
    # rnk must follow descending score within each user
    for _, g in per_user:
        g = g.sort_values("rnk")
        assert (g.score.diff().dropna() <= 1e-9).all()


def test_kmeans_covers_all_points(spark):
    from newsify_spark.queries import REGISTRY
    from newsify_spark.tables import load

    labels = REGISTRY["ml_kmeans_clusters"].fn(spark, SF_DIR)
    n_points = load(spark, SF_DIR, "embeddings").count()
    assert labels.count() == n_points
    assert labels.select("cluster").distinct().count() <= 10


# ------------------------------------------------- greedy story assignment


def test_greedy_assignment_reference_semantics(spark):
    """Mirrors map_clusters_to_stories (batch-cluster-service.py:49-69):
    clusters iterate in order; each takes its best unused story > 0.5."""
    from newsify_spark.operators.cluster import greedy_story_assignment

    scores = spark.createDataFrame(
        [
            (0, 100, 0.9),
            (0, 101, 0.8),
            (1, 100, 0.85),  # 100 already taken by cluster 0 -> falls to 101
            (1, 101, 0.7),
            (2, 101, 0.6),  # 101 taken by cluster 1 -> no story left
            (3, 102, 0.4),  # below threshold -> unassigned
        ],
        "cluster int, story int, jaccard double",
    )
    picked = greedy_story_assignment(scores, threshold=0.5)
    assert picked == [
        {"cluster": 0, "story": 100, "jaccard": 0.9},
        {"cluster": 1, "story": 101, "jaccard": 0.7},
    ]


def test_greedy_assignment_on_fixture_is_identity_like(spark):
    """Nearest-centroid assignment vs true labels is nearly identity, so
    greedy matching should map most clusters to their own label."""
    from newsify_spark.queries import REGISTRY

    picked = REGISTRY["ml_greedy_story_assign"].fn(spark, SF_DIR).toPandas()
    assert len(picked) >= 8  # 10 labels; allow a couple of misses
    same = (picked.cluster == picked.story).mean()
    assert same >= 0.8
    assert picked.story.is_unique and picked.cluster.is_unique  # 1:1


# ------------------------------------------------------ cold-start fallback


def test_cold_start_fallback_synthetic(spark, tmp_path):
    """Users whose positive ratings sum below COLD_MIN_RATING get the
    popularity top-k (recommendation-trainer.py:253-256). The fixture has
    no cold users, so synthesize three:

    - 99999: only zero-weight 'error' events (no positive rating at all);
    - 99998: only 'view' events (0 < total < COLD_MIN_RATING);
    - 99997: zero-weight events on some items and purchases on others
      (a warm user, whose zero-rating rows must not make it cold)."""
    import shutil

    from newsify_spark.queries.recommend import hybrid_recommendations

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("events", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    from newsify_spark.tables import load

    ev = load(spark, SF_DIR, "events")

    def synth(user, event_type, offset, n=3, skip=0):
        rows = ev.orderBy("event_id").limit(skip + n).orderBy(F.col("event_id").desc()).limit(n)
        return rows.select(
            (F.col("event_id") + offset).alias("event_id"),
            "ts",
            F.lit(user).cast(ev.schema["user_id"].dataType).alias("user_id"),
            F.lit(event_type).alias("event_type"),
            "value",
            "props",
        )

    extra = (
        synth(99999, "error", 10_000_000)
        .unionByName(synth(99998, "view", 20_000_000))
        .unionByName(synth(99997, "error", 30_000_000))
        .unionByName(synth(99997, "purchase", 40_000_000, skip=3))
    )
    ev.unionByName(extra).write.mode("overwrite").parquet(str(sf / "events.parquet"))

    out = hybrid_recommendations(spark, str(sf)).toPandas()
    by_src = out.groupby(["user_id", "src"]).size()
    assert by_src[(99999, "popular")] == 3
    assert (99999, "hybrid") not in by_src  # no positive rating, no profile
    assert by_src[(99998, "popular")] == 3
    # the view-only user has a (weak) profile, but a cold user gets only
    # the fallback list
    assert (99998, "hybrid") not in by_src
    assert by_src[(99997, "hybrid")] == 3
    assert (99997, "popular") not in by_src
    # every user has one list of 3, ranked 1..3
    ranks = out.groupby("user_id").rnk.apply(sorted)
    assert (ranks.apply(lambda r: r == [1, 2, 3])).all()


# ------------------------------------------------------------- merge ops


def test_merge_semantics(spark):
    from newsify_spark.operators.merge import (
        array_append_distinct,
        bulk_update,
        delete_keys,
        upsert_by_key,
    )

    old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    new = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    up = upsert_by_key(old, new, ["k"]).toPandas().set_index("k").v.to_dict()
    assert up == {1: "a", 2: "B", 3: "C"}

    tgt = spark.createDataFrame([(1, "x"), (2, "y")], "k int, lbl string")
    upd = spark.createDataFrame([(2, "z")], "k int, lbl string")
    bu = bulk_update(tgt, upd, ["k"], ["lbl"]).toPandas().set_index("k").lbl.to_dict()
    assert bu == {1: "x", 2: "z"}

    dk = delete_keys(tgt, spark.createDataFrame([(1,)], "k int"), ["k"]).toPandas()
    assert dk.k.tolist() == [2]

    t = spark.createDataFrame([(1, ["a"]), (2, ["b"])], "k int, arr array<string>")
    adds = spark.createDataFrame([(1, "a"), (1, "c")], "k int, item string")
    aa = array_append_distinct(t, "k", "arr", adds, "item").toPandas().set_index("k")
    assert sorted(aa.loc[1, "arr"]) == ["a", "c"]
    assert list(aa.loc[2, "arr"]) == ["b"]


# --------------------------------------------------------- inference stubs


def test_embed_stub_deterministic(spark):
    from newsify_spark.ml.infer import embed_text_udf

    df = spark.createDataFrame([("hello world",), ("hello world",), ("other",)], "text string")
    emb = embed_text_udf(dim=32)
    out = df.select(emb("text").alias("e")).toPandas()
    assert list(out.e[0]) == list(out.e[1])
    assert list(out.e[0]) != list(out.e[2])
    norm = sum(x * x for x in out.e[0]) ** 0.5
    assert abs(norm - 1.0) < 1e-3


def test_inference_stub_udfs_run(spark):
    from newsify_spark.ml import infer
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents").limit(20)
    out = docs.select(
        infer.ner_entities_udf("text").alias("ents"),
        infer.summarize_udf("text").alias("summ"),
        infer.sentiment_udf("text").alias("sent"),
    ).toPandas()
    assert (out.sent.abs() <= 1).all()
    assert (out.summ.str.split(" ").str.len() <= 10).all()


# ------------------------------------------------------------- multimodal


def test_multimodal_features(spark):
    from newsify_spark.operators.multimodal import (
        attach_binary_payload,
        frame_sample,
        image_features,
    )
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents").limit(50)
    mm = attach_binary_payload(docs)
    feats = image_features(mm).toPandas()
    assert len(feats) == 50
    assert (feats.features.str.len() == 16).all()
    sums = feats.features.map(lambda v: abs(sum(v) - 1.0) < 1e-3)
    assert sums.all()  # L1-normalized histograms
    # determinism
    feats2 = image_features(mm).toPandas().sort_values("doc_id").reset_index(drop=True)
    feats1 = feats.sort_values("doc_id").reset_index(drop=True)
    assert (feats1.features.map(tuple) == feats2.features.map(tuple)).all()

    frames = frame_sample(mm, every_n_bytes=64).toPandas()
    got = frames.groupby("doc_id").size()
    want = feats1.set_index("doc_id").byte_len.map(lambda n: (n + 63) // 64)
    assert (got == want[got.index]).all()


# ------------------------------------------------------------ approx & asof


def test_approx_distinct_error_bound(spark):
    from newsify_spark.queries import REGISTRY

    out = REGISTRY["ml_approx_distinct"].fn(spark, SF_DIR).toPandas()
    rel_err = (out.approx_users - out.exact_users).abs() / out.exact_users
    assert (rel_err < 0.1).all(), rel_err


def test_asof_join_edges(spark):
    from newsify_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 5, "l0"), (2, 7, "l2"), (3, 1, "l3")],
        "k int, t int, who string",
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 9, 200.0), (2, 8, 300.0)], "k int, t int, payload double"
    )
    out = (
        asof_join(
            left.withColumnRenamed("t", "lt"),
            right.withColumnRenamed("t", "rt"),
            on="k", left_time="lt", right_time="rt", payload_cols=["rt", "payload"],
        )
        .toPandas()
        .set_index("who")
    )
    assert out.loc["l1", "payload"] == 200.0   # latest prior
    assert out.loc["l0", "payload"] == 100.0   # inclusive: equal ts matches
    assert pd.isna(out.loc["l2", "payload"])   # right row is in the future
    assert pd.isna(out.loc["l3", "payload"])   # key with no right rows

    strict = (
        asof_join(
            left.withColumnRenamed("t", "lt"),
            right.withColumnRenamed("t", "rt"),
            on="k", left_time="lt", right_time="rt",
            payload_cols=["rt", "payload"], inclusive=False,
        )
        .toPandas()
        .set_index("who")
    )
    assert pd.isna(strict.loc["l0", "payload"])  # strict: equal ts excluded


# ------------------------------------------------- drift gate & persistence


def test_drift_gate_and_model_persistence(spark, tmp_path):
    from newsify_spark.ml.als import (
        compute_drift,
        load_als_model,
        retrain_if_drifted,
        save_als_model,
    )
    from newsify_spark.queries.recommend import interactions
    from newsify_spark.tables import load

    ev = load(spark, SF_DIR, "events")
    inter = interactions(ev)

    drift = compute_drift(ev)
    assert 0.0 <= drift < 10.0

    # gate closed: threshold above observed drift -> no retrain
    d, recs = retrain_if_drifted(inter, ev, str(tmp_path / "m1"), drift_threshold=drift + 1)
    assert recs is None and abs(d - drift) < 1e-12
    # gate open: threshold below -> retrain happens
    d, recs = retrain_if_drifted(inter, ev, str(tmp_path / "m2"), drift_threshold=-1.0, k=3)
    assert recs is not None and recs.count() > 0

    # S15: save/load roundtrip preserves factors
    mdir = str(tmp_path / "als_model")
    model = save_als_model(inter, mdir)
    loaded = load_als_model(mdir)
    assert loaded.rank == model.rank
    a = model.userFactors.orderBy("id").limit(3).collect()
    b = loaded.userFactors.orderBy("id").limit(3).collect()
    assert [r["features"] for r in a] == [r["features"] for r in b]


def test_ivf_knn_recall_vs_bruteforce(spark):
    from newsify_spark.operators.similarity import knn_join, knn_join_ivf
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    exact = knn_join(q, items, k=6).filter("query_id != item_id").toPandas()
    approx = knn_join_ivf(q, items, k=6, n_cells=8, n_probe=4).filter(
        "query_id != item_id"
    ).toPandas()
    es = exact.groupby("query_id")["item_id"].apply(set)
    as_ = approx.groupby("query_id")["item_id"].apply(set)
    recalls = [len(es[i] & as_.get(i, set())) / len(es[i]) for i in es.index]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_salted_join_matches_plain_join(spark):
    from newsify_spark.operators.similarity import salted_join
    from newsify_spark.tables import load

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id")
    dim = load(spark, SF_DIR, "events").groupBy("user_id").count()
    plain = ev.join(dim, "user_id").agg(F.count("*"), F.sum("count")).first()
    salted = salted_join(ev, dim, "user_id").agg(F.count("*"), F.sum("count")).first()
    assert plain == salted


def test_matmul_knn_equals_expression_knn(spark):
    from newsify_spark.operators.similarity import knn_join, knn_join_matmul
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    a = knn_join(q, items, k=5).toPandas().sort_values(["query_id", "item_id"]).reset_index(drop=True)
    b = knn_join_matmul(q, items, k=5).toPandas().sort_values(["query_id", "item_id"]).reset_index(drop=True)
    assert (a.query_id == b.query_id).all() and (a.item_id == b.item_id).all()
    assert (abs(a.score - b.score) < 1e-9).all()


def test_centroid_assign_matmul_equals_expression(spark):
    """BLAS nearest-centroid assignment (round 3) must match the
    expression form exactly: same argmax label per point (incl. the
    centroid_id-asc tie-break) and similarity within float tolerance."""
    from newsify_spark.operators.similarity import (
        nearest_centroid_assign,
        nearest_centroid_assign_matmul,
    )
    from newsify_spark.queries.vector import label_centroids
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    cents = label_centroids(emb).select(
        F.col("label").alias("centroid_id"), F.col("centroid").alias("centroid_vec")
    )
    pts = emb.select(F.col("vec_id").alias("point_id"), F.col("embedding").alias("point_vec"))
    a = (
        nearest_centroid_assign(pts, cents, threshold=0.8)
        .toPandas().sort_values("point_id").reset_index(drop=True)
    )
    b = (
        nearest_centroid_assign_matmul(pts, cents, threshold=0.8)
        .toPandas().sort_values("point_id").reset_index(drop=True)
    )
    assert (a.point_id == b.point_id).all()
    assert (a.centroid_id == b.centroid_id).all()
    assert (abs(a.similarity - b.similarity) < 1e-9).all()
    assert (a.matched == b.matched).all()


def test_minhash_impls_identical(spark):
    from newsify_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_pandas,
    )
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents").limit(100)
    a = minhash_signatures(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = minhash_signatures_pandas(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_minhash_projection_edge_texts(spark):
    """The row-local signature projection equals the pandas form on the
    texts where shingling degenerates: empty, null, one token, fewer
    tokens than ``shingle_n``, exactly ``shingle_n``, doubled spaces and
    repeated shingles — one signature row per doc in every case."""
    from newsify_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_pandas,
    )

    texts = [
        "",
        None,
        "word",
        "two Words",
        "exactly three words",
        "a  b  c",
        "la la la la la la",
        " leading and trailing spaces ",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for n in (1, 3):
        a = minhash_signatures(docs, shingle_n=n).toPandas().sort_values("doc_id").reset_index(drop=True)
        b = minhash_signatures_pandas(docs, shingle_n=n).toPandas().sort_values("doc_id").reset_index(drop=True)
        assert len(a) == len(texts)
        assert a.equals(b), (n, a, b)


def test_knn_auto_strategy_selection(spark, monkeypatch):
    from newsify_spark.operators import similarity
    from newsify_spark.operators.similarity import knn_auto
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    # small: expression path — exact
    small = knn_auto(q, items, k=3).toPandas()
    assert len(small) == 15
    # force the matmul path with a tiny pair budget — still exact
    monkeypatch.setattr(similarity, "KNN_EXACT_PAIRS_MAX", 2600)
    mm = knn_auto(q, items, k=3).toPandas()
    a = small.sort_values(["query_id", "item_id"]).reset_index(drop=True)
    b = mm.sort_values(["query_id", "item_id"]).reset_index(drop=True)
    assert (a.item_id == b.item_id).all()
    # force the LSH path — approximate but runs
    monkeypatch.setattr(similarity, "KNN_EXACT_PAIRS_MAX", 10)
    lsh = knn_auto(q, items, k=3, dim=64).toPandas()
    assert (lsh.groupby("query_id").size() <= 3).all()


def test_winnow_impls_identical(spark):
    from newsify_spark.functions.text import winnow_fingerprints
    from newsify_spark.operators.dedup import winnow_fingerprints_pandas
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 6)
    expr = (
        docs.select("doc_id", F.explode(winnow_fingerprints("text", 8, 4)).alias("fp"))
        .distinct().toPandas().sort_values(["doc_id", "fp"]).reset_index(drop=True)
    )
    arrow = (
        winnow_fingerprints_pandas(docs, k=8, w=4).distinct()
        .toPandas().sort_values(["doc_id", "fp"]).reset_index(drop=True)
    )
    assert expr.astype("int64").equals(arrow.astype("int64"))


# ------------------------------------------------ neardup_auto route parity


def test_neardup_auto_routes_and_lsh_parity(spark):
    """VERDICT item #3: the LSH route must return the same near-dup pairs
    as the all-pairs route on the fixture when forced (allpairs_rows_max=0)."""
    from newsify_spark.operators.dedup import embedding_near_dup, neardup_auto
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])

    exact = (
        embedding_near_dup(emb, threshold=0.4)
        .select("id_a", "id_b")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    lsh = (
        neardup_auto(
            emb,
            threshold=0.4,
            dim=dim,
            allpairs_rows_max=0,  # force the LSH route
            n_bands=40,
            bits_per_band=4,
        )
        .select("id_a", "id_b")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    # LSH + exact-verify can only miss candidates, never invent pairs;
    # with these band params on the fixture it must find all of them
    assert len(exact) > 0
    pd.testing.assert_frame_equal(exact, lsh)


def test_neardup_auto_small_takes_allpairs(spark):
    from newsify_spark.operators import dedup
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings").limit(50)
    out = dedup.neardup_auto(emb, threshold=-1.0, allpairs_rows_max=1_000)
    # all-pairs at threshold -1: C(50,2) rows — proves the exact route ran
    assert out.count() == 50 * 49 // 2


# --------------------------------------------- matmul cap / salted / asof


def test_knn_matmul_query_cap_raises(spark):
    from newsify_spark.operators.similarity import knn_join_matmul
    from newsify_spark.tables import load

    import pytest as _pytest

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    with _pytest.raises(ValueError, match="max_queries"):
        knn_join_matmul(q, items, k=3, max_queries=10).count()


def test_knn_auto_reroutes_oversized_query_side(spark, monkeypatch):
    """knn_auto must never hand an over-cap query side to the matmul
    collect — it takes the LSH path instead."""
    from newsify_spark.operators import similarity
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    dim = len(emb.select("embedding").first()[0])
    # forbid the broadcast-expression path
    monkeypatch.setattr(similarity, "KNN_BROADCAST_ROWS_MAX", 0)
    out = similarity.knn_auto(
        q, items, k=3, dim=dim,
        max_queries=10,         # query side (500) exceeds the closure cap
    )
    # LSH path ran and produced ranked rows without raising
    assert out.count() > 0


def test_salted_join_rejects_outer_modes(spark):
    import pytest as _pytest

    from newsify_spark.operators.similarity import salted_join
    from newsify_spark.tables import load

    nat = load(spark, SF_DIR, "nation")
    cust = load(spark, SF_DIR, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(cust, nat, "n_nationkey", how="full_outer")
    inner = salted_join(cust, nat, "n_nationkey", how="inner")
    plain = cust.join(nat, "n_nationkey")
    assert inner.count() == plain.count()


def test_asof_join_null_payload_attaches_whole_row(spark):
    """ADVICE round-1: a right row carrying NULL in one payload column
    must attach AS A ROW (NULL included) — not mix columns from an
    earlier right row."""
    from newsify_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 10), ("k", 30)], "k string, t int"
    )
    right = spark.createDataFrame(
        [("k", 5, 1.0, "old"), ("k", 20, None, "new")],
        "k string, t int, price double, tag string",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="t",
                    payload_cols=["price", "tag"]).toPandas().set_index("t")
    # t=10 sees the t=5 row whole
    assert out.loc[10, "tag"] == "old" and out.loc[10, "price"] == 1.0
    # t=30 sees the t=20 row WHOLE: tag=new AND price=NULL (not 1.0)
    assert out.loc[30, "tag"] == "new"
    assert pd.isna(out.loc[30, "price"])


def test_rhp_signatures_pandas_matches_expression(spark):
    """The Arrow signature pass must be bit-identical to the expression
    form over the same hyperplanes."""
    from newsify_spark.operators.similarity import (
        _hyperplanes,
        rhp_signature,
        rhp_signatures_pandas,
    )
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 100)
    dim = len(emb.select("embedding").first()[0])
    n_bands, bits, seed = 3, 7, 11

    arrow = (
        rhp_signatures_pandas(
            emb.select("vec_id", "embedding"), "vec_id", "embedding",
            dim, n_bands, bits, seed,
        )
        .select("vec_id", "band", "sig")
        .toPandas()
        .sort_values(["vec_id", "band"])
        .reset_index(drop=True)
    )
    parts = []
    for b in range(n_bands):
        planes = _hyperplanes(dim, bits, seed + 1000 * b)
        parts.append(
            emb.select(
                "vec_id",
                F.lit(b).alias("band"),
                rhp_signature(F.col("embedding"), planes).alias("sig"),
            ).toPandas()
        )
    expr = (
        pd.concat(parts).sort_values(["vec_id", "band"]).reset_index(drop=True)
    )
    assert (arrow.vec_id == expr.vec_id).all()
    assert (arrow.band == expr.band).all()
    assert (arrow.sig == expr.sig).all()


# ------------------------------------------- partitioned upsert / umap path


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """VERDICT round-1 item #6: dynamic partition overwrite must leave
    untouched partitions' files byte-identical (same names, same mtimes)
    and rewrite only the partitions present in the update."""
    import os

    from newsify_spark.operators.merge import upsert_partitioned

    path = str(tmp_path / "recs")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d")],
        "k int, day string, v string",
    )
    base.write.partitionBy("day").parquet(path)

    def listing(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = {d: listing(d) for d in ("d1", "d2", "d3")}
    new = spark.createDataFrame(
        [(3, "d2", "C2"), (9, "d2", "new")], "k int, day string, v string"
    )
    upsert_partitioned(spark, path, new, keys=["k"], partition_col="day")
    after = {d: listing(d) for d in ("d1", "d2", "d3")}

    assert after["d1"] == before["d1"], "untouched partition d1 was rewritten"
    assert after["d3"] == before["d3"], "untouched partition d3 was rewritten"
    assert after["d2"] != before["d2"], "touched partition d2 not rewritten"

    got = spark.read.parquet(path).toPandas().sort_values("k").reset_index(drop=True)
    assert got.k.tolist() == [1, 2, 3, 4, 9]
    assert got.set_index("k").v.to_dict() == {1: "a", 2: "b", 3: "C2", 4: "d", 9: "new"}


def test_upsert_partitioned_key_moves_partition(spark, tmp_path):
    """A key whose new row lands in a DIFFERENT partition must not leave
    a stale duplicate behind; a partition emptied by the move is removed
    entirely."""
    import os

    from newsify_spark.operators.merge import upsert_partitioned

    path = str(tmp_path / "recs")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b"), (3, "d3", "c")],
        "k int, day string, v string",
    )
    base.write.partitionBy("day").parquet(path)

    # k=1 moves d1 -> d2 (d1 becomes empty); k=3 updates in place
    new = spark.createDataFrame(
        [(1, "d2", "A2"), (3, "d3", "C2")], "k int, day string, v string"
    )
    upsert_partitioned(spark, path, new, keys=["k"], partition_col="day")

    got = spark.read.parquet(path).toPandas().sort_values("k").reset_index(drop=True)
    assert got.k.tolist() == [1, 2, 3], f"duplicate/stale rows: {got}"
    assert got.set_index("k").v.to_dict() == {1: "A2", 2: "b", 3: "C2"}
    assert got.set_index("k").day.to_dict() == {1: "d2", 2: "d2", 3: "d3"}
    assert not os.path.exists(os.path.join(path, "day=d1")), "emptied partition not removed"


def test_umap_hdbscan_flag_path(spark):
    """The fidelity path must exist and either run (libs present) or
    raise the documented ImportError (libs absent) — both directions."""
    import importlib.util

    from newsify_spark.operators.cluster import umap_hdbscan_refine
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings").limit(60)
    have = all(
        importlib.util.find_spec(m) is not None for m in ("umap", "hdbscan")
    )
    if have:
        out = umap_hdbscan_refine(emb).toPandas()
        assert len(out) == 60
        assert set(out.columns) == {"vec_id", "cluster"}
    else:
        import pytest as _pytest

        with _pytest.raises(ImportError, match="kmeans_refine"):
            umap_hdbscan_refine(emb)


def test_multimodal_resize_and_audio(spark):
    from newsify_spark.operators.multimodal import (
        attach_binary_payload,
        audio_features,
        resize_images,
    )
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents").limit(30)
    mm = attach_binary_payload(docs)

    rz = resize_images(mm, width=8, height=8).toPandas()
    assert len(rz) == 30
    assert (rz.pixels.map(len) == 64).all()
    assert (rz.width == 8).all() and (rz.height == 8).all()
    # deterministic: same payload -> same pixels
    rz2 = resize_images(mm, width=8, height=8).toPandas()
    a = rz.sort_values("doc_id").reset_index(drop=True)
    b = rz2.sort_values("doc_id").reset_index(drop=True)
    assert a.pixels.map(list).equals(b.pixels.map(list))

    au = audio_features(mm, frame_len=64, hop=32).toPandas()
    assert au.doc_id.nunique() == 30
    assert (au.rms >= 0).all()
    assert ((au.zcr >= 0) & (au.zcr <= 1)).all()
    # frames per doc ~ (len - frame)/hop + 1, always >= 1
    assert (au.groupby("doc_id").frame_no.max() >= 0).all()


def test_audio_features_tiny_and_empty_payloads(spark):
    """Edge contracts: a 1-byte payload gives one frame with zcr == 0.0
    (no sign transitions measurable); an empty payload yields no frames."""
    from newsify_spark.operators.multimodal import audio_features

    mm = spark.createDataFrame(
        [(1, bytearray(b"\x05")), (2, bytearray(b""))],
        "doc_id bigint, payload binary",
    )
    au = audio_features(mm, frame_len=64, hop=32).toPandas()
    assert au.doc_id.tolist() == [1]
    assert au.zcr.tolist() == [0.0]
    assert not au.isna().any().any()


def test_redact_pii_patterns(spark):
    from newsify_spark.functions import text as TX

    rows = [
        ("reach me at jo.doe+x@mail-host.co.uk today", "<EMAIL>"),
        ("server 192.168.0.7 rebooted", "<IP>"),
        ("ssn 123-45-6789 on file", "<SSN>"),
        ("call 415-555-0123 now", "<PHONE>"),
        ("card 4111111111111111 declined", "<CARD>"),
        # negatives: short digit runs, version numbers, bare @, decimals
        ("pi is 3.14 and v1.2.3 shipped", None),
        ("ping a@b or 12-34", None),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["t"])
    out = [r[0] for r in df.select(TX.redact_pii("t")).collect()]
    for (orig, marker), red in zip(rows, out):
        if marker is None:
            assert red == orig, f"false positive: {orig!r} -> {red!r}"
        else:
            assert marker in red and red != orig, f"missed: {orig!r} -> {red!r}"

    # progressive counts: once the email is redacted, digits inside it
    # are gone, so each pattern's count equals its replacement count
    df2 = spark.createDataFrame(
        [("mail jo@ops.example.io then ping 10.1.2.4 and 10.1.2.5",)], ["t"]
    )
    counts = dict(
        zip(
            [n for n, _, _ in TX.PII_PATTERNS],
            df2.select(*[c.alias(n) for n, c in TX.pii_counts("t")]).first(),
        )
    )
    assert counts["email"] == 1
    assert counts["ipv4"] == 2
    assert counts["ssn"] == counts["phone"] == counts["card"] == 0


# ------------------------------------------------- connected components


def test_connected_components_transitive_chain(spark):
    """A-B, B-C, C-D must collapse to one component even though A and D
    never share an edge (the greedy first-match loop gets this only in
    arrival order); disjoint pairs and singletons keep their own min."""
    from newsify_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], ["node"])
    edges = spark.createDataFrame(
        [(3, 4), (1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["comp"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_no_edges(spark):
    from newsify_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(7,), (8,)], ["node"])
    edges = spark.createDataFrame([], "id_a long, id_b long")
    got = {r["node"]: r["comp"] for r in connected_components(nodes, edges).collect()}
    assert got == {7: 7, 8: 8}


def test_incremental_dedup_drops_known_and_keeps_novel(spark):
    """A new batch deduped against a signature store must drop exact and
    near copies of corpus docs but keep novel text — without ever
    touching corpus text."""
    from newsify_spark.operators.dedup import incremental_dedup, minhash_signatures

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today"),
         (2, "completely different corpus text about spark physical plans and shuffles")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(11, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup
         (12, "the quick brown fox jumps over the lazy dog again and again tomorrow"),  # near dup
         (13, "an entirely novel document mentioning neither foxes nor physical plans whatsoever here")],
        "doc_id bigint, text string",
    )
    store = minhash_signatures(corpus)
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup(batch, store, est_threshold=0.5).collect()
    )
    assert 11 not in kept          # exact copy: estimate 1.0
    assert 13 in kept              # novel text survives
    # with the default threshold the one-word change IS caught too
    assert kept == [13]


def test_pq_knn_recall_and_exact_scores(spark):
    """PQ kNN must (a) recall a solid fraction of the exact top-k via the
    code-table scan + rerank, (b) return EXACT cosine scores for what it
    does return, and (c) stay deterministic (fixed training seed)."""
    from newsify_spark.operators.similarity import knn_join, knn_join_pq, pq_encode, pq_train
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))

    books = pq_train(items, m=16, k=32)
    exact = knn_join(q, items, k=6).filter("query_id != item_id").toPandas()
    approx = (
        knn_join_pq(q, items, k=6, codebooks=books, rerank_factor=4)
        .filter("query_id != item_id")
        .toPandas()
    )
    exact_sets = exact.groupby("query_id")["item_id"].apply(set)
    approx_sets = approx.groupby("query_id")["item_id"].apply(set)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets.index
    ]
    assert sum(recalls) / len(recalls) >= 0.5, f"mean PQ recall too low: {recalls}"
    merged = approx.merge(exact, on=["query_id", "item_id"], suffixes=("_a", "_e"))
    assert (abs(merged.score_a - merged.score_e) < 1e-9).all()

    # production shape: pre-encoded code table reused across queries
    enc = pq_encode(items, books)
    assert dict(enc.dtypes)["codes"] == "array<int>"
    approx2 = (
        knn_join_pq(q, items, k=6, codebooks=books, rerank_factor=4, encoded_items=enc)
        .filter("query_id != item_id")
        .toPandas()
        .sort_values(["query_id", "item_id"])
        .reset_index(drop=True)
    )
    a1 = approx.sort_values(["query_id", "item_id"]).reset_index(drop=True)
    assert a1.equals(approx2)


def test_ivfpq_knn_recall_exact_scores_and_full_probe(spark):
    """IVF-PQ composed index: (a) recall floor vs exact kNN at modest
    n_probe, (b) EXACT cosine scores for what it returns, (c) with
    n_probe == n_cells the cell gate is a no-op so the result equals
    plain PQ at the same rerank budget."""
    from newsify_spark.operators.similarity import (
        knn_join,
        knn_join_ivfpq,
        knn_join_pq,
        pq_train,
    )
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    books = pq_train(items, m=16, k=32)

    exact = knn_join(q, items, k=6).filter("query_id != item_id").toPandas()
    approx = (
        knn_join_ivfpq(q, items, k=6, codebooks=books, n_cells=8, n_probe=3, rerank_factor=4)
        .filter("query_id != item_id")
        .toPandas()
    )
    es = exact.groupby("query_id")["item_id"].apply(set)
    as_ = approx.groupby("query_id")["item_id"].apply(set)
    recalls = [len(es[i] & as_.get(i, set())) / len(es[i]) for i in es.index]
    assert sum(recalls) / len(recalls) >= 0.4, f"mean IVF-PQ recall too low: {recalls}"
    merged = approx.merge(exact, on=["query_id", "item_id"], suffixes=("_a", "_e"))
    assert (abs(merged.score_a - merged.score_e) < 1e-9).all()

    full = (
        knn_join_ivfpq(q, items, k=6, codebooks=books, n_cells=8, n_probe=8, rerank_factor=4)
        .filter("query_id != item_id")
        .toPandas().sort_values(["query_id", "item_id"]).reset_index(drop=True)
    )
    pq = (
        knn_join_pq(q, items, k=6, codebooks=books, rerank_factor=4)
        .filter("query_id != item_id")
        .toPandas().sort_values(["query_id", "item_id"]).reset_index(drop=True)
    )
    assert full.equals(pq)


def test_ivfpq_query_chunking_bounds_closure(spark, monkeypatch):
    """ADC_QUERY_CHUNK splits the ADC scan into per-chunk passes so the
    distance-table closure stays |chunk| x m x kk (VERDICT r6 #4 — at
    the 100k cap a single closure was ~3.3 GB per task) WITHOUT
    changing results: chunk-of-3 == single-chunk, and the pass count is
    ceil(|Q| / ADC_QUERY_CHUNK), none for an empty query side. Both PQ
    routes run the chunked scan."""
    import newsify_spark.operators.similarity as S
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    books = S.pq_train(items, m=16, k=32)

    calls: list[int] = []
    real = S._ivfpq_scan_chunk

    def counting(spark_, enc, Q, qids, *a, **kw):
        calls.append(len(Q))
        return real(spark_, enc, Q, qids, *a, **kw)

    monkeypatch.setattr(S, "_ivfpq_scan_chunk", counting)
    routes = [
        (S.knn_join_ivfpq, dict(k=6, codebooks=books, n_cells=8, n_probe=3, rerank_factor=4)),
        (S.knn_join_pq, dict(k=6, codebooks=books, rerank_factor=4)),
    ]
    for route, kw in routes:
        calls.clear()
        monkeypatch.setattr(S, "ADC_QUERY_CHUNK", 10_000)
        one = (
            route(q, items, **kw)
            .toPandas().sort_values(["query_id", "item_id"]).reset_index(drop=True)
        )
        assert calls == [10], route.__name__  # one pass holds all 10 queries
        calls.clear()
        monkeypatch.setattr(S, "ADC_QUERY_CHUNK", 3)
        chunked = (
            route(q, items, **kw)
            .toPandas().sort_values(["query_id", "item_id"]).reset_index(drop=True)
        )
        assert calls == [3, 3, 3, 1], route.__name__  # ceil(10/3) bounded passes
        assert one.equals(chunked), route.__name__
        calls.clear()
        assert route(q.limit(0), items, **kw).count() == 0, route.__name__
        assert calls == [], route.__name__  # an empty query side scans nothing


def test_semantic_dedup_ivf_assignment_never_drops_points(spark, monkeypatch):
    """If the IVF coarse-probe returns NO assignment for some points
    (possible when probed cells hold zero centroids — empty/skewed
    cells), semantic_dedup must exact-argmax the unassigned remainder
    instead of silently dropping rows (ADVICE r6): output must equal the
    exact route even when the IVF stage loses half the points."""
    import newsify_spark.operators.similarity as S
    from newsify_spark.operators.dedup import semantic_dedup

    emb, cents = _semdedup_fixture(spark)
    exact = sorted(map(tuple, semantic_dedup(
        emb, cents, threshold=0.95, assign_route="exact", max_cluster=None
    ).collect()))

    real = S.knn_join_ivf

    def lossy(pts, cents_, **kw):
        out = real(pts, cents_, **kw)
        return out.filter(F.col(kw.get("query_id", "query_id")) % 2 == 0)

    monkeypatch.setattr(S, "knn_join_ivf", lossy)
    ivf = sorted(map(tuple, semantic_dedup(
        emb, cents, threshold=0.95, assign_route="ivf",
        assign_cells=2, assign_probe=2, max_cluster=None,
    ).collect()))
    assert ivf == exact  # odd-id points recovered by the exact fallback


def test_sketch_rollup_merge_equals_direct(spark):
    """HLL sketch union must be lossless under regrouping: month-level
    estimate from unioned daily sketches == estimate of one direct
    month-level sketch, and within 5% of the exact distinct count."""
    from newsify_spark.queries import REGISTRY
    from newsify_spark.tables import load

    merged = (
        REGISTRY["rel_sketch_rollup"].fn(spark, SF_DIR)
        .toPandas().set_index("month")
    )
    ev = load(spark, SF_DIR, "events").select(
        F.date_format("ts", "yyyy-MM").alias("month"), "user_id"
    )
    direct = (
        ev.groupBy("month")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"))
        .toPandas().set_index("month")
    )
    exact = (
        ev.groupBy("month")
        .agg(F.countDistinct("user_id").alias("exact"))
        .toPandas().set_index("month")
    )
    assert len(merged) > 0
    for m in merged.index:
        assert merged.loc[m, "approx_users"] == direct.loc[m, "approx_users"], m
        rel_err = abs(merged.loc[m, "approx_users"] - exact.loc[m, "exact"]) / max(exact.loc[m, "exact"], 1)
        assert rel_err < 0.05, (m, rel_err)


# ------------------------------------------- adversarial skew (VERDICT r3 #3)


def _skew_corpora(spark, n=2000, hot_frac=0.4, seed=7):
    """Two equal-size corpora: uniform (all-distinct texts) and skewed
    (hot_frac of docs share ONE boilerplate text -> one mega LSH bucket
    in every band — the classic boilerplate skew source)."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(5000)]

    def fresh_text():
        return " ".join(rng.choice(vocab) for _ in range(20))

    uniform = [(i, fresh_text()) for i in range(n)]
    boiler = "subscribe to our newsletter terms of service all rights reserved " * 3
    n_hot = int(n * hot_frac)
    skewed = [(i, boiler) for i in range(n_hot)] + [
        (i, fresh_text()) for i in range(n_hot, n)
    ]
    schema = "doc_id bigint, text string"
    return (
        spark.createDataFrame(uniform, schema),
        spark.createDataFrame(skewed, schema),
        n_hot,
    )


def test_lsh_hot_bucket_guard_drops_mega_bucket(spark):
    """max_bucket must drop the boilerplate mega-bucket entirely: without
    the cap the hot bucket alone contributes C(n_hot, 2) candidate pairs;
    with it, candidates come only from the distinct tail (~none)."""
    from newsify_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    _, skewed, n_hot = _skew_corpora(spark, n=600, hot_frac=0.5)
    sigs = minhash_signatures(skewed).persist()
    uncapped = lsh_candidate_pairs(sigs, max_bucket=10**9).count()
    capped = lsh_candidate_pairs(sigs, max_bucket=100).count()
    sigs.unpersist()
    assert uncapped >= n_hot * (n_hot - 1) // 2  # mega-bucket really exists
    assert capped < 50  # guard removed it; only the distinct tail remains


def test_lsh_skewed_within_2x_of_uniform(spark):
    """Timed skew entry (VERDICT r3 item #3): with the bucket cap, the
    full signature->candidate pass on an adversarially skewed corpus must
    cost within ~2x of the uniform corpus of identical size."""
    import time

    from newsify_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    uniform, skewed, _ = _skew_corpora(spark, n=2000, hot_frac=0.4)

    def run(df):
        t0 = time.perf_counter()
        lsh_candidate_pairs(minhash_signatures(df), max_bucket=100).count()
        return time.perf_counter() - t0

    run(uniform)  # warm-up: JVM/codegen, not measured
    # min-of-2 per side: robust to transient CPU contention from
    # concurrently running suites (a single sample flaked under load)
    t_uniform = min(run(uniform), run(uniform))
    t_skew = min(run(skewed), run(skewed))
    # +2s absolute slack absorbs scheduler jitter at this tiny scale
    assert t_skew <= 2.0 * t_uniform + 2.0, (t_skew, t_uniform)


def test_salted_join_heavy_hitter_user(spark):
    """Heavy-hitter fixture: one user owns half the fact rows. salted_join
    must agree with the plain join bit-for-bit — the salt only re-shapes
    the shuffle, never the result."""
    from newsify_spark.operators.similarity import salted_join

    n = 20_000
    ev = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 97).alias("user_id"),
        (F.col("id") % 13).alias("amount"),
    )
    dim = spark.range(97).select(
        F.col("id").alias("user_id"), F.concat(F.lit("u"), F.col("id")).alias("name")
    )
    plain = (
        ev.join(dim, "user_id")
        .groupBy("user_id", "name")
        .agg(F.count("*").alias("n"), F.sum("amount").alias("s"))
    )
    salted = (
        salted_join(ev, dim, "user_id", n_salts=8)
        .groupBy("user_id", "name")
        .agg(F.count("*").alias("n"), F.sum("amount").alias("s"))
    )
    got = sorted(map(tuple, salted.collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want
    # the hot key really is hot: user 0 holds half the rows
    hot = dict((r[0], r[2]) for r in want)[0]
    assert hot >= n // 2


def test_neardup_lsh_bench_route_precision_and_recall(spark):
    """The rows-only bench entry doc_neardup_lsh (production band params,
    forced LSH) must have precision 1.0 vs the exact route (LSH + exact
    verify can never invent a pair) and a nonzero recall floor at τ=0.4
    on the fixture — deterministic for the fixed hyperplane seed."""
    from newsify_spark.queries import REGISTRY

    lsh = {
        (r.id_a, r.id_b)
        for r in REGISTRY["doc_neardup_lsh"].fn(spark, SF_DIR).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in REGISTRY["doc_neardup_auto"].fn(spark, SF_DIR).collect()
    }
    assert lsh <= exact, "LSH route invented pairs absent from exact route"
    assert len(exact) > 0
    recall = len(lsh) / len(exact)
    assert recall >= 0.15, f"recall collapsed: {recall:.3f} ({len(lsh)}/{len(exact)})"


def test_embedding_lsh_mega_bucket_guard(spark, monkeypatch):
    """A block of identical vectors (every band -> one mega bucket) must
    be dropped by max_bucket, not exploded into a quadratic candidate
    join — identical vectors belong to the exact-dedup layer upstream.
    Both shapes: the near-dup self-join and the two-sided kNN join, whose
    item side is capped at RHP_MAX_BUCKET."""
    from newsify_spark.operators import similarity
    from newsify_spark.operators.dedup import embedding_near_dup_lsh

    n_dup, n_tail = 120, 40
    emb = spark.range(n_dup + n_tail).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") < n_dup,
            F.array(*[F.lit(float(j)) for j in range(1, 9)]),
        )
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.lit(8)), lambda j: F.cos(j * F.col("id"))
            )
        )
        .alias("embedding"),
    )
    uncapped = embedding_near_dup_lsh(
        emb, threshold=0.99, dim=8, max_bucket=10**9
    ).count()
    capped = embedding_near_dup_lsh(
        emb, threshold=0.99, dim=8, max_bucket=100
    ).count()
    assert uncapped >= n_dup * (n_dup - 1) // 2  # the mega block is real
    assert capped < 1000  # guard removed it; only the tail can pair

    # two-sided: queries drawn from the block probe its mega item bucket
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec")
    )
    assert similarity.knn_join_lsh(q, items, k=5, dim=8).count() == 10 * 5
    monkeypatch.setattr(similarity, "RHP_MAX_BUCKET", 100)
    # every bucket of a block query holds the whole block: all dropped
    assert similarity.knn_join_lsh(q, items, k=5, dim=8).count() == 0


def test_knn_lsh_cap_grows_with_corpus(spark, monkeypatch):
    """At a fixed band width every kNN item bucket grows with the corpus:
    a uniform item side whose buckets all pass RHP_MAX_BUCKET is not skew,
    and every query must still get its k neighbours."""
    import numpy as np

    from newsify_spark.operators import similarity

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((2000, 16)).tolist()
    items = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "item_id long, item_vec array<double>"
    )
    q = items.filter(F.col("item_id") < 20).select(
        F.col("item_id").alias("query_id"), F.col("item_vec").alias("query_vec")
    )
    monkeypatch.setattr(similarity, "RHP_MAX_BUCKET", 4)
    sizes = (
        similarity.rhp_signatures_pandas(items, "item_id", "item_vec", 16, 8, 8, 42)
        .groupBy("band", "sig")
        .count()
    )
    # the case is real: most item buckets are over the constant cap
    assert sizes.filter(F.col("count") > 4).count() > sizes.count() // 2
    out = similarity.knn_join_lsh(q, items, k=5, dim=16)
    assert out.groupBy("query_id").count().filter(F.col("count") == 5).count() == 20


def test_auto_bits_tracks_corpus_size(spark):
    """bits_per_band=None must widen bands as the corpus grows (constant
    expected bucket size — the rule that keeps candidate volume linear),
    and the auto path must still find the fixture's near-dup pairs."""
    from newsify_spark.operators.dedup import _auto_bits, embedding_near_dup_lsh
    from newsify_spark.tables import load

    assert _auto_bits(1_000) < _auto_bits(100_000) < _auto_bits(10_000_000)
    assert _auto_bits(2) == 4 and _auto_bits(10**12) == 24  # clamps

    emb = load(spark, SF_DIR, "embeddings")
    out = embedding_near_dup_lsh(
        emb, threshold=0.4, dim=64, n_bands=40, bits_per_band=None
    )
    assert out.count() > 0


# --------------------------------------------------- heavy hitters (MG sketch)


def test_heavy_hitters_exact_on_skewed_partitions(spark):
    """The sketch route must equal the full groupBy-HAVING answer even
    when a heavy item's rows are deliberately SPREAD so that it is never
    locally heavy in any single partition — the pigeonhole case the
    no-false-negative guarantee covers."""
    from newsify_spark.operators.frequent import heavy_hitters

    # 64 partitions; item "hot" has exactly 2 rows in each (128 total =
    # 1.28% of 10k rows) while the tail is ~uniform noise
    n = 10_000
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 78 < 1, F.lit("hot"))
            .otherwise(F.concat(F.lit("t"), F.col("id") % 997))
            .alias("item")
        )
        .repartition(64)
    )
    phi = 0.01
    got = {
        (r.item, r.cnt) for r in heavy_hitters(df, "item", phi=phi).collect()
    }
    want = {
        (r.item, r.cnt)
        for r in df.groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= phi * n)
        .collect()
    }
    assert got == want
    assert ("hot", 129) in got or ("hot", 128) in got  # the spread heavy item


def test_heavy_hitters_phi_validation_and_capacity(spark):
    import pytest as _pytest

    from newsify_spark.operators.frequent import _mg_fold, heavy_hitters

    with _pytest.raises(ValueError):
        heavy_hitters(spark.range(1).select(F.lit("a").alias("x")), "x", phi=0.0)
    # MG fold retains the dominant item through capacity evictions
    s: dict = {}
    for batch in ({"a": 50, "b": 1, "c": 1}, {"d": 1, "e": 1, "f": 1}, {"a": 50, "g": 1}):
        s = _mg_fold(s, batch, k=2)
    assert "a" in s and len(s) <= 2


def test_bm25_ranking_semantics(spark):
    """BM25 basics on a controlled corpus: a doc matching both query
    terms outranks single-term docs; rare-term matches outrank
    common-term matches (idf); term repetition saturates (tf is
    dampened, not linear); ranks are contiguous from 1."""
    from newsify_spark.operators.bm25 import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # both query terms
            (2, "alpha epsilon zeta eta"),          # common term only
            (3, "beta theta iota kappa"),           # rare term only
            (4, "alpha alpha alpha alpha"),         # repetition of common term
            (5, "lambda mu nu xi"),                 # no match
            (6, "alpha omicron pi rho"),            # common term only
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(1, ["alpha", "beta"])], "query_id int, terms array<string>")
    out = bm25_topk(docs, qs, k=10).collect()
    by_rank = {r.rank: r for r in out}
    assert [by_rank[i].rank for i in sorted(by_rank)] == list(range(1, len(out) + 1))
    assert by_rank[1].doc_id == 1  # both terms win
    scores = {r.doc_id: r.score for r in out}
    assert 5 not in scores  # no shared term, no row
    # beta appears in 2 docs, alpha in 4 -> beta-only doc outranks
    # alpha-only docs (higher idf)
    assert scores[3] > scores[2] and scores[3] > scores[6]
    # 4x-repeated alpha scores above single alpha but NOT 4x it (saturation)
    assert scores[2] < scores[4] < 4 * scores[2]


def test_duplicate_spans_flags_shared_passages_only(spark):
    """ExactSubstr-style span dedup: docs sharing a long verbatim passage
    are flagged; distinct docs and within-doc repetition are not."""
    from newsify_spark.operators.dedup import duplicate_spans

    passage = " ".join(f"w{i}" for i in range(20))  # 20 shared tokens
    docs = spark.createDataFrame(
        [
            (1, passage + " unique tail one two three four five six"),
            (2, "different head alpha beta gamma delta " + passage),
            (3, "totally unrelated text " + " ".join(f"x{i}" for i in range(30))),
            # within-doc repetition only — no cross-doc span, not flagged
            (4, " ".join(["rep token block"] * 12)),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_spans(docs, window=12).collect()}
    assert out[1].flagged and out[2].flagged  # shared 20-token passage
    assert out[1].n_dup == out[2].n_dup == 9  # 20 - 12 + 1 shared spans
    assert not out[3].flagged and out[3].n_dup == 0
    assert not out[4].flagged and out[4].n_dup == 0
    # span accounting: n_spans = tokens - window + 1 (doc 3 = 33 tokens)
    assert out[3].n_spans == 33 - 12 + 1


def test_duplicate_spans_caches_nothing(spark, monkeypatch):
    """The r7 leak (VERDICT r7 #3) was a persisted rollup escaping the
    call; the r9 single-chain shape removes the multi-consumer fan-out
    entirely, so duplicate_spans must neither persist nor checkpoint
    ANYTHING — the strongest form of the no-leak guarantee."""
    from pyspark.sql.classic.dataframe import DataFrame

    from newsify_spark.operators.dedup import duplicate_spans

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    recorded = []
    orig = DataFrame.persist

    def spy(self, *a, **k):
        recorded.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 6) for i in range(5)],
        "doc_id long, text string",
    )
    out = duplicate_spans(docs, window=4)
    assert out.count() == 5
    assert not recorded, "duplicate_spans should no longer cache at all"
    new = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    assert not new, "duplicate_spans left a pinned RDD behind"


def test_duplicate_spans_prefilter_is_result_identical(spark):
    """The hot-position sketch is conservative: with a tiny position
    space (maximal collisions) and with the filter off entirely, the
    output is bit-identical — the sketch only cuts exchange volume,
    never changes the answer."""
    from newsify_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "the shared verbatim passage appears here word " * 3),
            (2, "prefix text then the shared verbatim passage appears here word tail"),
            (3, "completely different content with no overlap at all whatsoever"),
            (4, "short"),
            (5, "short"),
        ],
        "doc_id long, text string",
    )
    base = sorted(map(tuple, duplicate_spans(docs, window=4, prefilter=False).collect()))
    pre = sorted(map(tuple, duplicate_spans(docs, window=4, prefilter=True).collect()))
    tiny = sorted(
        map(
            tuple,
            duplicate_spans(docs, window=4, prefilter=True, m_positions=8).collect(),
        )
    )
    assert pre == base
    assert tiny == base


def test_remove_duplicate_spans_survivor_keeps_one_copy(spark):
    """Lee et al. §4 removal semantics: a passage planted in three docs
    survives exactly once (in the min-id doc), is cut from the others
    with overlapping ranges unioned, unique text is untouched, and a
    wall-to-wall duplicate empties out."""
    from newsify_spark.operators.dedup import remove_duplicate_spans

    passage = "one two three four five six"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {passage} gamma delta"),
            (2, f"epsilon {passage} zeta eta theta iota"),
            (3, f"{passage} kappa lam mu nu xi omicron pi"),
            (4, "totally unrelated text that shares nothing with anyone"),
            (5, passage),  # wall-to-wall duplicate of the passage
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, window=4, min_docs=2).collect()
    }
    # survivor (min doc_id containing each dup span) keeps its copy
    assert passage in out[1].clean_text and out[1].n_removed == 0
    # later docs lose the passage but keep their unique surroundings
    for d, keep in [(2, ["epsilon", "zeta", "eta"]), (3, ["kappa", "mu", "pi"])]:
        assert passage not in out[d].clean_text
        for w in keep:
            assert w in out[d].clean_text
    # the corpus-wide count: passage text survives exactly once
    survivors = [d for d in out.values() if passage in d.clean_text]
    assert len(survivors) == 1 and survivors[0].doc_id == 1
    # untouched unique doc
    assert out[4].n_removed == 0
    assert out[4].clean_text == "totally unrelated text that shares nothing with anyone"
    # doc 5 is nothing but the shared passage -> fully removed
    assert out[5].clean_text == "" and out[5].n_removed == out[5].n_tokens
    # prefilter result-identity holds here too
    off = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in remove_duplicate_spans(
            docs, window=4, min_docs=2, prefilter=False
        ).collect()
    }
    assert off == {
        d: (r.n_tokens, r.n_removed, r.clean_text) for d, r in out.items()
    }


def test_remove_duplicate_spans_rebuild_never_shuffles_the_corpus(spark):
    """The r10/r11 scale contract: the rebuild must be map-side (no
    Generate posexplodes EVERY corpus token into a groupBy shuffle — the
    r9 plan did; both remaining Generates are the narrow span-shingle
    explode, deliberately recomputed rather than persisted), the
    cut-summary side joins back by broadcast, the destructive span
    identity is 128-bit (both xxhash64 seeds key the rollup — ~10^13
    spans at 100 TB birthday-collide a single 64-bit key into silent
    cuts of legitimate text), and — r11, VERDICT r10 #1 — the
    distinct-doc/survivor computation is PARTIAL AGGREGATION over
    per-doc rows: no Window operator over occurrence rows, no
    collect_set of doc ids, so no globally-hot span can funnel into a
    single task."""
    from newsify_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(i, f"w{i} shared passage text here w{i + 1}") for i in range(20)],
        "doc_id long, text string",
    )
    df = remove_duplicate_spans(docs, window=4, min_docs=2)
    df.collect()  # let AQE finalize (the in-memory fixture has no stats)
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    # both Generates are span-shingle explodes (recompute-over-persist
    # diamond); a third would mean a token explode crept back
    assert 1 <= final.count("Generate posexplode") <= 2, final
    assert "posexplode(split(" not in final, "raw token explode crept back"
    assert "BroadcastHashJoin" in final, final
    # skew-safety: survivor/count via map-side-combining aggregates,
    # never a window (single-task funnel) or a collected doc-id set
    assert "Window" not in final, final
    assert "collect_set(doc_id" not in final, final
    assert "partial_min(doc_id" in final, "survivor must partial-aggregate"
    # 128-bit destructive identity: the rollup keys on both hash seeds
    assert "keys=[_h" in final and "_h2" in final, final


def test_span_family_count_hint_skips_route_probe(spark, monkeypatch):
    """prefilter='auto' routes off a corpus row count; composed pipelines
    pass ``n_docs`` once so neither operator pays its own probe scan.
    Pin it by making DataFrame.count explode: with the hint the plans
    must still build, without it the probe must fire."""
    from newsify_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z q r s")],
        "doc_id long, text string",
    )
    expected = sorted(map(tuple, duplicate_spans(docs, window=4).collect()))
    expected_rm = sorted(
        map(tuple, remove_duplicate_spans(docs, window=4).collect())
    )

    def boom(self):
        raise AssertionError("route probe ran a .count() despite n_docs hint")

    # patch the concrete class (pyspark 4's classic DataFrame overrides
    # the base-class count, so patching pyspark.sql.DataFrame is a no-op)
    monkeypatch.setattr(type(docs), "count", boom)
    flagged = duplicate_spans(docs, window=4, n_docs=3)
    cleaned = remove_duplicate_spans(docs, window=4, n_docs=3)
    with pytest.raises(AssertionError, match="route probe"):
        duplicate_spans(docs, window=4)
    monkeypatch.undo()
    assert sorted(map(tuple, flagged.collect())) == expected
    assert sorted(map(tuple, cleaned.collect())) == expected_rm


# ------------------------------------------------------- semantic dedup


def _semdedup_fixture(spark):
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cluster_id int, centroid array<double>",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.01]),   # cluster 0
            (2, [1.0, 0.0, 0.0, 0.02]),   # cluster 0, near-dup of 1 -> dropped
            (3, [0.8, 0.0, 0.6, 0.0]),    # cluster 0, cos(v1,v3)~0.80 -> kept
            (4, [0.71, 0.70, 0.0, 0.0]),  # cluster 0 (barely)
            (5, [0.70, 0.71, 0.0, 0.0]),  # cluster 1 — near-dup of 4 but
            #                               cross-cluster: SemDeDup keeps both
            (6, [0.5, 0.5, 0.7, 0.0]),    # exact centroid tie -> cluster 0 (id asc)
        ],
        "vec_id int, embedding array<double>",
    )
    return emb, cents


def test_semantic_dedup_prunes_within_cluster_only(spark):
    from newsify_spark.operators.dedup import semantic_dedup

    emb, cents = _semdedup_fixture(spark)
    out = semantic_dedup(emb, cents, threshold=0.95).toPandas()
    got = dict(zip(out.vec_id, out.cluster_id))
    # min-id survivor: 1 kept, 2 dropped (same cluster, cos ~0.9999)
    assert 1 in got and 2 not in got
    # sub-threshold same-cluster pair both survive
    assert 3 in got
    # cross-cluster near-dup pair (4,5): cos ~0.9998 but different
    # clusters — SemDeDup's defining approximation keeps both
    assert got[4] == 0 and got[5] == 1
    # equidistant point breaks tie to the lower cluster id
    assert got[6] == 0


def test_semantic_dedup_mega_cluster_fails_fast(spark):
    import pytest as _pytest

    from newsify_spark.operators.dedup import semantic_dedup

    emb, cents = _semdedup_fixture(spark)
    with _pytest.raises(ValueError, match="max_cluster"):
        semantic_dedup(emb, cents, threshold=0.95, max_cluster=1)


def test_semantic_dedup_ivf_assignment_full_probe_equals_exact(spark):
    """assign_route='ivf' with n_probe == n_cells probes every cell, so
    the coarse-quantized assignment degenerates to the exact argmax —
    the whole dedup output must match the exact route bit for bit."""
    from newsify_spark.operators.dedup import semantic_dedup
    from newsify_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = (
        emb.orderBy("vec_id").limit(12)
        .select(F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("centroid"))
    )
    exact = sorted(map(tuple, semantic_dedup(
        emb, cents, threshold=0.4, assign_route="exact", max_cluster=None
    ).collect()))
    ivf = sorted(map(tuple, semantic_dedup(
        emb, cents, threshold=0.4, assign_route="ivf",
        assign_cells=3, assign_probe=3, max_cluster=None,
    ).collect()))
    assert exact == ivf


def test_semantic_dedup_lsh_prune_recall(spark):
    """prune_route='lsh' swaps the within-cluster quadratic pair join for
    bucketed LSH candidates: survivors must be a superset of the exact
    route's (LSH can only MISS dup pairs, never invent them) and recall
    on the fixture is complete at these band params."""
    from newsify_spark.operators.dedup import semantic_dedup
    from newsify_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = (
        emb.orderBy("vec_id").limit(12)
        .select(F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("centroid"))
    )
    exact = set(map(tuple, semantic_dedup(
        emb, cents, threshold=0.4, max_cluster=None
    ).collect()))
    lsh = set(map(tuple, semantic_dedup(
        emb, cents, threshold=0.4, prune_route="lsh", dim=64,
        bits_per_band=2, max_cluster=None,
    ).collect()))
    assert exact <= lsh
    assert lsh == exact  # full recall at 16 bands x 2 bits on this fixture


# ------------------------------------------------------- training shards


def test_write_training_shards_roundtrip_and_determinism(spark, tmp_path):
    from newsify_spark.operators.shards import (
        shard_manifest,
        validate_shards,
        write_training_shards,
    )
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = write_training_shards(docs, p1, "doc_id", 4)
    # every row landed in exactly one shard; manifest counts cover all
    assert sum(r.n_rows for r in m1.collect()) == docs.count()
    back = spark.read.parquet(p1)
    assert back.count() == docs.count()
    assert back.select("shard").distinct().count() <= 4
    # trainer-side integrity check passes on an intact write
    assert validate_shards(spark, p1, "doc_id", 4)
    # deterministic: a rebuild produces the identical manifest
    m2 = write_training_shards(docs, p2, "doc_id", 4)
    rows = lambda m: sorted(map(tuple, m.select(sorted(m.columns)).collect()))
    assert rows(m1) == rows(m2)
    # and equals the manifest computed straight from the source plan
    src = shard_manifest(docs, "doc_id", 4)
    assert rows(src) == rows(m1)


def test_validate_shards_catches_missing_file(spark, tmp_path):
    import glob
    import os

    from newsify_spark.operators.shards import validate_shards, write_training_shards
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    p = str(tmp_path / "s")
    write_training_shards(docs, p, "doc_id", 4)
    victim = sorted(glob.glob(f"{p}/shard=*/part-*.parquet"))[0]
    os.remove(victim)
    assert not validate_shards(spark, p, "doc_id", 4)


# ------------------------------------------------------- in-doc line dedup


def test_dedup_lines_and_word_segments(spark):
    from newsify_spark.functions.text import dedup_lines, word_segments

    df = spark.createDataFrame(
        [
            ("nav bar\ncontent one\nnav bar\ncontent two\nnav bar",),
            ("only line",),
        ],
        "text string",
    )
    out = df.select(dedup_lines("text").alias("clean")).collect()
    # repeated boilerplate line dropped, FIRST occurrence kept, order stable
    assert out[0].clean == "nav bar\ncontent one\ncontent two"
    assert out[1].clean == "only line"

    seg = spark.createDataFrame([("a b c d e f a b c d e f g h",)], "text string")
    rows = seg.select(word_segments("text", 6).alias("s")).first().s
    assert rows == ["a b c d e f", "a b c d e f", "g h"]
    deduped = seg.select(
        F.array_join(F.array_distinct(word_segments("text", 6)), " ").alias("c")
    ).first().c
    assert deduped == "a b c d e f g h"


def test_split_assignment_disjoint_stable_and_proportional(spark):
    from newsify_spark.operators.shards import split_assignment
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    lab = docs.select(
        "doc_id", split_assignment(F.col("doc_id"), w).alias("split")
    ).toPandas()
    # total + disjoint: every doc gets exactly one split
    assert len(lab) == docs.count() and lab.doc_id.is_unique
    frac = lab.split.value_counts(normalize=True)
    assert abs(frac.get("train", 0) - 0.9) < 0.06
    # growth stability: membership of existing docs unchanged when the
    # corpus halves (hash splits, unlike random splits)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    lab2 = half.select(
        "doc_id", split_assignment(F.col("doc_id"), w).alias("split")
    ).toPandas()
    merged = lab.merge(lab2, on="doc_id", suffixes=("_full", "_half"))
    assert (merged.split_full == merged.split_half).all()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        split_assignment(F.col("doc_id"), {"a": 0.5, "b": 0.4})


def test_ivf_recall_vs_bruteforce(spark):
    """vec_knn_ivf's nprobe=3-of-10 approximation quantified: recall vs
    the exact top-5, and every returned score must still be exact cosine
    (the rerank step never approximates scores)."""
    from newsify_spark.queries import REGISTRY

    exact = REGISTRY["vec_knn_bruteforce"].fn(spark, SF_DIR).toPandas()
    ivf = REGISTRY["vec_knn_ivf"].fn(spark, SF_DIR).toPandas()
    # ivf's k=5 includes the self-match (score 1.0, rank 1), leaving 4
    # non-self slots — so compare recall@4 against the exact top-4
    ivf = ivf[ivf.query_id != ivf.item_id]
    exact4 = exact.sort_values(
        ["query_id", "score", "item_id"], ascending=[True, False, True]
    ).groupby("query_id").head(4)
    e_sets = exact4.groupby("query_id")["item_id"].apply(set)
    i_sets = ivf.groupby("query_id")["item_id"].apply(set)
    recalls = [
        len(e_sets[q] & i_sets.get(q, set())) / len(e_sets[q]) for q in e_sets.index
    ]
    # the fixture is a hard case for a 10-cell coarse quantizer (top
    # neighbors sit at cos~0.3-0.4, spread across cells); nprobe=3/10
    # lands ~0.55 mean recall here — the floor guards against the
    # assignment/probe stages silently breaking, not a quality target
    assert sum(recalls) / len(recalls) >= 0.45, f"IVF mean recall too low: {recalls}"
    merged = ivf.merge(exact, on=["query_id", "item_id"], suffixes=("_i", "_e"))
    assert (abs(merged.score_i - merged.score_e) < 1e-9).all()


def test_pq_index_save_load_roundtrip(spark, tmp_path):
    """S13/S14 index persistence at scale shape: codebooks + encoded
    codes persisted as parquet, reloaded, and serving the SAME top-k as
    the freshly built index (reference: faiss.write_index/read_index)."""
    import numpy as np

    from newsify_spark.operators.similarity import (
        knn_join_pq,
        load_pq_index,
        pq_encode,
        pq_train,
        save_pq_index,
    )
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = pq_train(items, m=8, k=16, sample=200)
    codes = pq_encode(items, cb)
    save_pq_index(spark, str(tmp_path / "idx"), cb, codes)
    cb2, codes2 = load_pq_index(spark, str(tmp_path / "idx"))
    assert np.array_equal(cb, cb2)
    rows = lambda df: sorted(map(tuple, df.collect()))
    fresh = knn_join_pq(q, items, k=5, codebooks=cb, encoded_items=codes)
    reloaded = knn_join_pq(q, items, k=5, codebooks=cb2, encoded_items=codes2)
    assert rows(fresh) == rows(reloaded)


def test_ivfpq_index_save_load_roundtrip(spark, tmp_path):
    """Persisted IVF-PQ index (codebooks + cells + cell-partitioned
    codes) reloads and serves the identical top-k without retraining,
    re-encoding, or reassigning; the code files land partitioned by
    cell so probes prune at the scan."""
    import numpy as np
    import os

    from newsify_spark.operators.similarity import (
        knn_join_ivfpq,
        load_ivfpq_index,
        pq_encode,
        pq_train,
        save_ivfpq_index,
    )
    from newsify_spark.tables import load
    from newsify_spark.operators.topk import top_k_per_group
    from newsify_spark.operators.similarity import cosine

    emb = load(spark, SF_DIR, "embeddings")
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = pq_train(items, m=8, k=16, sample=200)
    # deterministic cells: 4 lowest-id embeddings as centroids
    cells = emb.orderBy("vec_id").limit(4).select(
        F.monotonically_increasing_id().cast("int").alias("cell"),
        F.col("embedding").alias("cell_vec"),
    )
    cells = spark.createDataFrame(cells.collect(), "cell int, cell_vec array<double>")
    assign = (
        items.crossJoin(F.broadcast(cells))
        .withColumn("csim", cosine("item_vec", "cell_vec"))
        .transform(lambda df: top_k_per_group(
            df, ["item_id"], [F.col("csim").desc(), F.col("cell").asc()], 1))
        .select("item_id", "cell")
    )
    codes = pq_encode(items, cb).join(assign, "item_id")
    save_ivfpq_index(spark, str(tmp_path / "idx"), cb, cells, codes)
    cb2, cells2, codes2 = load_ivfpq_index(spark, str(tmp_path / "idx"))
    assert np.array_equal(cb, cb2)
    assert any(d.startswith("cell=") for d in os.listdir(tmp_path / "idx" / "codes"))
    rows = lambda df: sorted(map(tuple, df.collect()))
    fresh = knn_join_ivfpq(
        q, items, k=5, codebooks=cb, n_probe=2, cells=cells, encoded_items=codes
    )
    reloaded = knn_join_ivfpq(
        q, items, k=5, codebooks=cb2, n_probe=2, cells=cells2, encoded_items=codes2
    )
    assert rows(fresh) == rows(reloaded)


def test_rrf_fuse_three_legs_consensus_and_scores(spark):
    """rrf_fuse on three synthetic legs: scores are exactly the summed
    1/(60+rank) contributions, n_legs counts agreeing rankers, and an
    item ranked mid-list by ALL legs outranks an item ranked #1 by only
    one — the consensus property RRF is chosen for."""
    from newsify_spark.operators.fusion import rrf_fuse

    mk = lambda rows: spark.createDataFrame(rows, "query_id int, doc_id long, r int")
    lex = mk([(1, 10, 1), (1, 20, 2), (1, 30, 3)])
    sem = mk([(1, 20, 1), (1, 30, 2), (1, 40, 3)])
    rec = mk([(1, 30, 1), (1, 20, 2), (1, 50, 3)])
    out = {r.doc_id: r for r in rrf_fuse([lex, sem, rec], k=10).collect()}
    # doc 20: ranks 2,1,2 in 3 legs; doc 10: rank 1 in one leg only
    assert out[20].n_legs == 3 and out[10].n_legs == 1
    assert out[20].rrf_score > out[10].rrf_score
    exp20 = round(1 / 62 + 1 / 61 + 1 / 62, 6)
    exp30 = round(1 / 63 + 1 / 62 + 1 / 61, 6)
    assert abs(out[20].rrf_score - exp20) < 1e-9
    assert abs(out[30].rrf_score - exp30) < 1e-9
    # 20 and 30 tie exactly in contribution sets -> rounded tie broken
    # by doc id
    assert out[20].rank < out[30].rank
    with __import__("pytest").raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_rrf_fuse_semantic_leg_swaps_to_ivfpq_index(spark):
    """The semantic leg is index-pluggable: the IVF-PQ route at full
    probe returns the same (query, item, rank) leg as plain PQ at the
    same rerank budget (the pinned index equivalence), so swapping the
    index under rrf_fuse leaves the fused output identical — the
    drop-in-scale-path contract the hybrid query documents."""
    from newsify_spark.operators.fusion import rrf_fuse
    from newsify_spark.operators.similarity import (
        knn_join_ivfpq,
        knn_join_pq,
        pq_train,
    )
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    books = pq_train(items, m=8, k=16, sample=200)

    from pyspark.sql import Window

    def leg(df):
        w = F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("item_id").asc()
            )
        )
        return df.select("query_id", F.col("item_id").alias("doc_id"), w.alias("r"))

    pq = leg(knn_join_pq(q, items, k=8, codebooks=books, rerank_factor=8))
    ivfpq = leg(
        knn_join_ivfpq(
            q, items, k=8, codebooks=books, n_cells=4, n_probe=4, rerank_factor=8
        )
    )
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(rrf_fuse([pq], k=5)) == rows(rrf_fuse([ivfpq], k=5))


def test_ivfpq_remove_items_can_empty_a_cell(spark, tmp_path):
    """Removing EVERY item of a cell leaves a valid index: the emptied
    partition reads as zero rows (not an error), other cells are
    untouched, and probes only return surviving items."""
    from newsify_spark.operators.similarity import (
        _assign_items_to_cells,
        ivfpq_remove_items,
        load_ivfpq_index,
        pq_encode,
        pq_train,
        save_ivfpq_index,
    )
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings").limit(40)
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    cb = pq_train(items, m=8, k=16, sample=40)
    cells = spark.createDataFrame(
        emb.orderBy("vec_id").limit(2).select(
            F.monotonically_increasing_id().cast("int").alias("cell"),
            F.col("embedding").alias("cell_vec"),
        ).collect(),
        "cell int, cell_vec array<double>",
    )
    codes = pq_encode(items, cb).join(
        _assign_items_to_cells(items, cells, "item_id", "item_vec"), "item_id"
    )
    idx = str(tmp_path / "idx")
    save_ivfpq_index(spark, idx, cb, cells, codes)
    cell0_ids = codes.filter("cell = 0").select("item_id")
    n_cell1 = codes.filter("cell = 1").count()
    assert cell0_ids.count() > 0 and n_cell1 > 0

    ivfpq_remove_items(spark, idx, cell0_ids)
    _cb, _cells, codes2 = load_ivfpq_index(spark, idx)
    assert codes2.filter("cell = 0").count() == 0
    assert codes2.filter("cell = 1").count() == n_cell1


def test_bm25_index_save_load_roundtrip(spark, tmp_path):
    """Persisted BM25 index (postings/doclen/idf/scalars parquet
    tables) serves the identical ranking without re-tokenizing the
    corpus — the lexical sibling of the PQ/IVF-PQ index-as-table
    contract; postings land term-clustered for row-group pruning."""
    import os

    from newsify_spark.operators.bm25 import (
        bm25_topk,
        bm25_topk_from_index,
        save_bm25_index,
    )
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    queries = spark.createDataFrame(
        [(1, ["hash", "join"]), (2, ["vector", "scan", "filter"])],
        "query_id int, terms array<string>",
    )
    direct = bm25_topk(docs, queries, k=10)
    idx = str(tmp_path / "bm25")
    save_bm25_index(spark, idx, docs)
    assert sorted(os.listdir(idx)) == ["df", "doclen", "idf", "postings", "scalars"]
    served = bm25_topk_from_index(spark, idx, queries, k=10)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(direct) == rows(served)


def test_bm25_add_docs_equals_fresh_build(spark, tmp_path):
    """Incremental add (Lucene new-segment): index built on half the
    corpus then bm25_add_docs'd the other half serves EXACTLY the
    ranking of a fresh wholesale build — postings appended as new
    files, df delta-updated, idf/scalars recomputed exactly. Existing
    postings files are never rewritten (mtimes unchanged)."""
    import os

    from newsify_spark.operators.bm25 import (
        bm25_add_docs,
        bm25_topk_from_index,
        save_bm25_index,
    )
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    old, new = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    queries = spark.createDataFrame(
        [(1, ["hash", "join"]), (2, ["vector", "scan", "filter"])],
        "query_id int, terms array<string>",
    )
    inc, fresh = str(tmp_path / "inc"), str(tmp_path / "fresh")
    save_bm25_index(spark, inc, old)
    pre = {
        f: os.path.getmtime(f"{inc}/postings/{f}")
        for f in os.listdir(f"{inc}/postings")
        if f.endswith(".parquet")
    }
    bm25_add_docs(spark, inc, new)
    post = {
        f: os.path.getmtime(f"{inc}/postings/{f}")
        for f in os.listdir(f"{inc}/postings")
        if f.endswith(".parquet")
    }
    assert set(pre) < set(post) and all(post[f] == pre[f] for f in pre)
    save_bm25_index(spark, fresh, docs)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(bm25_topk_from_index(spark, inc, queries, k=10)) == rows(
        bm25_topk_from_index(spark, fresh, queries, k=10)
    )


def test_bm25_tombstone_delete_and_compaction(spark, tmp_path):
    """bm25_remove_docs is Lucene liveDocs: deleted docs vanish from
    results immediately (no postings rewrite — file mtimes unchanged),
    surviving docs keep their PRE-delete scores (stale df/idf until
    merge, the documented semantic); compact_bm25_index then rewrites
    and equals a fresh build over the survivors exactly."""
    import os

    from newsify_spark.operators.bm25 import (
        bm25_remove_docs,
        bm25_topk_from_index,
        compact_bm25_index,
        save_bm25_index,
    )
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    queries = spark.createDataFrame(
        [(1, ["hash", "join"]), (2, ["vector", "scan", "filter"])],
        "query_id int, terms array<string>",
    )
    idx = str(tmp_path / "idx")
    save_bm25_index(spark, idx, docs)
    before = bm25_topk_from_index(spark, idx, queries, k=20).collect()
    victims = {r.doc_id for r in before[:3]}
    mt = lambda: {
        f: os.path.getmtime(f"{idx}/postings/{f}")
        for f in os.listdir(f"{idx}/postings")
        if f.endswith(".parquet")
    }
    pre = mt()
    bm25_remove_docs(
        spark, idx, spark.createDataFrame([(v,) for v in victims], "doc_id long")
    )
    assert mt() == pre  # delete touched no postings file
    after = bm25_topk_from_index(spark, idx, queries, k=20).collect()
    assert not victims & {r.doc_id for r in after}
    # survivors keep pre-delete scores (stale stats until compaction);
    # docs newly promoted into the top-20 have no pre-delete row
    pre_scores = {(r.query_id, r.doc_id): r.score for r in before}
    shared = [r for r in after if (r.query_id, r.doc_id) in pre_scores]
    assert shared and all(
        pre_scores[(r.query_id, r.doc_id)] == r.score for r in shared
    )

    compact_bm25_index(spark, idx)
    assert not os.path.isdir(f"{idx}/tombstones")
    fresh = str(tmp_path / "fresh")
    keep = docs.join(
        spark.createDataFrame([(v,) for v in victims], "doc_id long"),
        "doc_id",
        "left_anti",
    )
    save_bm25_index(spark, fresh, keep)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(bm25_topk_from_index(spark, idx, queries, k=20)) == rows(
        bm25_topk_from_index(spark, fresh, queries, k=20)
    )
    # idempotent on a tombstone-free index
    compact_bm25_index(spark, idx)


def test_weighted_sample_order_invariant_under_weight_scaling(spark):
    """A-ES sampling keys ln(u)/w: scaling every weight by a constant
    c > 0 scales keys by 1/c, leaving the sampled ORDER (hence any
    top-k set) invariant — the property that makes the weights relative
    priorities rather than absolute magnitudes. Also pins that higher
    weight at equal u yields a higher key (closer to 0)."""
    df = spark.createDataFrame([(i, 1 + (i % 10)) for i in range(200)], "id long, w long")
    hk = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10).cast("long")
    u = (hk + F.lit(1)) / F.lit(4294967296.0)

    def order(scale):
        keyed = df.select("id", (F.log(u) / (F.col("w") * scale)).alias("k"))
        return [r.id for r in keyed.orderBy(F.col("k").desc(), F.col("id").asc()).collect()]

    assert order(1) == order(3) == order(100)
    # same u, larger w -> larger key: ln(u) < 0 shrinks toward 0
    row = df.filter("id = 7").select(F.log(u).alias("lu")).first()
    assert row.lu / 20 > row.lu / 2


def test_ivfpq_incremental_add_remove_equals_fresh_build(spark, tmp_path):
    """faiss index.add / remove_ids parity on the persisted index
    (VERDICT r6 #6): build on A, add B, remove victims — then probing
    the maintained index equals probing a fresh wholesale encode of
    (A - victims) ∪ B with the same frozen codebooks/cells. Untouched
    cell partitions keep their files byte-identical (adds append,
    removes rewrite only victim cells)."""
    import os

    from newsify_spark.operators.similarity import (
        _assign_items_to_cells,
        ivfpq_add_items,
        ivfpq_remove_items,
        knn_join_ivfpq,
        load_ivfpq_index,
        pq_encode,
        pq_train,
        save_ivfpq_index,
    )
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    all_items = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec")
    )
    a = all_items.filter(F.col("item_id") % 5 != 0)  # initial build set
    b = all_items.filter(F.col("item_id") % 5 == 0)  # later adds
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = pq_train(a, m=8, k=16, sample=200)
    cells = spark.createDataFrame(
        emb.orderBy("vec_id").limit(4).select(
            F.monotonically_increasing_id().cast("int").alias("cell"),
            F.col("embedding").alias("cell_vec"),
        ).collect(),
        "cell int, cell_vec array<double>",
    )
    codes_a = pq_encode(a, cb).join(_assign_items_to_cells(a, cells, "item_id", "item_vec"), "item_id")
    idx = str(tmp_path / "idx")
    save_ivfpq_index(spark, idx, cb, cells, codes_a)

    victims = a.filter(F.col("item_id") % 7 == 3).select("item_id")
    victim_cells = {
        r["cell"]
        for r in spark.read.parquet(f"{idx}/codes").join(victims, "item_id", "left_semi")
        .select("cell").distinct().collect()
    }
    # snapshot untouched-by-remove partitions' file listings before adds
    pre_files = {
        d: sorted(os.listdir(os.path.join(idx, "codes", d)))
        for d in os.listdir(os.path.join(idx, "codes"))
        if d.startswith("cell=") and int(d.split("=")[1]) not in victim_cells
    }

    ivfpq_add_items(spark, idx, b)
    ivfpq_remove_items(spark, idx, victims)

    # remove rewrote ONLY victim cells: untouched dirs kept every
    # original file (adds append new files, never rewrite old ones)
    for d, files in pre_files.items():
        now = sorted(os.listdir(os.path.join(idx, "codes", d)))
        assert set(files) <= set(now), d

    final_items = a.join(victims, "item_id", "left_anti").unionByName(b)
    fresh_codes = pq_encode(final_items, cb).join(
        _assign_items_to_cells(final_items, cells, "item_id", "item_vec"), "item_id"
    )
    _cb2, cells2, codes2 = load_ivfpq_index(spark, idx)
    rows = lambda df: sorted(map(tuple, df.collect()))
    maintained = knn_join_ivfpq(
        q, final_items, k=5, codebooks=cb, n_probe=2, cells=cells2, encoded_items=codes2
    )
    fresh = knn_join_ivfpq(
        q, final_items, k=5, codebooks=cb, n_probe=2, cells=cells, encoded_items=fresh_codes
    )
    assert rows(maintained) == rows(fresh)
    # and the maintained code table is exactly the fresh encode
    assert rows(codes2.select("item_id", "cell")) == rows(fresh_codes.select("item_id", "cell"))


# ---------------------------------------------------- data-quality checks


def test_run_checks_counts_violations_and_nulls_fail_closed(spark):
    from newsify_spark.operators.checks import expect_all, run_checks

    df = spark.createDataFrame(
        [(1, "ok"), (2, None), (3, ""), (None, "x")],
        "k int, v string",
    )
    rules = [
        ("k_not_null", F.col("k").isNotNull()),
        ("v_nonempty", F.length("v") > 0),  # NULL v -> NULL pred -> violation
    ]
    rep = {r["check"]: (r.violations, r.total) for r in run_checks(df, rules).collect()}
    assert rep == {"k_not_null": (1, 4), "v_nonempty": (2, 4)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k_not_null: 1/4"):
        expect_all(df, rules)
    clean = spark.createDataFrame([(1, "a")], "k int, v string")
    assert expect_all(clean, rules).count() == 2
    with _pytest.raises(ValueError, match="no rules"):
        run_checks(df, [])


def test_bigram_lm_hand_checked_scores(spark):
    """Tiny hand-computable corpus pins the add-k arithmetic exactly."""
    import math

    from newsify_spark.operators.ngram_lm import (
        score_perplexity,
        train_bigram_lm,
    )

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    # V = 3 (a, b, c); bigrams: (a,b)x2+1=3? no — doc1: (a,b),(b,a),(a,b);
    # doc2: (a,b),(b,c) => c(a,b)=3, c(b,a)=1, c(b,c)=1; c_ctx: a=3, b=2
    model = train_bigram_lm(train, add_k=0.5)
    bi = {(r.ctx, r.tok): r.c_bi for r in model.bigrams.collect()}
    assert bi == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    ctx = {r.ctx: r.c_ctx for r in model.contexts.collect()}
    assert ctx == {"a": 3, "b": 2}
    sc = model.scalars.collect()[0]
    assert sc.n_vocab == 3.0 and sc.add_k == 0.5

    ev = spark.createDataFrame([(10, "a b z")], ["doc_id", "text"])
    out = score_perplexity(ev, model).collect()
    assert len(out) == 1 and out[0].n_bigrams == 2
    # p(b|a) = (3+.5)/(3+1.5) = 7/9; p(z|b) = (0+.5)/(2+1.5) = 1/7
    want = math.exp(-(math.log(7 / 9) + math.log(1 / 7)) / 2)
    assert abs(out[0].ppl - round(want, 4)) < 1e-9


def test_bigram_lm_counts_merge_across_shards(spark):
    """Model counts add under union+groupBy — shard-trainable (the
    mergeable-model contract the docstring promises)."""
    from pyspark.sql import functions as F

    from newsify_spark.operators.ngram_lm import train_bigram_lm

    rows = [(i, f"w{i % 3} w{(i + 1) % 3} w{i % 2}") for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    whole = train_bigram_lm(docs)
    a = train_bigram_lm(docs.filter(F.col("doc_id") < 10))
    b = train_bigram_lm(docs.filter(F.col("doc_id") >= 10))
    merged = (
        a.bigrams.unionByName(b.bigrams)
        .groupBy("ctx", "tok")
        .agg(F.sum("c_bi").alias("c_bi"))
    )
    lhs = {(r.ctx, r.tok): r.c_bi for r in merged.collect()}
    rhs = {(r.ctx, r.tok): r.c_bi for r in whole.bigrams.collect()}
    assert lhs == rhs


def test_bigram_lm_short_docs_and_unseen_context(spark):
    """Docs with <2 tokens score nothing; a wholly-unseen context hits
    the 1/V smoothing floor."""
    import math

    from newsify_spark.operators.ngram_lm import (
        score_perplexity,
        train_bigram_lm,
    )

    model = train_bigram_lm(
        spark.createDataFrame([(1, "x y")], ["doc_id", "text"])
    )
    ev = spark.createDataFrame(
        [(10, "solo"), (11, "p q")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in score_perplexity(ev, model).collect()}
    assert 10 not in out  # single-token doc: no bigrams, no row
    # unseen ctx p: p(q|p) = .5/(0 + .5*2) = 1/2 -> ppl = 2
    assert out[11].n_bigrams == 1
    assert abs(out[11].ppl - round(math.exp(-math.log(0.5)), 4)) < 1e-9


def test_ranking_metrics_hand_checked(spark):
    """Hand-computed MRR/recall/nDCG on a 2-user fixture pins the
    metric arithmetic in rec_ranking_metrics' shape (ranked leg +
    relevance set -> per-user metrics -> means)."""
    import math

    from pyspark.sql import functions as F

    from newsify_spark.operators.topk import top_k_per_group

    # user 1: ranked [a,b,c], relevant {b, z} -> hit at rank 2.
    #   rr = 1/2; recall = 1/2; dcg = 1/log2(3); idcg = 1 + 1/log2(3)
    # user 2: ranked [a], relevant {q} -> no hits: all zeros.
    ranked = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3), (2, "a", 1)],
        ["user_id", "item", "rank"],
    )
    rel = spark.createDataFrame(
        [(1, "b"), (1, "z"), (2, "q")], ["user_id", "item"]
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
    got = {r.user_id: r for r in per_user.collect()}
    d3 = 1.0 / math.log2(3)
    assert abs(got[1].rr - 0.5) < 1e-12
    assert abs(got[1].recall - 0.5) < 1e-12
    assert abs(got[1].ndcg - d3 / (1 + d3)) < 1e-12
    assert got[2].rr == 0.0 and got[2].recall == 0.0 and got[2].ndcg == 0.0
    assert top_k_per_group is not None  # the ranked-leg producer used in the query


def _txn_fixture(spark, n=100):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).cast("double").alias("val"),
            F.concat(F.lit("row"), F.col("id")).alias("tag"),
        )
        .repartitionByRange(4, "k")
    )


def test_txnlog_create_append_read_and_history(spark, tmp_path):
    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    assert T.create_table(spark, path, _txn_fixture(spark)) == 0
    assert T.append_rows(spark, path, _txn_fixture(spark, 10).withColumn(
        "k", F.col("k") + 1000)) == 1
    got = T.read_table(spark, path)
    assert got.count() == 110
    ops = [e["op"] for e in T.history(path)]
    assert ops == ["create", "append"]


def test_txnlog_upsert_is_file_granular_cow(spark, tmp_path):
    """A point upsert rewrites ONLY the data file(s) holding the key:
    every other file stays byte-identical on disk AND referenced by the
    new snapshot."""
    import os

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark))
    before = {
        f: (os.path.getsize(os.path.join(path, f)),
            os.path.getmtime(os.path.join(path, f)))
        for f in T._live_files(path)
    }
    assert len(before) == 4
    up = spark.createDataFrame(
        [(7, 777.0, "edited"), (9999, 1.0, "new")], ["k", "val", "tag"]
    )
    T.upsert_rows(spark, path, up, ["k"])
    entry = T.history(path)[-1]
    assert entry["op"] == "upsert" and len(entry["remove"]) == 1
    after = T._live_files(path)
    untouched = [f for f in before if f not in entry["remove"]]
    assert len(untouched) == 3
    for f in untouched:
        assert f in after
        assert (os.path.getsize(os.path.join(path, f)),
                os.path.getmtime(os.path.join(path, f))) == before[f]
    rows = {r.k: (r.val, r.tag) for r in T.read_table(spark, path).collect()}
    assert len(rows) == 101
    assert rows[7] == (777.0, "edited") and rows[9999] == (1.0, "new")
    assert rows[8] == (80.0, "row8")  # neighbor in the rewritten file survives


def test_txnlog_delete_and_time_travel(spark, tmp_path):
    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark))
    doomed = spark.createDataFrame([(3,), (50,)], ["k"])
    T.delete_rows(spark, path, doomed, ["k"])
    now = {r.k for r in T.read_table(spark, path).collect()}
    assert 3 not in now and 50 not in now and len(now) == 98
    # time travel: version 0 still shows the deleted rows
    v0 = {r.k for r in T.read_table(spark, path, version=0).collect()}
    assert 3 in v0 and 50 in v0 and len(v0) == 100


def test_txnlog_concurrent_writer_loses_cas(spark, tmp_path):
    import pytest as _pytest

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark, 10))
    # another writer claims version 1 between our read and our commit
    T._commit(path, 1, "append", [], [], ["k", "val", "tag"])
    with _pytest.raises(T.ConcurrentWriteError):
        T._commit(path, 1, "append", [], [], ["k", "val", "tag"])


def test_txnlog_interleaved_commit_fails_stale_writer(spark, tmp_path, monkeypatch):
    """Lost-update window (VERDICT r7 #2): a commit that lands BETWEEN a
    writer's snapshot read and its own commit must make that writer
    raise ConcurrentWriteError — never publish a merge computed against
    the stale snapshot (which would resurrect the interloper's
    overwritten rows / duplicate keys). The version is pinned before
    the read, so the interloper takes the pinned number and the stale
    writer's CAS collides on it."""
    import pytest as _pytest

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark, 10))

    orig = T._affected_files
    fired = {"done": False}

    def interleave(spark_, path_, keys_df, keys, version=None):
        victims = orig(spark_, path_, keys_df, keys, version)
        if not fired["done"]:
            fired["done"] = True  # only the outer writer gets ambushed
            T.upsert_rows(
                spark_, path_,
                spark_.createDataFrame([(7, 111.0, "interloper")],
                                       ["k", "val", "tag"]),
                ["k"],
            )
        return victims

    monkeypatch.setattr(T, "_affected_files", interleave)
    with _pytest.raises(T.ConcurrentWriteError):
        T.upsert_rows(
            spark, path,
            spark.createDataFrame([(7, 777.0, "stale")], ["k", "val", "tag"]),
            ["k"],
        )
    monkeypatch.setattr(T, "_affected_files", orig)
    rows = {r.k: (r.val, r.tag) for r in T.read_table(spark, path).collect()}
    assert len(rows) == 10  # no duplicated key, no resurrected rows
    assert rows[7] == (111.0, "interloper")  # the committed write survives

    # delete_rows holds the same guarantee
    monkeypatch.setattr(T, "_affected_files", interleave)
    fired["done"] = False
    with _pytest.raises(T.ConcurrentWriteError):
        T.delete_rows(
            spark, path, spark.createDataFrame([(7,)], ["k"]), ["k"]
        )


def test_txnlog_vacuum_drops_only_dead_files(spark, tmp_path):
    import os

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark))
    T.upsert_rows(
        spark, path,
        spark.createDataFrame([(7, 1.0, "x")], ["k", "val", "tag"]), ["k"],
    )
    dead = set(T.history(path)[-1]["remove"])
    removed = set(T.vacuum(spark, path))
    assert removed == dead
    for f in T._live_files(path):
        assert os.path.exists(os.path.join(path, f))
    assert T.read_table(spark, path).count() == 100  # latest snapshot intact


def test_txnlog_optimize_compacts_without_changing_data(spark, tmp_path):
    """OPTIMIZE as a commit (VERDICT r9 #7): many tiny streaming appends
    bin-pack into fewer files; the snapshot is row-identical before and
    after, the CDF diff of the optimize commit nets to zero changes,
    time travel to pre-optimize versions still works, and a concurrent
    writer landing mid-optimize makes the optimize lose its CAS."""
    import pytest as _pytest

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark, 5).coalesce(1))
    for i in range(6):  # one tiny file-set per micro-batch, like the sink
        T.append_rows(
            spark, path, _txn_fixture(spark, 5).select(
                (F.col("k") + 10 * (i + 1)).alias("k"), "val", "tag"
            ).coalesce(1),
        )
    before = sorted(map(tuple, T.read_table(spark, path).collect()))
    n_live_before = len(T._live_files(path))
    v = T.optimize(spark, path, target_bytes=1 << 20)
    assert v == 7
    after = sorted(map(tuple, T.read_table(spark, path).collect()))
    assert after == before  # data-identical
    assert len(T._live_files(path)) < n_live_before  # file count drops
    # pure rewrite: the optimize commit's CDF nets to zero row changes
    assert T.read_changes(spark, path, v, v).count() == 0
    # time travel to a pre-optimize version is intact
    assert T.read_table(spark, path, version=3).count() == 20
    # idempotent no-op when nothing is small enough
    assert T.optimize(spark, path, target_bytes=1) is None
    # OCC (round-12 conflict matrix): an interloper APPEND no longer
    # beats a data-identical re-layout — the optimize REBASES over it
    # metadata-only (the compaction-vs-ingest pattern); conflicts from
    # victim rewrites are pinned in tests/test_txnlog_occ.py
    # (a fresh small file first, so the optimize has >= min_files work)
    T.append_rows(
        spark, path, _txn_fixture(spark, 3).coalesce(1)
    )
    before = T.read_table(spark, path).count()
    orig_read = T._read_files_aligned

    def ambush(spark_, path_, files, cols, dvs=None):
        T.append_rows(spark_, path_, _txn_fixture(spark_, 1).coalesce(1))
        return orig_read(spark_, path_, files, cols, dvs=dvs)

    import unittest.mock as _mock

    with _mock.patch.object(T, "_read_files_aligned", side_effect=ambush):
        v2 = T.optimize(spark, path, target_bytes=1 << 20)
    assert v2 is not None
    # both the interloper's row and the compacted data are live
    assert T.read_table(spark, path).count() == before + 1


def test_txnlog_read_changes_plan_is_commit_count_invariant(spark, tmp_path):
    """VERDICT r9 #8: a long commit range must NOT build an O(commits)
    plan. 50 appends + an upsert + a delete: the feed still equals the
    per-key net expectation, while the optimized plan holds a bounded
    number of parquet relations (two batched scans duplicated by the
    two exceptAll sides — not one pair per commit)."""
    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark, 4).coalesce(1))
    for i in range(50):
        T.append_rows(
            spark, path,
            spark.createDataFrame(
                [(100 + i, float(i), f"b{i}")], ["k", "val", "tag"]
            ),
        )
    T.upsert_rows(
        spark, path,
        spark.createDataFrame([(100, -1.0, "upd")], ["k", "val", "tag"]),
        ["k"],
    )
    T.delete_rows(spark, path, spark.createDataFrame([(101,)], ["k"]), ["k"])
    feed = T.read_changes(spark, path, 1)
    plan = feed._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("Relation [")
    assert n_scans <= 8, f"plan grew with commit count: {n_scans} scans"
    net = {
        r.k: (r._change_type, r.val, r.tag)
        for r in T.net_changes(feed, "k").collect()
    }
    assert len(net) == 50  # 50 appended keys net to their final state
    assert net[100] == ("insert", -1.0, "upd")
    assert net[101][0] == "delete"
    assert net[102] == ("insert", 2.0, "b2")
    # the feed agrees with the snapshot: applying net inserts over the
    # creation rows reproduces the live table
    snapshot = {r.k for r in T.read_table(spark, path).collect()}
    applied = {0, 1, 2, 3} | {
        k for k, (t, *_r) in net.items() if t == "insert"
    }
    assert applied == snapshot


def test_txnlog_schema_mismatch_rejected(spark, tmp_path):
    import pytest as _pytest

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark, 10))
    bad = spark.createDataFrame([(1, 2.0)], ["k", "val"])
    with _pytest.raises(ValueError, match="schema mismatch"):
        T.append_rows(spark, path, bad)


def test_txnlog_additive_schema_evolution(spark, tmp_path):
    """Appending with a NEW column evolves the table schema (Delta
    mergeSchema semantics): old rows read back null for the new column,
    upserts across the schema boundary backfill typed nulls on
    rewritten old rows, and dropping an existing column is rejected."""
    import pytest as _pytest

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark, 20))
    evolved = spark.createDataFrame(
        [(100, 1.0, "n", "extra")], ["k", "val", "tag", "note"]
    )
    T.append_rows(spark, path, evolved)
    got = T.read_table(spark, path)
    assert set(got.columns) == {"k", "val", "tag", "note"}
    rows = {r.k: r.note for r in got.collect()}
    assert rows[100] == "extra" and rows[5] is None and len(rows) == 21

    # upsert across the boundary rewrites an OLD file with the new col
    T.upsert_rows(
        spark, path,
        spark.createDataFrame([(5, 5.5, "edited", None)],
                              "k long, val double, tag string, note string"),
        ["k"],
    )
    rows = {r.k: (r.val, r.note) for r in T.read_table(spark, path).collect()}
    assert rows[5] == (5.5, None) and rows[100] == (1.0, "extra")
    assert len(rows) == 21
    # history records the evolved schema; dropping a column is rejected
    assert T.history(path)[-1]["columns"] == ["k", "val", "tag", "note"]
    with _pytest.raises(ValueError, match="drops"):
        T.append_rows(spark, path, spark.createDataFrame([(1, 1.0)], ["k", "val"]))


# ------------------------------------------------------------------ DSIR


def test_dsir_weights_rank_domain_match(spark):
    """The DSIR estimator's defining property (Xie et al. 2023): pool
    docs written in the target domain's vocabulary score HIGHER log
    importance weights than out-of-domain docs; the fitted model is
    bounded by the bucket count."""
    from newsify_spark.operators.dsir import (
        dsir_log_weights,
        fit_log_ratio,
        hashed_ngram_features,
    )

    in_dom = "spark shuffle partition executor broadcast join agg scan"
    out_dom = "violin sonata allegro crescendo orchestra tempo maestro coda"
    target = spark.createDataFrame(
        [(i, in_dom) for i in range(10)], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [(100, in_dom), (101, in_dom), (200, out_dom), (201, out_dom)],
        "doc_id long, text string",
    )
    tf = hashed_ngram_features(target, buckets=256)
    pf = hashed_ngram_features(pool, buckets=256)
    ratio = fit_log_ratio(tf, pf, buckets=256)
    assert ratio.count() <= 256  # model bounded by bucket count
    w = {r.doc_id: r.logw for r in dsir_log_weights(pf, ratio).collect()}
    assert min(w[100], w[101]) > max(w[200], w[201])
    # unigrams + interior bigrams: 8 tokens -> 8 + 7 feature occurrences
    n = {r.doc_id: r.n_feats for r in dsir_log_weights(pf, ratio).collect()}
    assert n[100] == 15


def test_dsir_gumbel_top_k_deterministic_and_weight_monotone(spark):
    """Gumbel keys are minted from md5(doc_id) — two runs return the
    identical sample — and raising a doc's weight can only improve its
    rank (the Gumbel noise is fixed per id)."""
    from newsify_spark.operators.dsir import gumbel_top_k

    w1 = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "doc_id long, logw double"
    )
    a = [(r.doc_id, r.rank) for r in gumbel_top_k(w1, k=10).collect()]
    b = [(r.doc_id, r.rank) for r in gumbel_top_k(w1, k=10).collect()]
    assert a == b and len(a) == 10
    # bump one doc's weight far above everything -> it must take rank 1
    w2 = w1.withColumn(
        "logw", F.when(F.col("doc_id") == 42, 1e6).otherwise(F.col("logw"))
    )
    top = gumbel_top_k(w2, k=10).collect()[0]
    assert top.doc_id == 42 and top.rank == 1


def test_dsir_gumbel_key_finite_at_max_hash(spark):
    """The uniform is minted as u = (hk + 0.5) / 2^32, strictly inside
    (0, 1) even for the 1-in-2^32 doc whose first 8 md5 hex chars are
    ffffffff (hk = 2^32 - 1): -ln(-ln(u)) stays finite, so no doc is
    force-selected regardless of weight. The old +1 formula minted
    u = 1.0 -> +inf there."""
    import math

    hk_max = 4294967295
    row = spark.range(1).select(
        (-F.log(-F.log((F.lit(hk_max) + F.lit(0.5)) / F.lit(4294967296.0))))
        .alias("g_new"),
        (-F.log(-F.log((F.lit(hk_max) + F.lit(1)) / F.lit(4294967296.0))))
        .alias("g_old"),
    ).collect()[0]
    assert math.isfinite(row.g_new)
    assert row.g_old is None or math.isinf(row.g_old)  # the bug being fixed
    # and every fixture-minted key is finite end to end
    from newsify_spark.operators.dsir import gumbel_top_k

    w = spark.createDataFrame(
        [(i, 0.0) for i in range(200)], "doc_id long, logw double"
    )
    keys = [r.samp_key for r in gumbel_top_k(w, k=200).collect()]
    assert all(math.isfinite(k) for k in keys)


# ------------------------------------------------------------------- BPE


def _ref_bpe(vocab: dict, n_merges: int):
    """Pure-Python Sennrich et al. reference: greedy most-frequent pair,
    leftmost non-overlapping application, pair-string tiebreak."""
    words = {tuple(w) + ("</w>",): f for w, f in vocab.items()}
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict = {}
        for sy, f in words.items():
            for a, b in zip(sy, sy[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], f"{p[0]} {p[1]}"))
        merges.append((step, f"{pair[0]} {pair[1]}", "".join(pair), counts[pair]))
        new = {}
        for sy, f in words.items():
            out, i = [], 0
            while i < len(sy):
                if i + 1 < len(sy) and (sy[i], sy[i + 1]) == pair:
                    out.append(sy[i] + sy[i + 1])
                    i += 2
                else:
                    out.append(sy[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        words = new
    return merges


def test_bpe_train_matches_reference_algorithm(spark):
    """The distributed trainer reproduces the pure-Python Sennrich BPE
    step for step — argmax pair, tiebreak, and greedy leftmost
    application (incl. the overlapping-run case 'aaaa' -> 'aa aa')."""
    from newsify_spark.operators.bpe import bpe_train

    vocab = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3,
        "aaaa": 4,  # overlapping-run stress: (a,a) merges pairwise
    }
    ref = _ref_bpe(vocab, 6)
    vdf = spark.createDataFrame(
        [(w, f) for w, f in vocab.items()], "word string, freq long"
    )
    got = [
        (r.step, r.pair, r.merged, r.pair_count)
        for r in bpe_train(vdf, n_merges=6).collect()
    ]
    assert got == ref


def test_bpe_overlapping_run_reaches_merge_table(spark):
    """Regression for the repeated-symbol-run application bug: with
    vocab {'aaaa': 10, 'bc': 3}, step 1 merges (a, a); Sennrich's
    leftmost scan leaves every 'aaaa' as [aa, aa, </w>], so step 2's
    candidates are (aa,aa):10 and (aa,</w>):10 and the tiebreak picks
    ('aa', '</w>') — a naive string replace leaves [aa, a, a, </w>]
    and emits ('a', '</w>') instead. Pins the per-word symbol sequences
    after each merge, not just the table."""
    from newsify_spark.operators.bpe import apply_merges, bpe_train

    vocab = {"aaaa": 10, "bc": 3}
    ref = _ref_bpe(vocab, 2)
    assert ref[1][1] == "aa </w>"  # run divergence reaches the argmax
    vdf = spark.createDataFrame(list(vocab.items()), "word string, freq long")
    table = bpe_train(vdf, n_merges=2).collect()
    got = [(r.step, r.pair, r.merged, r.pair_count) for r in table]
    assert got == ref

    pieces = {
        r.word: list(r.pieces)
        for r in apply_merges(
            vdf, [(r.pair, r.merged) for r in table[:1]]
        ).collect()
    }
    assert pieces["aaaa"] == ["aa", "aa", "</w>"]  # leftmost, both pairs
    pieces2 = {
        r.word: list(r.pieces)
        for r in apply_merges(
            vdf, [(r.pair, r.merged) for r in table]
        ).collect()
    }
    assert pieces2["aaaa"] == ["aa", "aa</w>"]


def test_bpe_train_survives_full_merge_and_empty_words(spark):
    """Crash guards: (1) a single-letter vocab fully merges after one
    step ('a </w>' -> 'a</w>', a 1-symbol word) — further iterations
    must stop cleanly, not crash the pairs explode; (2) consecutive
    spaces in doc text mint empty tokens whose symbol string is just
    '</w>' from the FIRST iteration."""
    from newsify_spark.operators.bpe import bpe_train, word_vocab

    vdf = spark.createDataFrame([("a", 7)], "word string, freq long")
    got = [(r.step, r.pair, r.merged) for r in bpe_train(vdf, n_merges=3).collect()]
    assert got == [(1, "a </w>", "a</w>")]  # stopped after full merge

    docs = spark.createDataFrame(
        [(1, "ab  ab"), (2, "ab ab")], "doc_id long, text string"
    )
    table = bpe_train(word_vocab(docs), n_merges=2).collect()
    assert [(r.step, r.pair) for r in table] == [(1, "a b"), (2, "ab </w>")]


def test_bpe_local_loop_equals_distributed(spark):
    """The driver-local merge loop (vocab <= local_threshold: 0 Spark
    jobs per merge vs the distributed loop's 2) emits a bit-identical
    merge table, run-for-run, on a vocab exercising ties, runs, and
    full merges."""
    from newsify_spark.operators.bpe import bpe_train

    vocab = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 4, "bc": 3}
    vdf = spark.createDataFrame(list(vocab.items()), "word string, freq long")
    dist = [
        (r.step, r.pair, r.merged, r.pair_count)
        for r in bpe_train(vdf, n_merges=8).collect()
    ]
    local = [
        (r.step, r.pair, r.merged, r.pair_count)
        for r in bpe_train(vdf, n_merges=8, local_threshold=1000).collect()
    ]
    assert local == dist == _ref_bpe(vocab, 8)
    # over-threshold falls back to the distributed loop
    fallback = [
        (r.step, r.pair, r.merged, r.pair_count)
        for r in bpe_train(vdf, n_merges=8, local_threshold=2).collect()
    ]
    assert fallback == dist


def test_bpe_apply_merges_reconstructs_words(spark):
    """Applying the learned merges never loses characters: the pieces
    concatenate back to word + '</w>', and high-frequency words compress
    into fewer pieces than their character count."""
    from newsify_spark.operators.bpe import apply_merges, bpe_train, word_vocab

    docs = spark.createDataFrame(
        [(i, "newest newest newest lowest widest") for i in range(4)],
        "doc_id long, text string",
    )
    vocab = word_vocab(docs)
    merges = [
        (r.pair, r.merged) for r in bpe_train(vocab, n_merges=4).collect()
    ]
    assert len(merges) == 4
    out = apply_merges(vocab, merges).collect()
    for r in out:
        assert "".join(r.pieces) == r.word + "</w>"
    pieces = {r.word: r.pieces for r in out}
    assert len(pieces["newest"]) < len("newest") + 1  # actually compressed


def test_unimax_allocation_invariants(spark):
    """UniMax Algorithm 1 on a skewed synthetic mix: every language's
    epochs <= cap, small languages saturate AT the cap, the head
    language absorbs the slack, and allocations exactly exhaust the
    budget (2x corpus chars here, which is under the cap's total)."""
    from newsify_spark.queries import REGISTRY

    docs = spark.createDataFrame(
        [(i, "en" if i < 80 else ("de" if i < 95 else "mi"), 100, "x" * 100)
         for i in range(100)],
        "doc_id long, lang string, n_chars long, text string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {r.lang: r for r in REGISTRY["doc_mix_unimax"].fn(spark, d).collect()}
    assert set(out) == {"en", "de", "mi"}
    for r in out.values():
        assert r.epochs <= 3.0 + 1e-9
    # the tiny language (500 chars) caps at 3 epochs; the head absorbs
    assert out["mi"].epochs == 3.0 and out["de"].epochs == 3.0
    # head language: absorbs the slack, stays under cap
    assert out["en"].alloc_chars > out["de"].alloc_chars
    assert out["en"].epochs < 3.0
    total = sum(r.alloc_chars for r in out.values())
    assert abs(total - 2.0 * 100 * 100) < 1e-6  # budget exactly spent


def test_unimax_sample_meets_allocation_within_one_doc(spark):
    """The applied allocation (doc_mix_unimax_sample): per language, the
    realized char mass sum(n_copies * n_chars) overshoots alloc_chars by
    LESS THAN ONE DOCUMENT (the crossing doc of the hash-ordered prefix)
    and never undershoots — the invariant VERDICT r9 #5 asked for."""
    import tempfile

    from newsify_spark.queries import REGISTRY

    docs = spark.createDataFrame(
        [
            (i, "en" if i < 80 else ("de" if i < 95 else "mi"),
             50 + (i * 37) % 130, "x")
            for i in range(100)
        ],
        "doc_id long, lang string, n_chars long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        alloc = {
            r.lang: r for r in REGISTRY["doc_mix_unimax"].fn(spark, d).collect()
        }
        sample = REGISTRY["doc_mix_unimax_sample"].fn(spark, d).collect()
    realized: dict[str, int] = {}
    max_doc: dict[str, int] = {}
    for r in sample:
        realized[r.lang] = realized.get(r.lang, 0) + r.n_copies * r.n_chars
        max_doc[r.lang] = max(max_doc.get(r.lang, 0), r.n_chars)
    assert set(realized) == set(alloc)
    for lang, a in alloc.items():
        s = realized[lang]
        # alloc_chars is rounded to 4dp in the diagnostic query; allow it
        assert a.alloc_chars - 1e-3 <= s < a.alloc_chars + max_doc[lang] + 1e-3, (
            lang, s, a.alloc_chars, max_doc[lang]
        )
    # every document appears once with a non-negative repeat count
    assert len(sample) == 100
    assert all(r.n_copies >= 0 for r in sample)


def test_pack_manifest_reconstruction_properties(spark):
    """Next-fit packing manifest: every doc packed exactly once, no
    multi-doc bin over budget, offsets are the exact running fill (a
    dataloader could replay the manifest byte-for-byte), bins are
    contiguous from 0 per group, an oversized doc sits ALONE in its own
    bin, and the manifest is deterministic across runs."""
    from newsify_spark.operators.packing import pack_next_fit

    budget = 100
    rows = [
        ("a", i, i % 2, 30 + (i * 17) % 45) for i in range(40)
    ] + [("a", 100, 0, 250)]  # oversized doc
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, shard long, n_tok long"
    )
    out = pack_next_fit(docs, budget=budget).collect()
    assert len(out) == len(rows)
    assert len({r.doc_id for r in out}) == len(rows)  # exactly once
    by_bin: dict[tuple, list] = {}
    for r in out:
        by_bin.setdefault((r.source, r.shard, r.bin), []).append(r)
    groups: dict[tuple, set] = {}
    for (src, shard, b), members in by_bin.items():
        groups.setdefault((src, shard), set()).add(b)
        members.sort(key=lambda r: r.doc_id)
        fill = 0
        for m in members:
            assert m.bin_offset == fill, m  # replayable offsets
            fill += m.n_tok
        if len(members) > 1:
            assert fill <= budget, (src, shard, b, fill)
        else:
            # single-doc bins may be oversized docs; never split, never lost
            assert members[0].n_tok == fill
    for g, bins in groups.items():
        assert bins == set(range(len(bins))), (g, bins)  # contiguous from 0
    oversized = [r for r in out if r.doc_id == 100]
    assert len(oversized) == 1 and oversized[0].bin_offset == 0
    assert len(by_bin[("a", 0, oversized[0].bin)]) == 1  # alone in its bin
    # determinism
    again = sorted(map(tuple, pack_next_fit(docs, budget=budget).collect()))
    assert again == sorted(map(tuple, out))


def test_ivfpq_cdc_sync_equals_fresh_encode(spark, tmp_path):
    """Driving IVF-PQ maintenance from a txnlog change feed (vector
    update + inserts + delete, incl. update-then-delete) leaves the
    code table — and therefore every probe — exactly equal to a fresh
    encode of the mutated table under the same frozen codebooks/cells."""
    from newsify_spark.operators import txnlog as T
    from newsify_spark.operators.similarity import (
        _assign_items_to_cells,
        load_ivfpq_index,
        pq_encode,
        pq_train,
        save_ivfpq_index,
        sync_ivfpq_from_changes,
    )
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings").limit(300)
    items = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec")
    )
    table = str(tmp_path / "vecs")
    T.create_table(spark, table, items.repartitionByRange(4, "item_id"))
    cb = pq_train(items, m=8, k=16, sample=200)
    cells = spark.createDataFrame(
        emb.orderBy("vec_id").limit(4).select(
            F.monotonically_increasing_id().cast("int").alias("cell"),
            F.col("embedding").alias("cell_vec"),
        ).collect(),
        "cell int, cell_vec array<double>",
    )
    idx = str(tmp_path / "idx")
    save_ivfpq_index(
        spark, idx, cb, cells,
        pq_encode(items, cb).join(
            _assign_items_to_cells(items, cells, "item_id", "item_vec"), "item_id"
        ),
    )

    # commit 1: mirror every %17 vector (direction change), add two
    # copies of vector 1's embedding, rewrite doc 34 (deleted next)
    mirrored = T.read_table(spark, table).filter(F.col("item_id") % 17 == 0).select(
        "item_id",
        F.transform("item_vec", lambda x: F.round(F.lit(0.5) - x, 6)).alias("item_vec"),
    )
    v1 = items.filter(F.col("item_id") == 1).select("item_vec").first()["item_vec"]
    ins = spark.createDataFrame(
        [(900001, v1), (900002, list(v1))], "item_id bigint, item_vec array<double>"
    )
    T.upsert_rows(spark, table, mirrored.unionByName(ins), ["item_id"])
    # commit 2: delete %13 (intersects the %17 update set at 0 if present)
    T.delete_rows(
        spark,
        table,
        items.filter(F.col("item_id") % 13 == 0).select("item_id"),
        ["item_id"],
    )
    sync_ivfpq_from_changes(spark, idx, T.read_changes(spark, table, 1))

    final = T.read_table(spark, table)
    fresh = pq_encode(final, cb).join(
        _assign_items_to_cells(final, cells, "item_id", "item_vec"), "item_id"
    )
    _cb, _cells, maintained = load_ivfpq_index(spark, idx)
    rows = lambda df: sorted(map(tuple, df.select("item_id", "cell", "codes").collect()))
    assert rows(maintained) == rows(fresh)


def test_bm25_cdc_sync_equals_fresh_build(spark, tmp_path):
    """Applying a change feed (update + insert + delete across two
    commits, incl. an update-then-delete doc) to a persisted BM25 index
    yields probe results identical to a fresh index built over the
    mutated table; a delete-only feed takes the O(|ids|) tombstone path
    (no compaction — tombstones table left in place)."""
    import os

    from newsify_spark.operators import txnlog as T
    from newsify_spark.operators.bm25 import (
        bm25_topk_from_index,
        save_bm25_index,
        sync_bm25_from_changes,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join hash"),
            (2, "hash join probe build"),
            (3, "sort merge join spill"),
            (4, "window rank dense partition"),
            (5, "doomed text about joins and hash"),
        ],
        "doc_id long, text string",
    )
    table, index = str(tmp_path / "t"), str(tmp_path / "ix")
    T.create_table(spark, table, docs.repartitionByRange(2, "doc_id"))
    save_bm25_index(spark, index, T.read_table(spark, table))

    # commit 1: update doc 2 (new text) + insert doc 6 + update doc 5
    T.upsert_rows(
        spark,
        table,
        spark.createDataFrame(
            [
                (2, "vector scan filter pushdown"),
                (6, "hash aggregate combine exchange"),
                (5, "rewritten before deletion"),
            ],
            "doc_id long, text string",
        ),
        ["doc_id"],
    )
    # commit 2: delete docs 3 and 5 (5 = update-then-delete)
    T.delete_rows(
        spark,
        table,
        spark.createDataFrame([(3,), (5,)], "doc_id long"),
        ["doc_id"],
    )
    sync_bm25_from_changes(spark, index, T.read_changes(spark, table, 1))

    fresh = str(tmp_path / "fresh")
    save_bm25_index(spark, fresh, T.read_table(spark, table))
    queries = spark.createDataFrame(
        [(1, ["hash", "join"]), (2, ["vector", "filter"]), (3, ["rank"])],
        "query_id int, terms array<string>",
    )
    got = sorted(map(tuple, bm25_topk_from_index(spark, index, queries).collect()))
    want = sorted(map(tuple, bm25_topk_from_index(spark, fresh, queries).collect()))
    assert got == want and got  # non-vacuous

    # delete-only feed: tombstone path, no compaction
    T.delete_rows(
        spark, table, spark.createDataFrame([(4,)], "doc_id long"), ["doc_id"]
    )
    v = len(T.history(table)) - 1
    sync_bm25_from_changes(spark, index, T.read_changes(spark, table, v))
    assert os.path.isdir(f"{index}/tombstones")  # deferred, Lucene-style
    got2 = {
        (r.query_id, r.doc_id)
        for r in bm25_topk_from_index(spark, index, queries).collect()
    }
    assert (3, 4) not in got2  # the tombstoned doc never surfaces


def test_quantile_cuts_approx_route_matches_exact(spark):
    """VERDICT r8 #1: the percentile_approx production route (fixed-size
    mergeable GK sketch — no distinct-value map on one reducer) lands
    the same head/middle/tail buckets as the exact oracle route on
    fixture-scale data; 'auto' switches routes on exact_max."""
    from newsify_spark.operators.ngram_lm import quantile_cuts

    scores = spark.createDataFrame(
        [(i, float(((i * 2654435761) % 9973)) / 7.0) for i in range(5000)],
        "doc_id long, ppl double",
    )
    exact = quantile_cuts(scores, "ppl", route="exact")
    approx = quantile_cuts(scores, "ppl", route="approx", accuracy=10_000)
    assert len(exact) == len(approx) == 2
    # both routes return REAL data elements; with accuracy >= n the GK
    # sketch is rank-exact, so the cuts coincide
    assert exact == approx

    def buckets(cuts):
        t1, t2 = cuts
        return scores.groupBy(
            F.when(F.col("ppl") <= t1, "head")
            .when(F.col("ppl") <= t2, "middle")
            .otherwise("tail")
            .alias("bucket")
        ).count().orderBy("bucket").collect()

    assert [tuple(r) for r in buckets(exact)] == [tuple(r) for r in buckets(approx)]
    # a coarser sketch still lands within its documented rank error
    rough = quantile_cuts(scores, "ppl", route="approx", accuracy=100)
    n_head_exact = scores.filter(F.col("ppl") <= exact[0]).count()
    n_head_rough = scores.filter(F.col("ppl") <= rough[0]).count()
    assert abs(n_head_rough - n_head_exact) <= 5000 / 100 + 1
    # auto: exact under the cap, approx above it
    assert quantile_cuts(scores, "ppl", route="auto", exact_max=10_000) == exact
    assert (
        quantile_cuts(scores, "ppl", route="auto", exact_max=100, accuracy=10_000)
        == approx
    )


def test_cdc_incremental_curation_rescans_only_the_commit(spark, tmp_path):
    """VERDICT r8 #7: a 1-doc commit re-runs the text gates on exactly
    that doc — the change feed's scan is bounded by the commit's COW
    blast radius (inputFiles ⊂ table files) — and the incrementally
    maintained verdict table equals a full recompute bit for bit."""
    from newsify_spark.operators import txnlog as T
    from newsify_spark.operators.curation import (
        apply_changes_to_verdicts,
        curation_verdicts,
    )

    docs = spark.createDataFrame(
        [
            (i, "src", len(f"document number {i} with the usual words of it"),
             f"document number {i} with the usual words of it")
            for i in range(40)
        ],
        "doc_id long, source string, n_chars long, text string",
    )
    path = str(tmp_path / "docs_t")
    T.create_table(spark, path, docs.repartitionByRange(8, "doc_id"))
    store0 = curation_verdicts(T.read_table(spark, path)).localCheckpoint(
        eager=True
    )
    table_files = set(T.read_table(spark, path).inputFiles())
    assert len(table_files) >= 4  # blast radius has something to be smaller than

    new_text = "document number seven rewritten with a lot of the new words in it"
    one = spark.createDataFrame(
        [(7, "src", len(new_text), new_text)],
        "doc_id long, source string, n_chars long, text string",
    )
    T.upsert_rows(spark, path, one, ["doc_id"])

    changes = T.read_changes(spark, path, 1)
    # the feed reads only the commit's added+removed files, not the table
    feed_files = set(changes.inputFiles())
    assert feed_files and not table_files <= feed_files
    assert len(feed_files) < len(table_files)
    rows = changes.collect()
    assert {(r._change_type, r.doc_id) for r in rows} == {
        ("delete", 7), ("insert", 7),
    }  # exactly one doc re-curated

    store1 = apply_changes_to_verdicts(store0, changes)
    full = curation_verdicts(T.read_table(spark, path))
    got = sorted(map(tuple, store1.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want


def test_curation_verdict_seam_matches_monolithic_pipeline(spark):
    """curated_from_verdicts ∘ curation_verdicts == doc_curation_pipeline
    on the fixture — the incremental seam changes nothing about the
    cascade's semantics."""
    from newsify_spark.operators.curation import (
        curated_from_verdicts,
        curation_verdicts,
    )
    from newsify_spark.queries import REGISTRY
    from newsify_spark.tables import load
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    seam = sorted(
        map(tuple, curated_from_verdicts(curation_verdicts(docs)).collect())
    )
    mono = sorted(
        map(
            tuple,
            REGISTRY["doc_curation_pipeline"].fn(spark, SF_DIR).collect(),
        )
    )
    assert seam == mono


def test_txnlog_read_changes_cdc_feed(spark, tmp_path):
    """Delta-CDF semantics from the COW log: version 0 is all inserts;
    an upsert emits delete(preimage)+insert(postimage) for CHANGED rows
    only (carried-over neighbors cancel); a delete emits its victims;
    additive schema evolution null-backfills the feed."""
    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, _txn_fixture(spark, 20))
    T.upsert_rows(
        spark, path,
        spark.createDataFrame([(7, 777.0, "edited")], ["k", "val", "tag"]),
        ["k"],
    )
    T.delete_rows(spark, path, spark.createDataFrame([(3,)], ["k"]), ["k"])
    # evolution: add a column, then read the whole feed
    T.append_rows(
        spark, path,
        spark.createDataFrame([(100, 1.0, "x", "extra")],
                              ["k", "val", "tag", "note"]),
    )

    full = T.read_changes(spark, path, 0).collect()
    v0 = [r for r in full if r._commit_version == 0]
    assert len(v0) == 20 and all(r._change_type == "insert" for r in v0)
    assert all(r.note is None for r in v0)  # evolved column backfills null

    v1 = sorted(
        ((r._change_type, r.k, r.val) for r in full if r._commit_version == 1)
    )
    assert v1 == [("delete", 7, 70.0), ("insert", 7, 777.0)]  # only the change

    v2 = [(r._change_type, r.k) for r in full if r._commit_version == 2]
    assert v2 == [("delete", 3)]

    v3 = [(r._change_type, r.k, r.note) for r in full if r._commit_version == 3]
    assert v3 == [("insert", 100, "extra")]

    # bounded range + empty-range error
    mid = T.read_changes(spark, path, 1, 2).collect()
    assert {r._commit_version for r in mid} == {1, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        T.read_changes(spark, path, 99)


def test_materialize_bins_reconstructs_every_document(spark):
    """Materialized packed sequences (VERDICT r10 #8): per-bin token
    arrays + doc-boundary offsets must reconstruct every document's
    tokens exactly once, in manifest order; no multi-doc bin exceeds
    the budget; offsets index the flattened array correctly (the
    dataloader contract: tokens[off : off + len] == doc tokens)."""
    from newsify_spark.operators.packing import materialize_bins, pack_next_fit

    budget = 12
    rows = []
    for i in range(30):
        n = 3 + (i * 7) % 8
        rows.append(("a", i, i % 2, [f"t{i}_{j}" for j in range(n)]))
    rows.append(("a", 99, 0, [f"big_{j}" for j in range(25)]))  # oversized
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, shard long, toks array<string>"
    )
    bins = materialize_bins(docs, budget=budget, tokens_col="toks").collect()
    want = {(r[0], r[2], r[1]): r[3] for r in rows}

    seen: dict[tuple, int] = {}
    for b in bins:
        assert b.n_docs == len(b.doc_ids) == len(b.offsets)
        assert b.n_tokens == len(b.tokens)
        if b.n_docs > 1:
            assert b.n_tokens <= budget, b
        # offsets are the running fill, docs in manifest (id) order
        assert list(b.doc_ids) == sorted(b.doc_ids)
        fill = 0
        for i, d in enumerate(b.doc_ids):
            toks = want[(b.source, b.shard, d)]
            assert b.offsets[i] == fill, (b.bin, d)
            assert list(b.tokens[fill : fill + len(toks)]) == toks, d
            fill += len(toks)
            seen[(b.source, b.shard, d)] = seen.get((b.source, b.shard, d), 0) + 1
        assert fill == b.n_tokens  # no stray tokens between/after docs
    assert seen == {k: 1 for k in want}  # every doc exactly once
    # the materialization agrees with the layout-only manifest
    sized = docs.select(
        "source", "shard", "doc_id", F.size("toks").cast("long").alias("n_tok")
    )
    manifest = {
        (r.source, r.shard, r.doc_id): (r.bin, r.bin_offset)
        for r in pack_next_fit(sized, budget=budget).collect()
    }
    for b in bins:
        for i, d in enumerate(b.doc_ids):
            assert manifest[(b.source, b.shard, d)] == (b.bin, b.offsets[i])


def test_materialize_bins_zero_token_docs_keep_placement_order(spark):
    """A zero-token doc shares its bin_offset with the doc placed after
    it, so an offset-first sort key left the ordering to offset
    uniqueness (ADVICE r11 #5). Ordering is now total on the unique doc
    id — which IS placement order (pack visits docs id-ascending) — so
    empty docs keep their manifest slot and the arrays stay aligned."""
    from newsify_spark.operators.packing import materialize_bins, pack_next_fit

    budget = 10
    rows = [
        ("a", 0, 0, ["x0", "x1", "x2"]),
        ("a", 1, 0, []),  # zero-token: offset ties with doc 2
        ("a", 2, 0, ["y0", "y1"]),
        ("a", 3, 0, []),  # zero-token at a bin boundary fill
        ("a", 4, 0, ["z0"] * 5),
        ("a", 5, 0, []),  # trailing zero-token doc
    ]
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, shard long, toks array<string>"
    )
    bins = materialize_bins(docs, budget=budget, tokens_col="toks").collect()
    want = {r[1]: r[3] for r in rows}
    manifest = {
        r.doc_id: (r.bin, r.bin_offset)
        for r in pack_next_fit(
            docs.select(
                "source",
                "shard",
                "doc_id",
                F.size("toks").cast("long").alias("n_tok"),
            ),
            budget=budget,
        ).collect()
    }
    seen = set()
    for b in bins:
        assert list(b.doc_ids) == sorted(b.doc_ids)  # placement order
        assert len(b.doc_ids) == len(b.offsets) == b.n_docs
        for i, d in enumerate(b.doc_ids):
            assert manifest[d] == (b.bin, b.offsets[i]), d
            toks = want[d]
            assert list(b.tokens[b.offsets[i] : b.offsets[i] + len(toks)]) == toks
            seen.add(d)
    assert seen == set(want)  # zero-token docs present in doc_ids/offsets
