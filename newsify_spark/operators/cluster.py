"""Batch cluster refinement (reference batch-cluster-service.py).

The reference pipeline: UMAP(384→5) + HDBSCAN over ALL embeddings
collected into one process, then Jaccard-match new clusters to existing
stories and greedily assign 1:1 (batch-cluster-service.py:35-70,219-233).

Spark-first substitutions (SURVEY §7.5.1-2):
- clustering: MLlib KMeans on L2-normalized embeddings (distributes,
  deterministic with seed). The UMAP+HDBSCAN fidelity path would be an
  ``applyInPandas`` single-group wrapper — gated off here because those
  libs aren't in the image.
- Jaccard matching: exploded equi-join set-similarity (E1/J6) — the
  distributed form of the reference's Python-set loop.
- greedy 1:1 assignment (W4): inherently order-dependent; done as a
  driver-side loop over the COLLECTED (cluster, story, jaccard) score
  table, which is small (|clusters|x|stories| after thresholding), while
  all the heavy set math stays distributed.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newsify_spark.functions.vectors import l2_normalize


def kmeans_refine(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(id, cluster) labels from KMeans over L2-normalized vectors.
    Normalization makes Euclidean KMeans approximate cosine clustering —
    mirroring the reference's cosine-metric UMAP space."""
    vecs = emb.select(
        F.col(id_col), array_to_vector(l2_normalize(vec_col)).alias("features")
    )
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(vecs)
    out = model.transform(vecs)
    return out.select(id_col, F.col("prediction").alias("cluster"))


def umap_hdbscan_refine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_components: int = 5,
    n_neighbors: int = 15,
    min_cluster_size: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Fidelity path for the reference's UMAP(384→5)+HDBSCAN stage
    (batch-cluster-service.py:25-43), as a single-group applyInPandas:
    the whole corpus gathers into one pandas group — exactly the
    reference's collect-everything semantics — so this path is for
    parity runs and modest corpora; the distributed default is
    ``kmeans_refine``. Noise points get cluster -1, as HDBSCAN does.

    Raises ImportError up front when umap-learn/hdbscan are absent from
    the image (they are not baked into this container — VERDICT round-1
    item #7 asks for the wired path behind the guard).
    """
    import importlib.util

    for lib in ("umap", "hdbscan"):
        if importlib.util.find_spec(lib) is None:
            raise ImportError(
                f"{lib} is not installed; install umap-learn + hdbscan or "
                "use kmeans_refine (the distributed default)"
            )

    import pandas as pd

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import hdbscan
        import numpy as np
        import umap

        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        reduced = umap.UMAP(
            n_components=n_components,
            n_neighbors=n_neighbors,
            metric="cosine",
            random_state=seed,
        ).fit_transform(mat)
        labels = hdbscan.HDBSCAN(min_cluster_size=min_cluster_size).fit_predict(reduced)
        return pd.DataFrame({id_col: pdf[id_col], "cluster": labels.astype("int32")})

    dt = dict(emb.dtypes)[id_col]
    return (
        emb.select(id_col, vec_col)
        .withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(run, schema=f"{id_col} {dt}, cluster int")
    )


def jaccard_match_scores(
    new_clusters: DataFrame,  # (member_id, cluster)
    old_stories: DataFrame,  # (member_id, story)
    member_col: str = "member_id",
) -> DataFrame:
    """(cluster, story, inter, sz_cluster, sz_story, jaccard) — the
    distributed scoring half of map_clusters_to_stories
    (batch-cluster-service.py:45-70). Set intersection = equi join on
    member, sizes via per-side counts (E1)."""
    csz = new_clusters.groupBy("cluster").agg(F.count("*").alias("sz_cluster"))
    ssz = old_stories.groupBy("story").agg(F.count("*").alias("sz_story"))
    inter = (
        new_clusters.join(old_stories, member_col)
        .groupBy("cluster", "story")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(F.broadcast(csz), "cluster")
        .join(F.broadcast(ssz), "story")
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sz_cluster") + F.col("sz_story") - F.col("inter")),
        )
        .select("cluster", "story", "inter", "sz_cluster", "sz_story", "jaccard")
    )


def greedy_story_assignment(scores: DataFrame, threshold: float = 0.5) -> list[dict]:
    """W4: order-dependent greedy 1:1 pick, reference semantics
    (batch-cluster-service.py:49-69: iterate clusters, best unused story
    above threshold wins; we fix iteration to cluster-id order and break
    score ties by story id — the reference depends on dict order, which
    we make deterministic and document as a deviation).

    Driver-side by design: input is the already-aggregated score table
    (|clusters| x |matched stories| rows, thresholded), never raw data.
    """
    rows = (
        scores.filter(F.col("jaccard") > threshold)
        .select("cluster", "story", "jaccard")
        .collect()
    )
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append((r["jaccard"], r["story"]))
    used: set = set()
    out = []
    for cluster in sorted(by_cluster):
        for jac, story in sorted(by_cluster[cluster], key=lambda t: (-t[0], t[1])):
            if story not in used:
                used.add(story)
                out.append({"cluster": cluster, "story": story, "jaccard": jac})
                break
    return out
