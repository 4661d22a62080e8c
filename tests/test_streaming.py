"""Streaming-layer tests (SURVEY §5.5): stream/batch parity for the
foreachBatch clustering body, watermark dedup semantics, and one real
Structured Streaming smoke over a parquet-fed source.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _article_batches(spark, n_batches=4, per_batch=30):
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") < n_batches * per_batch)
        .select(F.col("vec_id").cast("string").alias("article_id"), "embedding")
    )
    pdf = emb.toPandas().sort_values("article_id", key=lambda s: s.astype(int))
    return [
        spark.createDataFrame(
            pdf.iloc[i * per_batch : (i + 1) * per_batch],
            "article_id string, embedding array<float>",
        )
        for i in range(n_batches)
    ]


def test_foreachbatch_clustering_invariants(spark):
    from newsify_spark.streaming.pipeline import run_microbatched

    batches = _article_batches(spark)
    out, state = run_microbatched(batches, threshold=0.95)
    o = out.toPandas()
    # every article assigned exactly once
    assert len(o) == 120 and o.article_id.is_unique
    # matched similarities respect the threshold
    assert (o.loc[~o.is_new, "similarity"] > 0.95).all()
    # state bookkeeping: stories == minted count; members == articles
    stories = state.stories.toPandas()
    assert len(stories) == o.is_new.sum()
    assert stories.n_members.sum() == 120
    assert stories.story_id.is_unique


def test_stream_batch_parity_first_batch(spark):
    """Running everything as ONE batch must equal the batch recomputation:
    with an empty initial state every article becomes/joins a story whose
    final centroid is the mean of its members (A2 invariant)."""
    import numpy as np

    from newsify_spark.streaming.pipeline import run_microbatched

    batches = _article_batches(spark, n_batches=1, per_batch=40)
    out, state = run_microbatched(batches, threshold=0.99)
    o = out.toPandas()
    stories = state.stories.toPandas().set_index("story_id")
    emb = pd.Series(
        {r.article_id: np.array(r.embedding, dtype="float64")
         for r in batches[0].toPandas().itertuples()}
    )
    members = o.groupby("story_id").article_id.apply(list)
    for sid, arts in members.items():
        mean = np.mean([emb[a] for a in arts], axis=0)
        got = np.array(stories.loc[sid, "centroid"])
        assert np.allclose(mean, got, atol=1e-9), sid
        assert stories.loc[sid, "n_members"] == len(arts)


def test_watermark_dedup_batch_fallback(spark):
    from newsify_spark.streaming.pipeline import watermark_dedup
    from newsify_spark.tables import load

    ev = load(spark, SF_DIR, "events")
    dd = watermark_dedup(ev, ["user_id", "event_type"])
    assert dd.count() == ev.select("user_id", "event_type").distinct().count()


def test_structured_streaming_smoke(spark, tmp_path):
    """Real readStream→writeStream round trip: parquet-fed micro-batches,
    watermarked dedup, memory sink (T2/T3)."""
    import shutil

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")

    from newsify_spark.tables import _normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(str(src)).schema
    stream = _normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = stream.withWatermark("ts", "24 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) AS n FROM dedup_out").first()["n"]
    finally:
        q.stop()
    distinct_keys = (
        spark.read.parquet(str(src)).select("user_id", "event_type").distinct().count()
    )
    # dropDuplicatesWithinWatermark keeps >= distinct keys (re-emits after
    # watermark expiry); within this single window it should equal
    assert n == distinct_keys


def test_stateful_clustering_matches_reference_loop(spark, tmp_path):
    """applyInPandasWithState output must EXACTLY match a driver-side
    simulation of the reference's per-message loop
    (duplication_service.py:74-92, 142-170) over the same article order."""
    import numpy as np

    from newsify_spark.streaming.stateful import (
        assign_sequential,
        streaming_cluster_stateful,
    )

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") < 80)
        .select(F.col("vec_id").cast("string").alias("article_id"), "embedding")
    )
    pdf = emb.toPandas().sort_values("article_id", key=lambda s: s.astype(int))

    # two stream files -> two micro-batches, deterministic order within each
    src = tmp_path / "articles"
    src.mkdir()
    half = len(pdf) // 2
    for i, chunk in enumerate([pdf.iloc[:half], pdf.iloc[half:]]):
        spark.createDataFrame(
            chunk, "article_id string, embedding array<float>"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    schema = "article_id string, embedding array<float>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        streaming_cluster_stateful(stream, threshold=0.95)
        .writeStream.format("memory")
        .queryName("stateful_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM stateful_out").toPandas()
    finally:
        q.stop()

    # driver-side reference simulation over the same global order
    ids, counts, cents, nid = [], [], [], 0
    want = []
    for half_pdf in [pdf.iloc[:half], pdf.iloc[half:]]:
        arts = [
            (str(a), np.asarray(list(v), dtype=np.float64))
            for a, v in zip(half_pdf["article_id"], half_pdf["embedding"])
        ]
        out, nid = assign_sequential(arts, ids, counts, cents, nid, 0.95)
        want.extend(out)
    import pandas as pd_

    want = pd_.DataFrame(want)
    g = got.sort_values("article_id", key=lambda s: s.astype(int)).reset_index(drop=True)
    w = want.sort_values("article_id", key=lambda s: s.astype(int)).reset_index(drop=True)
    assert len(g) == len(w) == 80
    assert (g.article_id == w.article_id).all()
    assert (g.story_id == w.story_id).all()
    assert (g.is_new == w.is_new).all()
    assert (abs(g.similarity - w.similarity) < 1e-9).all()


def test_in_batch_mints_are_match_candidates(spark):
    """ADVICE round-1: two identical unmatched articles in one micro-batch
    must land in ONE story (the reference's per-message loop would match
    the second against the story minted from the first)."""
    from newsify_spark.streaming.pipeline import run_microbatched

    vec = [1.0] * 8
    other = [0.0] * 7 + [1.0]
    batch = spark.createDataFrame(
        [("1", vec), ("2", vec), ("3", other)],
        "article_id string, embedding array<float>",
    )
    out, state = run_microbatched([batch], threshold=0.9)
    o = out.toPandas().set_index("article_id")
    assert o.loc["1", "story_id"] == o.loc["2", "story_id"]
    assert bool(o.loc["1", "is_new"]) and not bool(o.loc["2", "is_new"])
    assert o.loc["2", "similarity"] > 0.9
    assert o.loc["3", "story_id"] != o.loc["1", "story_id"]
    stories = state.stories.toPandas().set_index("story_id")
    assert len(stories) == 2
    assert stories.loc[o.loc["1", "story_id"], "n_members"] == 2
    # centroid of the 2-member story = mean of members (identical vecs)
    import numpy as np

    assert np.allclose(stories.loc[o.loc["1", "story_id"], "centroid"], vec)


def test_cold_start_mints_10k_without_driver_collect(spark):
    """VERDICT round-1 What's-wrong #1: a cold batch where EVERY article
    mints must not collect rows to the driver. 10k mints in one batch."""
    from newsify_spark.streaming.pipeline import run_microbatched

    n = 10_000
    # orthogonal-ish sparse vectors: article i sets component i%64 to i+1
    rows = spark.range(n).select(
        F.col("id").cast("string").alias("article_id"),
        F.expr(
            "transform(sequence(0, 63), p -> CASE WHEN p = id % 64 "
            "THEN CAST(id + 1 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END)"
        ).alias("embedding"),
    )
    out, state = run_microbatched([rows], threshold=0.999999)
    o = out.toPandas()
    assert len(o) == n and o.article_id.is_unique
    # same-direction vectors (i % 64 == j % 64 => cosine 1) cluster;
    # leaders are one per direction bucket
    stories = state.stories.toPandas()
    assert len(stories) == 64
    assert stories.n_members.sum() == n
    assert int(state.next_id) == 64
    # sequential executor-minted ids
    nums = sorted(int(s.split("_")[1]) for s in stories.story_id)
    assert nums == list(range(64))


def test_kafka_source_wiring_reaches_kafka_lookup(spark):
    """format('kafka') wiring (S4/S5 production path): without the
    connector jar the DataSource lookup must fail ON THE KAFKA SOURCE
    (proving the plan wires kafka); with the jar present the plan
    constructs and is streaming."""
    from newsify_spark.streaming.kafka import kafka_json_source

    try:
        df = kafka_json_source(spark, "article_id string, text string")
    except Exception as e:
        assert "kafka" in str(e).lower()
    else:
        assert df.isStreaming
        assert "msg_key" in df.columns and "article_id" in df.columns


def test_article_stream_config_switch(spark, tmp_path):
    """newsify.stream.source flips file-stand-in vs kafka with no code
    change; the files path yields a streaming frame with the same
    downstream schema."""
    import shutil

    from newsify_spark.streaming.kafka import SOURCE_CONF, article_stream

    src = tmp_path / "arts"
    src.mkdir()
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(10)
        .select(F.col("vec_id").cast("string").alias("article_id"), "embedding")
    )
    emb.coalesce(1).write.parquet(str(src / "b0"))
    spark.conf.set(SOURCE_CONF, "files")
    try:
        st = article_stream(
            spark, "article_id string, embedding array<float>",
            files_path=str(src) + "/*",
        )
        assert st.isStreaming and st.columns == ["article_id", "embedding"]
    finally:
        spark.conf.unset(SOURCE_CONF)


def test_session_window_stream_batch_parity(spark, tmp_path):
    """Native session_window sessions emitted by the streaming form match
    the batch form over the same data. Append mode only emits a session
    once the watermark passes its end, so a far-future sentinel event
    (filtered from the comparison) pushes the watermark past every real
    session."""
    import datetime

    from newsify_spark.queries.sessions import sessionized_stream, stream_session_windows

    sf = "/root/testdata/sf0.001"
    batch = stream_session_windows(spark, sf)
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    )
    assert len(want) > 0

    from newsify_spark.tables import load

    ev = load(spark, sf, "events").select("user_id", "ts")
    src = str(tmp_path / "sess_src")
    ev.coalesce(1).write.parquet(src)
    far = ev.agg(F.max("ts").alias("m")).first()["m"] + datetime.timedelta(days=30)
    sentinel = spark.createDataFrame([(999_999_999, far)], "user_id bigint, ts timestamp")
    sentinel.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionized_stream(stream, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql(
            "SELECT * FROM sess_out WHERE user_id < 999999999"
        ).collect()
    )
    assert got == want


def test_stream_stream_interval_join_parity(spark, tmp_path):
    """Stream-stream interval join returns the same pairs as the batch
    join over the same data (watermark generous enough to emit all)."""
    from newsify_spark.streaming.pipeline import stream_stream_interval_join

    import datetime

    base = datetime.datetime(2024, 5, 1, 12, 0, 0)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    views = [(1, ts(0), 100), (1, ts(90), 101), (2, ts(10), 102), (3, ts(5), 103)]
    clicks = [(1, ts(30), 900), (1, ts(95), 901), (2, ts(80), 902), (3, ts(4), 903)]
    vdf = spark.createDataFrame(views, "user_id bigint, view_ts timestamp, view_id bigint")
    cdf = spark.createDataFrame(clicks, "user_id bigint, click_ts timestamp, click_id bigint")

    batch_pairs = sorted(
        (r["view_id"], r["click_id"])
        for r in stream_stream_interval_join(vdf, cdf).collect()
    )
    # expected: view 100 -> clicks 30' (in 1h); view 101 -> click 95';
    # view 102 -> click 80' (70' later: out); user 3 click precedes view: out
    assert batch_pairs == [(100, 900), (101, 901)]

    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    vdf.write.parquet(vdir)
    cdf.write.parquet(cdir)
    vs = spark.readStream.schema(vdf.schema).parquet(vdir)
    cs = spark.readStream.schema(cdf.schema).parquet(cdir)
    q = (
        stream_stream_interval_join(vs, cs)
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_pairs = sorted(
        (r["view_id"], r["click_id"]) for r in spark.sql("SELECT * FROM ssj").collect()
    )
    assert stream_pairs == batch_pairs


def test_foreachbatch_soak_bounded_memory(spark):
    """50-batch soak of the foreachBatch clustering body (VERDICT r3 item
    #9): cached-RDD storage must stay bounded (regression guard for the
    round-2 cache-growth fix) and the carried state must stay
    lineage-truncated (plan size flat, not nesting one level per batch)."""
    import gc

    from newsify_spark.streaming.pipeline import StoryState, assign_batch_to_stories

    sc = spark.sparkContext
    state = StoryState(threshold=0.95)
    plan_sizes, storage_counts = [], []
    for i in range(50):
        # 20 articles/batch, dim 8; every 3rd batch repeats earlier ids'
        # vectors so both the match path and the mint path stay exercised
        base = (i % 3) * 1000
        batch = spark.range(20).select(
            F.concat(F.lit("a"), (F.col("id") + i * 20)).alias("article_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: F.sin(j * (F.col("id") + F.lit(base)) + 1.0),
            ).alias("embedding"),
        )
        out = assign_batch_to_stories(batch, state)
        assert out.count() == 20
        del out
        if i % 10 == 9:
            gc.collect()  # let ContextCleaner drop unreferenced checkpoints
            spark.sparkContext._jvm.System.gc()
            plan_sizes.append(
                len(state.stories._jdf.queryExecution().analyzed().toString())
            )
            storage_counts.append(len(sc._jsc.sc().getRDDStorageInfo()))

    # lineage truncation: the state plan is a flat ExistingRDD scan whose
    # printed size does not grow with batch count
    assert max(plan_sizes) <= 2 * min(plan_sizes) + 500, plan_sizes
    # bounded storage: checkpointed RDD count must not trend with batch
    # count (each batch takes ~6 local checkpoints; the ContextCleaner
    # frees them once unreachable)
    assert storage_counts[-1] <= storage_counts[0] + 10, storage_counts
    assert state.stories.count() > 0


def test_streaming_heavy_hitters_no_false_negatives(spark, tmp_path):
    """The stateful MG stream must emit every TRUE heavy hitter of the
    data seen so far in its final micro-batch emission (candidates may
    include extras; exact recount is the downstream batch phase)."""
    from newsify_spark.streaming.stateful import streaming_heavy_hitters

    # 3 micro-batches; "hot" is spread evenly so it is never batch-local
    # heavy; tail is high-cardinality noise
    rows = []
    for b in range(3):
        for i in range(1000):
            rows.append(("hot",) if i % 50 == 0 else (f"t{b}_{i % 397}",))
    src = tmp_path / "items"
    src.mkdir()
    per = len(rows) // 3
    for b in range(3):
        spark.createDataFrame(rows[b * per : (b + 1) * per], "item string") \
            .coalesce(1).write.parquet(str(src / f"b{b}"))

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    phi = 0.015
    q = (
        streaming_heavy_hitters(stream, "item", phi=phi)
        .writeStream.format("memory")
        .queryName("hh_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM hh_out").toPandas()
    finally:
        q.stop()

    n_total = len(rows)
    final = got[got.n_seen == n_total]
    assert len(final) > 0, got
    import collections

    exact = collections.Counter(r[0] for r in rows)
    true_hh = {i for i, c in exact.items() if c >= phi * n_total}
    assert "hot" in true_hh  # 60/3000 = 2% >= phi
    assert true_hh <= set(final.item), (true_hh, set(final.item))
    # MG counts never exceed true counts
    for r in final.itertuples():
        assert r.mg_count <= exact[r.item]


def test_streaming_ingest_dedup_cross_and_within_batch(spark, tmp_path):
    """3-batch ingest: within-batch dup dropped, cross-batch dup dropped
    against the signature store (no corpus re-read), novel docs kept;
    store grows only by survivors."""
    from newsify_spark.streaming.ingest import ingest_batch, load_signature_store

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    b0 = mk([(1, base), (2, base + " extra"), (3, "completely different words entirely")])
    s0 = ingest_batch(b0, 0, store, out)
    # 1 and 2 are near-dups within the batch -> min-id 1 survives
    assert sorted(r.doc_id for r in s0.collect()) == [1, 3]

    b1 = mk([(10, base), (11, "fresh unseen content about spark engines")])
    s1 = ingest_batch(b1, 1, store, out)
    # 10 duplicates doc 1 from batch 0 — caught from SIGNATURES alone
    assert sorted(r.doc_id for r in s1.collect()) == [11]

    b2 = mk([(20, "fresh unseen content about spark engines")])
    s2 = ingest_batch(b2, 2, store, out)
    assert [r.doc_id for r in s2.collect()] == []  # dup of 11

    sigs = load_signature_store(spark, store)
    assert sorted(r.doc_id for r in sigs.collect()) == [1, 3, 11]
    corpus = spark.read.parquet(out)
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 3, 11]


def test_streaming_ingest_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch id (foreachBatch replay after failure) rewrites
    its own partitions instead of appending duplicates — and excludes its
    own earlier write from the store it checks against."""
    from newsify_spark.streaming.ingest import ingest_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    b = mk([(1, "some document text with enough words to shingle properly here")])
    first = ingest_batch(b, 0, store, out)
    assert [r.doc_id for r in first.collect()] == [1]
    replay = ingest_batch(b, 0, store, out)
    # replay sees the store WITHOUT its own partition -> doc 1 survives again
    assert [r.doc_id for r in replay.collect()] == [1]
    assert spark.read.parquet(out).count() == 1
    assert spark.read.parquet(store).groupBy("doc_id").count().filter("count > 1").count() == 0
    # persisted-bitmap path is replay-idempotent too: the bloom word
    # store holds exactly ONE batch partition (the replay overwrote its
    # own), and the merged bitmap equals a fresh build over the store's
    # hashes — replays never double-set or leak stale bits
    from newsify_spark.operators.bloom import bloom_build_words, load_bloom_store_df

    words, m_bits = load_bloom_store_df(spark, f"{store}_bloom")
    assert m_bits is not None
    bdirs = spark.read.option("basePath", f"{store}_bloom").parquet(f"{store}_bloom")
    assert [r.batch for r in bdirs.select("batch").distinct().collect()] == [0]
    fresh = bloom_build_words(
        spark.read.parquet(store).select("text_hash"), "text_hash", m_bits
    )
    got = sorted((r.word, r.bits) for r in words.collect())
    want = sorted((r.word, r.bits) for r in fresh.select("word", "bits").collect())
    assert got == want


def test_streaming_ingest_txn_bronze_replay_exactly_once(spark, tmp_path):
    """txn_bronze=True composes the exactly-once sink into the ingest
    pipeline (VERDICT r7 #6): survivors land on the COW transaction log
    via idempotent_append, so a restart replaying a batch id cannot
    double-append — the bronze table holds each batch exactly once,
    with per-batch provenance in the _batch column."""
    from newsify_spark.operators import txnlog as T
    from newsify_spark.streaming.ingest import ingest_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "bronze")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    b0 = mk([(1, "some document text with enough words to shingle properly here")])
    b1 = mk([(2, "a completely different second document about engines and parquet")])

    ingest_batch(b0, 0, store, out, txn_bronze=True)
    ingest_batch(b1, 1, store, out, txn_bronze=True)
    # restart: foreachBatch replays the LAST batch with the same id
    ingest_batch(b1, 1, store, out, txn_bronze=True)
    # ...and a buggy source replaying an even older id is also a no-op
    ingest_batch(b0, 0, store, out, txn_bronze=True)

    bronze = T.read_table(spark, out)
    per_batch = {
        r._batch: r.n
        for r in bronze.groupBy("_batch").agg(F.count("*").alias("n")).collect()
    }
    assert per_batch == {0: 1, 1: 1}  # each batch exactly once
    assert sorted(r.doc_id for r in bronze.collect()) == [1, 2]
    # the log shows exactly the two real appends (no replay commits)
    marks = [e["txn"]["batch_id"] for e in T.history(out) if e.get("txn")]
    assert marks == [0, 1]
    # snapshot isolation bonus: version 0 still reads batch 0 alone
    assert [r.doc_id for r in T.read_table(spark, out, version=0).collect()] == [1]


def test_streaming_ingest_to_cdc_curation_end_to_end(spark, tmp_path):
    """The living-corpus loop with ZERO new glue: streaming ingest lands
    deduped survivors on the bronze txnlog exactly once; each trigger's
    commits surface in the change feed; the feed incrementally maintains
    the curation verdict table (operators.curation), which stays
    bit-equal to a full recompute over the bronze snapshot after every
    batch — including a replayed batch, which produces NO new commit and
    therefore no re-curation work at all."""
    from newsify_spark.operators import txnlog as T
    from newsify_spark.operators.curation import (
        apply_changes_to_verdicts,
        curated_from_verdicts,
        curation_verdicts,
    )
    from newsify_spark.streaming.ingest import ingest_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "bronze")
    texts = {
        1: "the quick brown fox jumps over the lazy dog in the morning",
        2: "a second document with the usual words of it and for the gate",
        3: "the quick brown fox jumps over the lazy dog in the morning",  # dup of 1
        4: "buy buy buy buy buy buy now now now now now now",
    }
    mk = lambda ids: spark.createDataFrame(
        [(i, "stream", len(texts[i]), texts[i]) for i in ids],
        "doc_id long, source string, n_chars long, text string",
    )

    verdicts = None
    synced_upto = -1

    def sync() -> None:
        nonlocal verdicts, synced_upto
        latest = len(T.history(out)) - 1
        if latest <= synced_upto:
            return  # replayed batch: no commit, no curation work
        changes = T.read_changes(spark, out, synced_upto + 1, latest).select(
            "_change_type", "_commit_version", "doc_id", "source", "n_chars", "text"
        )
        if verdicts is None:
            verdicts = apply_changes_to_verdicts(
                curation_verdicts(
                    T.read_table(spark, out).select(
                        "doc_id", "source", "n_chars", "text"
                    )
                ).limit(0),
                changes,
            )
        else:
            verdicts = apply_changes_to_verdicts(verdicts, changes)
        verdicts = verdicts.localCheckpoint(eager=True)
        synced_upto = latest

    ingest_batch(mk([1, 2]), 0, store, out, txn_bronze=True)
    sync()
    ingest_batch(mk([3, 4]), 1, store, out, txn_bronze=True)  # 3 deduped away
    sync()
    before_replay = synced_upto
    ingest_batch(mk([3, 4]), 1, store, out, txn_bronze=True)  # replay: no-op
    sync()
    assert synced_upto == before_replay  # the replay minted no commit

    snapshot = T.read_table(spark, out).select("doc_id", "source", "n_chars", "text")
    assert sorted(r.doc_id for r in snapshot.collect()) == [1, 2, 4]  # 3 deduped
    full = curation_verdicts(snapshot)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(verdicts) == rows(full)
    assert rows(curated_from_verdicts(verdicts)) == rows(curated_from_verdicts(full))


def test_dedup_ingest_stream_end_to_end(spark, tmp_path):
    """Real readStream -> foreachBatch -> store/corpus round trip."""
    from newsify_spark.streaming.ingest import dedup_ingest_stream

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # single flat files — the file-stream source does not recurse into
    # Spark-written .parquet directories
    pq.write_table(pa.table({"doc_id": pa.array([1], "int64"), "text": [txt]}), src / "f0.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([2], "int64"), "text": [txt]}), src / "f1.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = dedup_ingest_stream(
        stream,
        str(tmp_path / "store"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    # under full-suite load the availableNow run can exceed 120s; make
    # an unfinished stream a distinct failure instead of reading a
    # half-written corpus
    finished = q.awaitTermination(420)
    assert finished, "ingest stream still running after 420s"
    corpus = spark.read.parquet(str(tmp_path / "out"))
    # doc 2 is an exact dup of doc 1: EXACTLY one survives. Which one is
    # batch-order-dependent — the file source orders by modification
    # time, and the two fixture files can share an mtime, so under load
    # either may ingest first. The dedup contract is one-survivor, not
    # which-survivor.
    survivors = sorted(r.doc_id for r in corpus.collect())
    assert survivors in ([1], [2]), survivors


def test_streaming_ingest_bloom_fast_path_drops_exact_redelivery(spark, tmp_path):
    """An exact re-delivery of an ingested doc is dropped by the bloom
    fast path (store carries text_hash), and the final corpus equals
    what the MinHash-only path would produce — bloom is cost-only."""
    from newsify_spark.streaming.ingest import ingest_batch, load_signature_store

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    t1 = "some document text with enough words to shingle properly here"
    t2 = "an entirely different second document mentioning other things now"
    ingest_batch(mk([(1, t1), (2, t2)]), 0, store, out)
    sigs = load_signature_store(spark, store)
    assert "text_hash" in sigs.columns  # new store layout

    # redeliver doc 1 verbatim (new id — at-least-once producers re-key),
    # plus one novel doc
    s1 = ingest_batch(mk([(10, t1), (11, "a third totally novel text about engines")]), 1, store, out)
    assert sorted(r.doc_id for r in s1.collect()) == [11]
    corpus = spark.read.parquet(out)
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2, 11]


def test_ingest_bloom_migration_persists_store(spark, tmp_path):
    """A signature store that predates the bloom store triggers the
    one-time migration build — which must PERSIST under the reserved
    batch=-1 partition (ADVICE r6): without the write, later batches
    (which skip the migration branch because the store now exists) would
    probe a bitmap missing every pre-migration key."""
    import shutil

    from newsify_spark.operators.bloom import bloom_build_words, load_bloom_store_df
    from newsify_spark.streaming.ingest import MIGRATION_BATCH_ID, ingest_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    t1 = "some document text with enough words to shingle properly here"
    t2 = "an entirely different second document mentioning other things now"
    ingest_batch(mk([(1, t1), (2, t2)]), 0, store, out)
    shutil.rmtree(f"{store}_bloom")  # simulate a pre-bloom-era store

    s1 = ingest_batch(mk([(10, "a third totally novel text about engines")]), 1, store, out)
    assert [r.doc_id for r in s1.collect()] == [10]
    bloom = spark.read.option("basePath", f"{store}_bloom").parquet(f"{store}_bloom")
    parts = sorted(r.batch for r in bloom.select("batch").distinct().collect())
    assert parts == [MIGRATION_BATCH_ID, 1]
    # the merged store covers the PRE-migration corpus: every bit of a
    # fresh build over the historical hashes is set in the merged bitmap
    words, m_bits = load_bloom_store_df(spark, f"{store}_bloom")
    hist = bloom_build_words(
        spark.read.parquet(store).filter("batch = 0").select("text_hash"),
        "text_hash",
        m_bits,
    )
    merged = {r.word: r.bits for r in words.collect()}
    for r in hist.collect():
        assert merged.get(r.word, 0) & r.bits == r.bits

    # exact redelivery of a PRE-migration doc is still dropped
    s2 = ingest_batch(mk([(20, t1)]), 2, store, out)
    assert [r.doc_id for r in s2.collect()] == []


def test_micro_batch_body_caches_nothing(spark, tmp_path, monkeypatch):
    """The micro-batch body (ingest_batch + assign_batch_to_stories) hands
    its intermediates off as eager local checkpoints: over a 3-batch
    stream with an exact re-delivery and a near-duplicate it never calls
    persist or cache, leaves the session CacheManager empty, and once the
    batch frames are unreachable the ContextCleaner frees their blocks —
    stored RDDs do not grow with the batch count."""
    import gc
    import time

    from pyspark.sql.classic.dataframe import DataFrame

    from newsify_spark.streaming.ingest import ingest_batch
    from newsify_spark.streaming.pipeline import StoryState, assign_batch_to_stories

    calls = []
    for name in ("persist", "cache"):

        def spy(self, *a, _name=name, _orig=getattr(DataFrame, name), **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, spy)

    sc = spark.sparkContext

    def stored_rdds():
        return len(sc._jsc.sc().getRDDStorageInfo())

    spark.catalog.clearCache()
    before = stored_rdds()
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    text = {i: " ".join(f"w{i}_{k}" for k in range(30)) for i in range(1, 5)}
    near3 = text[3].rsplit(" ", 1)[0] + " edited"  # word-3-shingle Jaccard 27/29
    batches = [
        ([(1, text[1]), (2, text[2])], [1, 2]),
        ([(10, text[1]), (3, text[3])], [3]),  # 10: exact re-delivery of 1
        ([(20, near3), (4, text[4])], [4]),  # 20: near-duplicate of 3
    ]
    state = StoryState(threshold=0.95)
    for batch_id, (rows, want) in enumerate(batches):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        kept = ingest_batch(docs, batch_id, store, out)
        arts = kept.select(
            F.col("doc_id").cast("string").alias("article_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: F.sin(j * F.col("doc_id") + 1.0),
            ).alias("embedding"),
        )
        got = assign_batch_to_stories(arts, state).collect()
        assert sorted(int(r.article_id) for r in got) == want
        del docs, kept, arts, got

    assert not calls, calls
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # only the carried state.stories checkpoint stays reachable
    for _ in range(20):
        gc.collect()
        sc._jvm.System.gc()
        if stored_rdds() <= before + 3:
            break
        time.sleep(0.5)
    assert stored_rdds() <= before + 3, (before, stored_rdds())


def test_expire_store_batches_redis_ttl_semantics(spark, tmp_path):
    """Store retention (the reference's Redis-TTL dedup re-expressed):
    expiring old batch partitions bounds the store, survivors keep
    deduping, and a doc whose only signature lived in an expired batch
    RE-ENTERS on redelivery — the documented TTL trade. The migration
    partition (batch=-1) is protected by default."""
    import os

    from newsify_spark.operators.bloom import (
        bloom_build_words,
        load_bloom_store_df,
        save_bloom_partition,
    )
    from newsify_spark.streaming.ingest import (
        MIGRATION_BATCH_ID,
        expire_store_batches,
        ingest_batch,
    )

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    t0 = "an early document about engines with enough words to shingle here"
    t1 = "a later document about parquet layouts with plenty of words too"
    ingest_batch(mk([(1, t0)]), 0, store, out)
    ingest_batch(mk([(2, t1)]), 1, store, out)
    # add a protected migration partition to the bloom store (at the
    # store's canonical m — partitions at mixed m do not merge)
    _w, m_bits = load_bloom_store_df(spark, f"{store}_bloom")
    hashes = spark.createDataFrame([("00",)], "text_hash string")
    save_bloom_partition(
        bloom_build_words(hashes, "text_hash", m_bits), f"{store}_bloom", MIGRATION_BATCH_ID
    )

    assert expire_store_batches(store, keep_last=1) == [0]
    assert expire_store_batches(f"{store}_bloom", keep_last=1) == [0]
    assert sorted(os.listdir(store)) == ["batch=1"]
    assert sorted(os.listdir(f"{store}_bloom")) == ["batch=-1", "batch=1"]

    # redeliver the EXPIRED doc verbatim: its signature is gone, so it
    # re-enters (TTL semantics); the surviving batch still dedups
    s2 = ingest_batch(mk([(10, t0), (11, t1)]), 2, store, out)
    assert sorted(r.doc_id for r in s2.collect()) == [10]
    # empty store edge + bad arg
    assert expire_store_batches(str(tmp_path / "missing"), keep_last=3) == []
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_last"):
        expire_store_batches(store, keep_last=-1)


def test_freq_cap_admits_at_most_cap_per_key_across_batches(spark, tmp_path):
    """CM-sketch-backed streaming frequency cap: a hot key is admitted
    up to cap across batches, cold keys pass untouched, and the sketch
    store stays d*w-bounded per batch partition."""
    from newsify_spark.streaming.freqcap import cap_batch, load_sketch_store

    store = str(tmp_path / "cms_store")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, source string")

    # batch 0: hot source sends 3, cap is 4 -> all 3 admitted
    b0 = mk([(1, "hot"), (2, "hot"), (3, "hot"), (4, "cold")])
    a0 = cap_batch(b0, 0, store, "source", "doc_id", cap=4, width=64)
    assert sorted(r.doc_id for r in a0.collect()) == [1, 2, 3, 4]

    # batch 1: hot sends 3 more -> only 1 admitted (budget 4-3); cold fine
    b1 = mk([(10, "hot"), (11, "hot"), (12, "hot"), (13, "cold")])
    a1 = cap_batch(b1, 1, store, "source", "doc_id", cap=4, width=64)
    assert sorted(r.doc_id for r in a1.collect()) == [10, 13]

    # batch 2: hot is fully capped out
    b2 = mk([(20, "hot"), (21, "cold")])
    a2 = cap_batch(b2, 2, store, "source", "doc_id", cap=4, width=64)
    assert sorted(r.doc_id for r in a2.collect()) == [21]

    # store stays sketch-sized: <= d*w rows after merging all batches
    assert load_sketch_store(spark, store).count() <= 4 * 64


def test_freq_cap_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch id admits the SAME rows (deterministic order,
    own partition excluded from the store it reads)."""
    from newsify_spark.streaming.freqcap import cap_batch

    store = str(tmp_path / "cms_store")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, source string")
    b = mk([(1, "s"), (2, "s"), (3, "s")])
    first = sorted(r.doc_id for r in cap_batch(b, 0, store, "source", "doc_id", cap=2).collect())
    replay = sorted(r.doc_id for r in cap_batch(b, 0, store, "source", "doc_id", cap=2).collect())
    assert first == replay == [1, 2]


def test_streaming_perplexity_scoring_matches_batch(spark, tmp_path):
    """The CCNet quality filter AT INGEST: a bigram LM trained offline
    (operators.ngram_lm) scores documents inside a live
    readStream -> foreachBatch(score_perplexity) -> parquet pipeline —
    the model tables are static DataFrames the per-batch join reuses
    (stream-static join, Spark's blessed serving shape). Streamed
    scores must equal the batch run exactly; a doc is score-complete
    within its micro-batch (documents arrive whole), so append
    semantics hold without a watermark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from newsify_spark.operators.ngram_lm import (
        score_perplexity,
        train_bigram_lm,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    train = docs.filter(F.col("doc_id") % 2 == 0)
    ev = docs.filter(F.col("doc_id") % 2 == 1)
    model = train_bigram_lm(train)
    want = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in score_perplexity(ev, model).collect()
    }

    rows = ev.toPandas().sort_values("doc_id")
    src = tmp_path / "src"
    src.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows.iloc[i * third : (i + 1) * third if i < 2 else len(rows)]
        if len(chunk):
            pq.write_table(
                pa.Table.from_pandas(chunk, preserve_index=False),
                src / f"f{i}.parquet",
            )

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )

    def score_batch(batch_df, batch_id):
        score_perplexity(batch_df, model).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_txnlog_exactly_once_streaming_sink(spark, tmp_path):
    """A readStream -> foreachBatch(exactly_once_sink) pipeline lands
    each micro-batch once; re-running idempotent_append with an
    already-committed batch id (the crash-replay case foreachBatch's
    at-least-once contract allows) is a no-op, and a genuinely new
    batch still appends."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from newsify_spark.operators import txnlog as T

    path = str(tmp_path / "table")
    seed = spark.createDataFrame([(0, "seed")], ["k", "tag"])
    T.create_table(spark, path, seed)

    rows = [(i, f"r{i}") for i in range(1, 41)]
    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        chunk = rows[i * 20 : (i + 1) * 20]
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(chunk, columns=["k", "tag"]), preserve_index=False
            ),
            src / f"f{i}.parquet",
        )

    stream = (
        spark.readStream.schema("k long, tag string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(T.exactly_once_sink(spark, path, "ingest"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert T.read_table(spark, path).count() == 41
    assert T.last_committed_batch(path, "ingest") == 1

    # crash-replay: batch 1 redelivered -> no-op, nothing double-lands
    replay = spark.createDataFrame(rows[20:], ["k", "tag"])
    assert T.idempotent_append(spark, path, replay, "ingest", 1) is None
    assert T.read_table(spark, path).count() == 41

    # a new batch id still lands, and another app's ids are independent
    assert T.idempotent_append(
        spark, path, spark.createDataFrame([(99, "x")], ["k", "tag"]),
        "ingest", 2,
    ) is not None
    assert T.idempotent_append(
        spark, path, spark.createDataFrame([(100, "y")], ["k", "tag"]),
        "backfill", 0,
    ) is not None
    assert T.read_table(spark, path).count() == 43


def test_cdf_stream_equals_batch_over_50_commits(spark, tmp_path):
    """Streaming CDF source (VERDICT r10 #7): commit versions are the
    offsets. Over a 50-commit history (appends, upserts, deletes,
    no-op deletes), the streamed per-batch feed unions to exactly the
    one-shot batch read_changes, the net_changes collapse agrees, batch
    ids arrive in commit order, and resuming from a mid offset yields
    exactly the tail."""
    from newsify_spark.operators import txnlog as T
    from newsify_spark.operators.txnlog import net_changes
    from newsify_spark.streaming.cdf import run_cdf_feed, stream_changes

    path = str(tmp_path / "t")
    T.create_table(
        spark,
        path,
        spark.range(20).select(F.col("id").alias("k"), F.lit("v0").alias("s")),
    )
    import random

    rng = random.Random(11)
    for i in range(1, 50):
        kind = i % 5
        if kind in (0, 1, 2):  # append new keys
            lo = 1000 * i
            T.append_rows(
                spark,
                path,
                spark.range(lo, lo + 3).select(
                    F.col("id").alias("k"), F.lit(f"a{i}").alias("s")
                ),
            )
        elif kind == 3:  # upsert an existing + a new key
            T.upsert_rows(
                spark,
                path,
                spark.createDataFrame(
                    [(rng.randrange(20), f"u{i}"), (90_000 + i, f"n{i}")],
                    "k long, s string",
                ),
                ["k"],
            )
        else:  # delete (sometimes a no-op key set)
            key = rng.randrange(20) if i % 10 else 777_777
            T.delete_rows(
                spark,
                path,
                spark.createDataFrame([(key,)], "k long"),
                ["k"],
            )

    cols = ["_change_type", "_commit_version", "k", "s"]
    batch = T.read_changes(spark, path, 1).select(*cols)
    batch_rows = sorted(map(tuple, batch.collect()))
    # collect per micro-batch: unioning ~44 read_changes plans (each
    # with its own exceptAll pair) into one DataFrame builds a plan big
    # enough to OOM the long-lived test JVM — the parity contract is on
    # ROWS, so compare collected row multisets instead
    streamed_rows: list = []
    ids = []

    def consume(df, bid):
        streamed_rows.extend(map(tuple, df.select(*cols).collect()))
        ids.append(bid)

    last = run_cdf_feed(spark, path, consume, from_version=1)
    assert last == max(ids) and ids == sorted(ids)
    assert sorted(streamed_rows) == batch_rows
    # net-state collapse parity (streamed rows re-enter as one small
    # local DataFrame — plan size is O(1), not O(batches))
    streamed_df = spark.createDataFrame(
        streamed_rows, batch.select(*cols).schema
    )
    net_b = sorted(map(tuple, net_changes(batch, "k").select(*cols).collect()))
    net_s = sorted(map(tuple, net_changes(streamed_df, "k").select(*cols).collect()))
    assert net_s == net_b
    # resume from a mid offset == the batch tail
    tail_rows: list = []
    for _, _, df in stream_changes(spark, path, 30):
        tail_rows.extend(map(tuple, df.select(*cols).collect()))
    want_tail = T.read_changes(spark, path, 30).select(*cols)
    assert sorted(tail_rows) == sorted(map(tuple, want_tail.collect()))
    # multi-commit chunks cover the same rows
    n_chunky = 0
    for _, _, df in stream_changes(spark, path, 1, batch_commits=7):
        n_chunky += df.count()
    assert n_chunky == len(batch_rows)


def test_cdf_feed_drives_bm25_index_like_batch(spark, tmp_path):
    """The CDC consumers follow the stream exactly as they follow the
    one-shot batch feed: driving sync_bm25_from_changes per micro-batch
    leaves the index probe-identical to one batch sync AND to a fresh
    build over the mutated table."""
    from newsify_spark.operators import txnlog as T
    from newsify_spark.operators.bm25 import (
        bm25_topk_from_index,
        save_bm25_index,
        sync_bm25_from_changes,
    )
    from newsify_spark.streaming.cdf import run_cdf_feed

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join hash"),
            (2, "hash join probe build"),
            (3, "sort merge join spill"),
            (4, "window rank dense partition"),
        ],
        "doc_id long, text string",
    )
    table = str(tmp_path / "t")
    T.create_table(spark, table, docs.repartitionByRange(2, "doc_id"))
    ix_stream = str(tmp_path / "ix_stream")
    ix_batch = str(tmp_path / "ix_batch")
    base = T.read_table(spark, table)
    save_bm25_index(spark, ix_stream, base)
    save_bm25_index(spark, ix_batch, base)

    T.upsert_rows(
        spark,
        table,
        spark.createDataFrame(
            [(2, "vector scan filter pushdown"), (6, "hash aggregate exchange")],
            "doc_id long, text string",
        ),
        ["doc_id"],
    )
    T.delete_rows(spark, table, spark.createDataFrame([(3,)], "doc_id long"), ["doc_id"])
    T.upsert_rows(
        spark,
        table,
        spark.createDataFrame([(7, "bloom filter pushdown probe")], "doc_id long, text string"),
        ["doc_id"],
    )

    run_cdf_feed(
        spark,
        table,
        lambda df, bid: sync_bm25_from_changes(spark, ix_stream, df),
        from_version=1,
    )
    sync_bm25_from_changes(spark, ix_batch, T.read_changes(spark, table, 1))
    fresh = str(tmp_path / "ix_fresh")
    save_bm25_index(spark, fresh, T.read_table(spark, table))

    queries = spark.createDataFrame(
        [(1, ["hash", "join"]), (2, ["filter", "pushdown"]), (3, ["rank"])],
        "query_id long, terms array<string>",
    )
    outs = [
        sorted(
            map(
                tuple,
                bm25_topk_from_index(spark, ix, queries, k=4)
                .select("query_id", "doc_id", F.round("score", 6).alias("score"))
                .collect(),
            )
        )
        for ix in (ix_stream, ix_batch, fresh)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_cdf_stream_noop_detection_is_structural(spark, tmp_path):
    """stream_changes must detect no-op chunks from the LOG (empty
    add+remove lists), never by swallowing read_changes' ValueError —
    which silently dropped a micro-batch on any other raise path, data
    loss the consumer cannot detect (ADVICE r11 #4)."""
    import pytest

    from newsify_spark.operators import txnlog as T
    from newsify_spark.streaming import cdf

    path = str(tmp_path / "t")
    T.create_table(
        spark,
        path,
        spark.range(10).select(F.col("id").alias("k"), F.lit("v").alias("s")),
    )
    # v1: real append; v2: no-op delete (absent key); v3: real append
    T.append_rows(
        spark,
        path,
        spark.range(100, 103).select(F.col("id").alias("k"), F.lit("a").alias("s")),
    )
    T.delete_rows(spark, path, spark.createDataFrame([(999,)], "k long"), ["k"])
    T.append_rows(
        spark,
        path,
        spark.range(200, 202).select(F.col("id").alias("k"), F.lit("b").alias("s")),
    )
    # the no-op chunk is skipped WITHOUT calling read_changes
    calls = []
    real = cdf.read_changes

    def counting(sp, p, lo, hi):
        calls.append((lo, hi))
        return real(sp, p, lo, hi)

    orig = cdf.read_changes
    cdf.read_changes = counting
    try:
        got = [(lo, hi) for lo, hi, _ in cdf.stream_changes(spark, path, 1)]
    finally:
        cdf.read_changes = orig
    assert got == [(1, 1), (3, 3)]
    assert calls == [(1, 1), (3, 3)]  # v2 never reached read_changes
    # any real ValueError out of read_changes PROPAGATES (e.g. the
    # footer-probe cap) instead of being reclassified as a no-op
    def boom(sp, p, lo, hi):
        raise ValueError("footer probe cap exceeded; use stream_changes")

    cdf.read_changes = boom
    try:
        with pytest.raises(ValueError, match="footer probe cap"):
            list(cdf.stream_changes(spark, path, 1))
    finally:
        cdf.read_changes = orig
