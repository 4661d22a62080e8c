"""The benchmark workloads. Each one measures the package from outside:
it calls the public functions of ``newsify_spark`` and times those calls.

Each workload is a pair. ``prepare_*`` generates the seeded inputs with
no Spark session (never timed). ``run_*`` gets a ``Ctx`` with a live
session, does its own warm-up, marks the first timed call with
``ctx.start_timing()``, repeats its unit of work until ``ctx.seconds``
have passed, checks every output after the timed region and returns an
``Outcome``.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

from gen import SIZES, event_batch, serve_round, stream_batches, write_pipeline_inputs
from measure import Tracer, dir_size, median, peak_rss_mb, probe, reset_peak_rss, subtree_cpu_s

GOLD = (
    "silver_articles",
    "silver_article_stories",
    "gold_stories",
    "gold_recommendations",
    "gold_bias_reports",
)
READ_OPS = (
    "get_recommendations",
    "get_recommendations_fallback",
    "latest_stories",
    "get_story",
    "latest_bias_reports",
    "drift_score",
)
WRITE_OPS = ("track_events", "upsert_recommendations")
UNKNOWN_USER = 1_000_000_000


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    size_name: str
    work: str
    tracer: Tracer
    setup_done_at: float = 0.0
    probe_time: float = 0.0  # seconds the first probe took, kept out of setup_s
    probes: list = field(default_factory=list)  # (wall, cpu) before and after
    t_start: float = 0.0
    wall_region: float = 0.0  # whole timed region, for the trace summary

    @property
    def size(self):
        return SIZES[self.size_name]

    def start_timing(self) -> None:
        """End of set-up: probe the host, forget warm-up spans, reset the
        peak-RSS marks and start the timed region."""
        t0 = time.perf_counter()
        self.probes.append(probe(self.spark))
        self.tracer.discard()
        self.setup_done_at = time.perf_counter()
        self.probe_time = self.setup_done_at - t0
        reset_peak_rss()
        self.t_start = time.perf_counter()

    def stop_timing(self, out: "Outcome") -> None:
        self.wall_region = time.perf_counter() - self.t_start
        out.e2e["peak_rss_mb"] = peak_rss_mb()
        self.probes.append(probe(self.spark))


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def persisted_count(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def drop_all_caches(spark) -> None:
    """Release every cached plan and persisted RDD so that no timed call
    reads a cache left by an earlier one."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


# --------------------------------------------------------------------------
# pipeline_batch: run_pipeline end to end, then one serve round on its gold


def traced_pipeline(spark, tr: Tracer, sf_dir: str, out: str) -> int:
    """``run_pipeline``'s stage sequence, one layer span per stage. Each
    stage is forced by the same parquet write ``run_pipeline`` uses.
    Returns the persisted RDDs left after each stage, summed."""
    from newsify_spark import pipeline as P
    from newsify_spark.tables import load

    left: list[int] = []

    def write(name, df):
        df.write.mode("overwrite").parquet(os.path.join(out, name))

    with tr.span("pipeline.stage_ingest", layer=True):
        articles = P.stage_ingest(spark, sf_dir).cache()
        write("silver_articles", articles)
    left.append(persisted_count(spark))
    with tr.span("pipeline.stage_cluster", layer=True):
        enriched, stories = P.stage_cluster(articles, load(spark, sf_dir, "embeddings"))
        write("silver_article_stories", enriched.drop("embedding", "entities"))
    left.append(persisted_count(spark))
    stories = stories.cache()
    with tr.span("pipeline.stage_summarize", layer=True):
        write("gold_stories", P.stage_summarize(stories, articles))
    left.append(persisted_count(spark))
    with tr.span("pipeline.stage_recommend", layer=True):
        write("gold_recommendations", P.stage_recommend(spark, sf_dir))
    left.append(persisted_count(spark))
    with tr.span("pipeline.stage_bias", layer=True):
        write("gold_bias_reports", P.stage_bias(spark, sf_dir))
    left.append(persisted_count(spark))
    return sum(left)


def _serve_call(api, op: str, arg: int, ctx: Ctx, roster: dict, rep: int, k: int):
    """One API call of the serve round; returns what the check needs."""
    from pyspark.sql import functions as F

    if op == "get_recommendations":
        users = roster["users"]
        return api.get_recommendations(users[arg % len(users)])
    if op == "get_recommendations_fallback":
        return api.get_recommendations(UNKNOWN_USER + arg)
    if op == "latest_stories":
        return api.latest_stories(10)
    if op == "get_story":
        stories = roster["stories"]
        return stories[arg % len(stories)], api.get_story(stories[arg % len(stories)])
    if op == "latest_bias_reports":
        return api.latest_bias_reports(10)
    if op == "drift_score":
        return api.drift_score()
    if op == "track_events":
        return api.track_events(event_batch(ctx.seed, rep * 100 + k, 20, ctx.size.users))
    if op == "upsert_recommendations":
        uid = UNKNOWN_USER * 2 + rep
        src = roster["users"][arg % len(roster["users"])]
        new = api._gold("gold_recommendations").filter(F.col("user_id") == src)
        api.upsert_recommendations(new.withColumn("user_id", F.lit(uid).cast("bigint")))
        return uid
    raise ValueError(op)


def _ranked(recs: list[dict]) -> bool:
    ranks = [r["rnk"] for r in recs]
    scores = [r["score"] for r in recs]
    return (
        bool(recs)
        and ranks == list(range(1, len(recs) + 1))
        and all(scores[i] >= scores[i + 1] - 1e-9 for i in range(len(scores) - 1))
    )


def _check_serve(op: str, res, latest_ids: list[str]) -> bool:
    if op == "get_recommendations":
        return _ranked(res)
    if op == "get_recommendations_fallback":
        return bool(res) and all(r["score"] == 0.0 for r in res) and [
            r["story_id"] for r in res
        ] == latest_ids[: len(res)]
    if op == "latest_stories":
        ts = [r["last_updated"] for r in res]
        return 0 < len(res) <= 10 and ts == sorted(ts, reverse=True)
    if op == "get_story":
        sid, row = res
        return row is not None and str(row["story_id"]) == str(sid)
    if op == "latest_bias_reports":
        uids = [r["user_id"] for r in res]
        return 0 < len(res) <= 10 and uids == sorted(uids, reverse=True)
    if op == "drift_score":
        return math.isfinite(res) and res >= 0.0
    if op == "track_events":
        return res == 20
    return True  # upsert: checked against the table after the timed region


def check_gold(out: str, expect: dict) -> tuple[list[str], dict[str, int], set[int]]:
    """The invariants ``tests/test_pipeline.py`` asserts, plus the kept ids
    of exact dedup, read straight from the parquet files. Returns
    (problems, row count per table, user ids in gold_recommendations)."""
    import pyarrow.parquet as pq

    t = {n: pq.read_table(os.path.join(out, n)).to_pandas() for n in GOLD}
    arts, memb, stories, recs, bias = (t[n] for n in GOLD)
    rec_users = set(recs.user_id)
    recs = recs[recs.user_id < UNKNOWN_USER]
    counts = {n: len(t[n]) for n in GOLD}
    counts["gold_recommendations"] = len(recs)
    bad: list[str] = []
    if sorted(arts.article_id) != expect["kept_ids"]:
        bad.append("silver_articles ids differ from the distinct input documents")
    if arts.text.nunique() != len(arts):
        bad.append("silver_articles content not unique")
    if len(memb) != len(arts) or memb.article_id.duplicated().any():
        bad.append("an article does not have exactly one membership row")
    assigned = dict(zip(memb.article_id, memb.story_id))
    if any(assigned.get(a) != sid for sid, arr in zip(stories.story_id, stories.articles) for a in arr):
        bad.append("story membership arrays disagree with assignments")
    for lst in recs.recommendations:
        if len(lst) > 3 or not _ranked(list(lst)):
            bad.append("a recommendation list is not ranked")
            break
    if not ((bias.diversity > 0) & (bias.diversity <= 1)).all():
        bad.append("bias diversity out of (0, 1]")
    if not ((bias.explanation != "balanced") == bias.bias_flag).all():
        bad.append("bias flag inconsistent with explanation")
    if not stories.summary.str.split(" ").str.len().le(10).all():
        bad.append("a summary is longer than 10 tokens")
    if not (stories.n_articles == stories.articles.str.len()).all():
        bad.append("n_articles != len(articles)")
    return bad, counts, rec_users


def prepare_pipeline_batch(seed: int, size_name: str, work: str) -> dict:
    size = SIZES[size_name]
    sf_dir = os.path.join(work, "inputs")
    return {
        "sf_dir": sf_dir,
        "expect": write_pipeline_inputs(seed, size, sf_dir),
        "rounds": [serve_round(seed, r, size.users, size.serve_scale) for r in range(64)],
    }


def run_pipeline_batch(ctx: Ctx, inputs: dict) -> Outcome:
    from newsify_spark.api import NewsifyAPI
    from newsify_spark.pipeline import run_pipeline

    spark, tr = ctx.spark, ctx.tracer
    sf_dir, expect, rounds = inputs["sf_dir"], inputs["expect"], inputs["rounds"]

    # warm-up (counted in setup_s): one full pipeline run and one call of
    # every API route on its gold
    warm = os.path.join(ctx.work, "gold_warm")
    run_pipeline(spark, sf_dir, warm)
    drop_all_caches(spark)
    wapi = NewsifyAPI(spark, warm)
    roster = {
        "users": sorted(
            r[0] for r in wapi._gold("gold_recommendations").select("user_id").collect()
        ),
        "stories": sorted(str(r[0]) for r in wapi._gold("gold_stories").select("story_id").collect()),
    }
    for op in WRITE_OPS + READ_OPS:
        _serve_call(wapi, op, 0, ctx, roster, len(rounds), 0)
    drop_all_caches(spark)

    out = Outcome()
    reps: list[dict] = []
    lat_ms: dict[str, list[float]] = {op: [] for op in READ_OPS + WRITE_OPS}
    ctx.start_timing()
    rep = 0
    while rep == 0 or time.perf_counter() - ctx.t_start < ctx.seconds:
        gold = os.path.join(ctx.work, "gold", str(rep))
        info = {"gold": gold, "ops": [], "results": [], "ok": True}
        reps.append(info)
        out.attempted += 1
        with tr.span("pipeline_batch.rep", rep=rep):
            c0, t0 = subtree_cpu_s(), time.perf_counter()
            try:
                if tr.enabled:
                    info["cache_left"] = traced_pipeline(spark, tr, sf_dir, gold)
                else:
                    run_pipeline(spark, sf_dir, gold)
            except Exception as e:  # a failed run is counted, the loop goes on
                out.fail(f"run_pipeline rep {rep}: {e!r}")
                info["ok"] = False
            info["wall"] = time.perf_counter() - t0
            info["cpu"] = subtree_cpu_s() - c0
            drop_all_caches(spark)
            if info["ok"]:
                api = NewsifyAPI(spark, gold)
                latest = None
                for k, (op, arg) in enumerate(rounds[rep % len(rounds)]):
                    out.attempted += 1
                    with tr.span(f"api.{op}", layer=True) as sp:
                        t1 = time.perf_counter()
                        try:
                            res = _serve_call(api, op, arg, ctx, roster, rep, k)
                        except Exception as e:
                            out.fail(f"api.{op} rep {rep}: {e!r}")
                            continue
                        dt = (time.perf_counter() - t1) * 1000.0
                    lat_ms[op].append(dt)
                    if sp is not None:
                        info["ops"].append((op, sp.group))
                    if op == "latest_stories":
                        latest = [r["story_id"] for r in res]
                    info["results"].append((op, res))
                info["latest"] = latest
                drop_all_caches(spark)
        rep += 1
    ctx.stop_timing(out)

    # ---- output checks (outside the timed region) -------------------------
    counts_seen: list[dict] = []
    for r, info in enumerate(reps):
        if not info["ok"]:
            continue
        problems, counts, rec_users = check_gold(info["gold"], expect)
        counts_seen.append(counts)
        for op, res in info["results"]:
            if not _check_serve(op, res, info["latest"] or []):
                out.fail(f"api.{op} rep {r}: output check failed")
            if op == "upsert_recommendations" and res not in rec_users:
                out.fail(f"api.upsert_recommendations rep {r}: user missing")
        if problems:
            out.fail(f"pipeline rep {r}: " + "; ".join(problems))
    if any(c != counts_seen[0] for c in counts_seen):
        out.fail("gold row counts differ between repetitions of one seed")

    ok = [i for i in reps if i["ok"]]
    out.e2e.update(
        wall_s=median([i["wall"] for i in ok]),
        cpu_s=median([i["cpu"] for i in ok]),
    )
    if tr.enabled:
        tr_jobs = tr.jobs()
        layer = out.layer
        for op in READ_OPS + WRITE_OPS:
            layer[f"api.{op}.p50_ms"] = median(lat_ms[op])
            layer[f"api.{op}.jobs"] = median(
                [tr_jobs.get(g, 0) for i in ok for o, g in i["ops"] if o == op]
            )
        layer["api.events_log_files"] = median(
            [dir_size(os.path.join(i["gold"], "events_log"))[1] for i in ok]
        )
        if counts_seen:
            kept = counts_seen[0]["silver_articles"]
            layer["operators.dedup.exact_dedup.kept_ratio"] = kept / expect["n_docs_in"]
        layer["queries.cache_left"] = median([i["cache_left"] for i in ok])
    return out


# --------------------------------------------------------------------------
# ingest_stream: ingest_batch + assign_batch_to_stories over a growing store


WARM_BATCHES = 2


def prepare_ingest_stream(seed: int, size_name: str, work: str) -> dict:
    size = SIZES[size_name]
    n = WARM_BATCHES + size.stream_batches
    return {"batches": stream_batches(seed, n, size.stream_batch_docs)}


def run_ingest_stream(ctx: Ctx, inputs: dict) -> Outcome:
    import pandas as pd
    from pyspark.sql import functions as F

    from newsify_spark.streaming.ingest import ingest_batch
    from newsify_spark.streaming.pipeline import StoryState, assign_batch_to_stories

    spark, tr = ctx.spark, ctx.tracer
    batches = inputs["batches"]
    store = os.path.join(ctx.work, "ingest", "store")
    bronze = os.path.join(ctx.work, "ingest", "bronze")
    state = StoryState()

    def one_batch(i: int) -> dict:
        b = batches[i]
        c0, t0 = subtree_cpu_s(), time.perf_counter()
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": b.doc_ids, "text": b.texts}), "doc_id long, text string"
        )
        emb = spark.createDataFrame(
            pd.DataFrame({"article_id": b.doc_ids, "embedding": [v.tolist() for v in b.embeddings]}),
            "article_id long, embedding array<float>",
        )
        with tr.span("streaming.ingest.ingest_batch", layer=True, batch=i):
            surv = ingest_batch(docs, i, store, bronze)
        with tr.span("streaming.pipeline.assign_batch_to_stories", layer=True, batch=i) as sp:
            art = surv.select(F.col("doc_id").alias("article_id")).join(emb, "article_id")
            asg = assign_batch_to_stories(art, state)
        with tr.span("read.survivors"):
            ids = [r[0] for r in surv.select("doc_id").collect()]
        with tr.span("read.assignments"):
            rows = [tuple(r) for r in asg.select("article_id", "story_id", "is_new").collect()]
        t4 = time.perf_counter()
        left = persisted_count(spark)
        # the carried StoryState is checkpointed, not cached: clearing the
        # CacheManager keeps it and drops everything else
        spark.catalog.clearCache()
        return dict(
            batch=b, ids=ids, rows=rows, wall=t4 - t0, cpu=subtree_cpu_s() - c0,
            assign_span=sp, left=left,
        )

    # warm-up (counted in setup_s): the stream's first two batches compile
    # the empty-store and the store-probe paths. A cold store-probe batch
    # costs about twice the CPU of a warm one.
    for i in range(WARM_BATCHES):
        one_batch(i)

    out = Outcome()
    recs: list[dict] = []
    ctx.start_timing()
    with tr.span("ingest_stream.run"):
        for i in range(WARM_BATCHES, len(batches)):
            if recs and time.perf_counter() - ctx.t_start >= ctx.seconds:
                break
            out.attempted += 1
            try:
                recs.append(one_batch(i))
            except Exception as e:  # counted; the stream goes on
                out.fail(f"batch {i}: {e!r}")
    ctx.stop_timing(out)

    # ---- output checks (outside the timed region) -------------------------
    for rec in recs:
        b, ids = rec["batch"], set(rec["ids"])
        problems = []
        if not set(b.fresh) <= ids:
            problems.append("a fresh document was dropped")
        if ids & set(b.redelivered):
            problems.append("an exact re-delivery survived")
        if not ids <= set(b.doc_ids):
            problems.append("a survivor id was never sent")
        if sorted(r[0] for r in rec["rows"]) != sorted(ids):
            problems.append("survivors and story assignments differ")
        if problems:
            out.fail(f"batch {b.doc_ids[0]}: " + "; ".join(problems))

    out.e2e.update(
        wall_s=median([r["wall"] for r in recs]),
        cpu_s=median([r["cpu"] for r in recs]),
    )
    if tr.enabled:
        selfs = tr.self_times()
        layer = out.layer
        sent = sum(len(r["batch"].doc_ids) for r in recs)
        layer["streaming.ingest.kept_ratio"] = sum(len(r["ids"]) for r in recs) / max(sent, 1)
        mb, files = (a + b for a, b in zip(dir_size(store), dir_size(f"{store}_bloom")))
        layer["streaming.ingest.store_mb"], layer["streaming.ingest.store_files"] = mb, files
        rows = [row for r in recs for row in r["rows"]]
        matched = sum(1 for row in rows if not row[2])
        layer["streaming.pipeline.match_ratio"] = matched / max(len(rows), 1)
        layer["streaming.pipeline.stories"] = state.next_id
        a = [selfs[r["assign_span"].span_id] for r in recs]
        layer["streaming.pipeline.assign_batch_to_stories.s_last_over_first"] = (
            a[-1] / a[0] if a and a[0] > 0 else 0.0
        )
        layer["queries.cache_left"] = sum(r["left"] for r in recs)
    return out


WORKLOADS = {
    "pipeline_batch": (prepare_pipeline_batch, run_pipeline_batch),
    "ingest_stream": (prepare_ingest_stream, run_ingest_stream),
}
