#!/usr/bin/env python
"""Headline benchmark: runs the bench-tagged queries from the registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``compiles`` maps each query to the generated classes every pass compiled
(codegen-cache misses, from Spark's ``CodegenMetrics``), and ``jobs`` to
the Spark jobs every pass ran (status tracker, one job group per query
and pass).

Execution is forced through the noop sink so every output column is
materialized (a bare count() would let Spark prune the projections).

Each query runs $SPARK_GRAFT_BENCH_PASSES full passes (default 3) and
the recorded number is the per-query MEDIAN — one ambient-load-noisy
pass can no longer eat the 2x headroom or trigger false regressions
(VERDICT r5 "what's wrong" #3: the r5 final run was uniformly ~25%
slower than its own history).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from newsify_spark.queries import REGISTRY
from newsify_spark.session import codegen_compiles, get_spark
from newsify_spark.tables import DEFAULT_SF_DIR


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibrate(spark) -> float:
    """Code-independent host-speed probe (ADVICE r11 #2): a fixed
    pure-JVM compute workload touching NO repo code path (no load(), no
    operators, no query modules), so a uniform slowdown in shared repo
    infrastructure moves every query's median but NOT this number. The
    noise guard only trusts "the host is noisy" when this probe
    corroborates it. Median of 3 runs — the probe must be quieter than
    what it measures."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        force(
            spark.range(120_000_000).selectExpr(
                "sum(CAST(id % 1000003 AS DOUBLE) * 1.0000001) AS s",
                "avg(CAST(id % 97 AS DOUBLE)) AS a",
            )
        )
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    # fresh per-run bloom cache dir: pass 1 measures the cold build path
    # (same work the envelopes were recorded against) while passes 2..n
    # stay warm within the run — repeated bench runs are reproducible and
    # a build-path regression can't hide behind a stale /tmp cache
    # (ADVICE r6). Respect an explicit override.
    if "SPARK_GRAFT_BLOOM_CACHE" not in os.environ:
        import tempfile

        os.environ["SPARK_GRAFT_BLOOM_CACHE"] = tempfile.mkdtemp(
            prefix="newsify_bench_bloom_"
        )

    spark = get_spark("newsify_bench")
    # JVM/codegen warmup so the first timed query isn't penalized
    force(spark.range(1_000_000).selectExpr("sum(id) AS s"))
    calib = calibrate(spark)
    print(f"# calibration probe (start): {calib}s", file=sys.stderr)

    names = sorted(n for n, q in REGISTRY.items() if q.bench)
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    runs: list[dict[str, float]] = []
    # per query, the generated classes each pass compiled (codegen-cache
    # misses): pass 1 is cold, later passes should compile ~nothing
    compiles: dict[str, list[int]] = {name: [] for name in names}
    jobs: dict[str, list[int]] = {name: [] for name in names}
    sc = spark.sparkContext
    for p in range(passes):
        pass_t: dict[str, float] = {}
        for name in names:
            q = REGISTRY[name]
            group = f"bench-{name}-pass{p + 1}"
            sc.setJobGroup(group, group)
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            force(q.fn(spark, sf_dir))
            pass_t[name] = round(time.perf_counter() - t0, 3)
            compiles[name].append(codegen_compiles(spark) - c0)
            jobs[name].append(len(sc.statusTracker().getJobIdsForGroup(group)))
            print(
                f"# pass {p + 1}/{passes} {name}: {pass_t[name]}s, "
                f"{compiles[name][-1]} compiles, {jobs[name][-1]} jobs",
                file=sys.stderr,
            )
        runs.append(pass_t)
    sc.setLocalProperty("spark.jobGroup.id", None)
    timings: dict[str, float] = {
        name: round(statistics.median(r[name] for r in runs), 3) for name in names
    }

    # Second calibration probe AFTER the passes (r12 measurement fix,
    # documented in OPTIMIZATION_r12.md): ambient load that arrives
    # mid-run is invisible to a start-only probe — an r12 run measured
    # every query ~1.8x slow with a NORMAL start probe (1.017), which
    # the ADVICE-r11 arbitration then misread as a shared-infra
    # regression. The noise decision below corroborates against the
    # WORSE of the two probes; the history keeps storing the start
    # probe (same semantics as every prior entry).
    calib_end = calibrate(spark)
    print(f"# calibration probe (end): {calib_end}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # Two-sided regression gate (VERDICT r1 item #8 + r3 "what's wrong" #4):
    # 1. envelope — >1.5x the per-query max of known-good runs
    #    (jitter-tolerant, but a max only ratchets UP), paired with
    # 2. creep — >1.5x the MEDIAN of the last clean runs (BENCH_HISTORY
    #    .json), so slow drift can't hide under a generous envelope.
    regressions: dict[str, str] = {}
    noise_ratio: float | None = None
    calib_ratio: float | None = None
    suspect_ambient: dict[str, str] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    base_path = os.path.join(here, "BASELINE_BENCH.json")
    hist_path = os.path.join(here, "BENCH_HISTORY.json")
    if os.path.exists(base_path):
        with open(base_path) as f:
            base = json.load(f)
        if base.get("sf") != sf:
            # baseline recorded at a different scale factor — timings are
            # not comparable, skip the gate rather than flag everything
            print(
                f"# baseline sf={base.get('sf')} != run sf={sf}; regression gate skipped",
                file=sys.stderr,
            )
            base = {}
        hist: list[dict[str, float]] = []
        calib_hist: list[float] = []
        noisy_streak = 0
        if base and os.path.exists(hist_path):
            with open(hist_path) as f:
                h = json.load(f)
            if h.get("sf") == sf:
                hist = h.get("runs", [])
                calib_hist = h.get("calibration", [])
                noisy_streak = int(h.get("noisy_streak", 0))
        for name, t in timings.items():
            b = base.get("queries", {}).get(name)
            if b and t > 1.5 * b:
                regressions[name] = f"{t:.3f}s vs envelope {b:.3f}s"
                continue
            recent = sorted(r[name] for r in hist[-2:] if name in r)
            if len(recent) == 2:
                med = (recent[0] + recent[1]) / 2.0
                if t > 1.5 * med:
                    regressions[name] = f"{t:.3f}s vs recent median {med:.3f}s"
        # Host-noise guard (VERDICT r10 #2): two ambient-load-inflated
        # runs were appended to the history as "clean" in r10, ratcheting
        # the recent-median creep gate upward. A run where the MEDIAN
        # ratio vs the history across queries exceeds 1.2x is uniform
        # drift — so it must never enter the history window. But uniform
        # drift has TWO causes (ADVICE r11 #2): ambient host load, and a
        # real regression in shared infrastructure (session config,
        # load(), the scan path) that also moves every query. The guard
        # therefore only scales the gate by the drift when a
        # code-independent signal corroborates "host", on two fronts:
        #   1. the calibration probe (pure-JVM, zero repo code) must show
        #      the same slowdown — a normal calib with uniformly slow
        #      queries is a shared-infra regression, gate NOT scaled;
        #   2. ambient load is transient — if the noisy classification
        #      persists across two consecutive runs, the suspect_ambient
        #      set is promoted back to failing regressions.
        noisy = False
        if hist:
            ratios = []
            for name, t in timings.items():
                past = [r[name] for r in hist if name in r]
                if past:
                    med = statistics.median(past)
                    if med > 0:
                        ratios.append(t / med)
            if len(ratios) >= 5:
                noise_ratio = round(statistics.median(ratios), 3)
                noisy = noise_ratio > 1.2
        calib_ratio = (
            round(max(calib, calib_end) / statistics.median(calib_hist), 3)
            if calib_hist
            else None
        )
        if noisy:
            corroborated = calib_ratio is None or calib_ratio > 1.1
            print(
                f"# HOST NOISY: median ratio {noise_ratio} vs history exceeds "
                f"1.2x — run NOT appended to BENCH_HISTORY.json; calibration "
                f"ratio {calib_ratio} ({'corroborates host load' if corroborated else 'NORMAL — shared-infra regression suspected, gate NOT scaled'}); "
                f"noisy streak {noisy_streak + 1}",
                file=sys.stderr,
            )
        else:
            corroborated = False
        if noisy and corroborated and regressions:
            still: dict[str, str] = {}
            for name, why in regressions.items():
                t = timings[name]
                b = base.get("queries", {}).get(name)
                recent = sorted(r[name] for r in hist[-2:] if name in r)
                med = sum(recent) / len(recent) if recent else None
                bound = min(
                    x for x in (b, med) if x is not None
                ) * 1.5 * noise_ratio
                if t > bound:
                    still[name] = f"{why} (exceeds even the {noise_ratio}x-scaled gate)"
                else:
                    suspect_ambient[name] = why
            regressions = still
        if (
            noisy
            and noisy_streak >= 1
            and suspect_ambient
            and calib_ratio is None
        ):
            # Second consecutive noisy run WITHOUT a calibration signal:
            # "ambient" that persists is a regression wearing a noise
            # costume — fail it (ADVICE r11 #2). When the probe HAS
            # history, it arbitrates instead: probe also slow => genuinely
            # a busy host, however many runs in a row (suspects stay
            # visible, never fail); probe normal => the gate was never
            # scaled above, so real uniform regressions already failed.
            for name, why in suspect_ambient.items():
                regressions[name] = f"{why} (suspect_ambient persisted 2 runs)"
            suspect_ambient = {}
        if regressions:
            print(f"# REGRESSIONS (>1.5x gate): {regressions}", file=sys.stderr)
        if base:
            note = (
                "last clean bench runs (no regressions flagged); bench.py "
                "appends automatically, keeps the last 4. 'calibration' = "
                "the pure-JVM host-speed probe from those same clean runs; "
                "'noisy_streak' counts consecutive noisy-classified runs "
                "(2+ promotes suspect_ambient to failing regressions)."
            )
            if noisy:
                # record the streak so persistence is detectable next run,
                # but never let a noisy run's timings enter the window
                payload = {
                    "note": note,
                    "sf": sf,
                    "runs": hist[-4:],
                    "calibration": calib_hist[-4:],
                    "noisy_streak": noisy_streak + 1,
                }
            elif regressions:
                payload = None  # flagged run: leave the history untouched
            else:
                hist.append(timings)
                calib_hist.append(calib)
                payload = {
                    "note": note,
                    "sf": sf,
                    "runs": hist[-4:],
                    "calibration": calib_hist[-4:],
                    "noisy_streak": 0,
                }
            if payload is not None:
                with open(hist_path, "w") as f:
                    json.dump(payload, f, indent=2)

    # Staged lakehouse fixtures (VERDICT r10 #3): the txnlog queries
    # stage their COW table once per process; pass 1 pays it, passes
    # 2..n time only the read path, so the per-query MEDIAN above is the
    # read-path number. The staging (write/rewrite) cost is reported
    # here as its own component so neither path's regression can hide
    # inside the other.
    try:
        from newsify_spark.queries.extra import STAGING_SECONDS

        staging = dict(STAGING_SECONDS)
    except Exception:
        staging = {}

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "compiles": compiles,
                "jobs": jobs,
                "staging": staging,
                "passes": passes,
                "sf": sf,
                "baseline_total": base.get("value") if os.path.exists(base_path) else None,
                "regressions": regressions,
                "noise_ratio": noise_ratio,
                "calibration": calib,
                "calibration_end": calib_end,
                "calibration_ratio": calib_ratio,
                "suspect_ambient": suspect_ambient,
            }
        )
    )


if __name__ == "__main__":
    main()
