"""Newsify benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed``, starts a ``local[nproc]`` session through
``newsify_spark.session.get_spark``, warms up, repeats the workload's unit
of work for ``--seconds``, checks every output, stops the session and
prints ``{"correct", "attempted", "failed", "metrics"}`` as the last line
of standard output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run. All files go under
``perfbench/_work/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The host probe's wall and CPU seconds on a quiet 4-core host. Times are
# reported scaled by reference / measured probe, so that load from other
# processes on a shared host moves them far less (see README.md).
REF_PROBE_WALL_S = 0.33
REF_PROBE_CPU_S = 1.05

E2E = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_SPANS = (
    "pipeline.stage_ingest",
    "pipeline.stage_cluster",
    "pipeline.stage_summarize",
    "pipeline.stage_recommend",
    "pipeline.stage_bias",
    "streaming.ingest.ingest_batch",
    "streaming.pipeline.assign_batch_to_stories",
)
SPAN_MEASURES = {"s": "s", "cpu_s": "s", "tasks": "count", "shuffle_mb": "MB"}


def layer_units() -> dict[str, str]:
    from workloads import READ_OPS, WRITE_OPS

    units = {"session.get_spark.s": "s"}
    for name in LAYER_SPANS:
        units.update({f"{name}.{m}": u for m, u in SPAN_MEASURES.items()})
    units["operators.dedup.exact_dedup.kept_ratio"] = "ratio"
    units.update(
        {
            "streaming.ingest.kept_ratio": "ratio",
            "streaming.ingest.store_mb": "MB",
            "streaming.ingest.store_files": "count",
            "streaming.pipeline.assign_batch_to_stories.s_last_over_first": "ratio",
            "streaming.pipeline.match_ratio": "ratio",
            "streaming.pipeline.stories": "count",
        }
    )
    for op in READ_OPS + WRITE_OPS:
        units[f"api.{op}.p50_ms"] = "ms"
        units[f"api.{op}.jobs"] = "count"
    units["api.events_log_files"] = "count"
    units["queries.cache_left"] = "count"
    units.update({"trace.wall_s": "s", "trace.self_s": "s", "trace.overhead_s": "s"})
    units.update({"host.probe_s": "s", "host.probe_cpu_s": "s"})
    return units


def _descendants() -> set[int]:
    from measure import subtree_pids

    return subtree_pids() - {os.getpid()}


def stop_session(spark) -> None:
    """Stop the session, end the gateway JVM and wait until every process
    this run started has exited."""
    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    pids = _descendants()
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # the JVM may already be gone
        pass
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and (pids & _descendants()):
        time.sleep(0.2)
    for pid in pids & _descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while pids & _descendants():
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", help="input size preset: default or tiny")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "newsify_spark", "session.py")):
        print("newsify_spark not found beside perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from gen import SIZES
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS or args.size not in SIZES:
        print(f"unknown workload {args.workload!r} or size {args.size!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog", "bloom"):
        os.makedirs(os.path.join(work, d))
    # every file the run, the JVM and the workers write stays under work/
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_BLOOM_CACHE=os.path.join(work, "bloom"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # the launcher JVM writes no /tmp file
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    try:
        return measure_run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure_run(args, run_id: str, work: str) -> int:
    from workloads import WORKLOADS, Ctx

    prepare, run = WORKLOADS[args.workload]
    g0 = time.perf_counter()
    inputs = prepare(args.seed, args.size, work)
    gen_s = time.perf_counter() - g0

    from measure import Tracer, median, shuffle_mb_by_group
    from newsify_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    s0 = time.perf_counter()
    spark = get_spark(f"perfbench_{args.workload}", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
    session_s = time.perf_counter() - s0
    tracer = Tracer(spark, run_id, enabled=bool(args.trace))
    ctx = Ctx(spark, args.seed, args.seconds, args.size, work, tracer)
    try:
        out = run(ctx, inputs)
        tasks = tracer.tasks() if args.trace else {}
    finally:
        stop_session(spark)
    probe_wall = sum(w for w, _ in ctx.probes) / len(ctx.probes)
    probe_cpu = sum(c for _, c in ctx.probes) / len(ctx.probes)
    raw = dict(out.e2e, setup_s=ctx.setup_done_at - T_PROC0 - gen_s - ctx.probe_time)
    print(f"# raw {raw} probe wall {probe_wall:.4f} s cpu {probe_cpu:.4f} s", file=sys.stderr)
    scale_wall, scale_cpu = REF_PROBE_WALL_S / probe_wall, REF_PROBE_CPU_S / probe_cpu
    out.e2e.update(
        setup_s=raw["setup_s"] * scale_wall,
        wall_s=raw["wall_s"] * scale_wall,
        cpu_s=raw["cpu_s"] * scale_cpu,
    )

    for e in out.errors:
        print(f"# FAILED: {e}", file=sys.stderr)
    if args.trace:
        units = layer_units()
        shuffle = shuffle_mb_by_group(os.path.join(work, "eventlog"))
        selfs = tracer.self_times()
        values = dict.fromkeys(units, 0.0)
        values["session.get_spark.s"] = session_s
        for name in LAYER_SPANS:
            spans = [s for s in tracer.spans if s.name == name]
            if spans:
                values[f"{name}.s"] = median([selfs[s.span_id] for s in spans])
                values[f"{name}.cpu_s"] = median([s.cpu_s for s in spans])
                values[f"{name}.tasks"] = median([tasks.get(s.group, 0) for s in spans])
                values[f"{name}.shuffle_mb"] = median([shuffle.get(s.group, 0.0) for s in spans])
        values.update(out.layer)
        values["trace.wall_s"] = ctx.wall_region
        values["trace.self_s"] = sum(selfs.values())
        values["trace.overhead_s"] = tracer.overhead_s
        values["host.probe_s"], values["host.probe_cpu_s"] = probe_wall, probe_cpu
        tracer.dump(os.path.join(HERE, "_work", "spans", f"{run_id}.jsonl"))
    else:
        units, values = E2E, out.e2e
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
