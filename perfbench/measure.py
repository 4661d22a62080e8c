"""Process-tree counters and the in-memory span tracer.

CPU and memory are read from ``/proc`` for this process and every live
descendant: the local-mode JVM (all executor threads) and its pyspark
worker processes. The CPU walk is the one ``scripts/cpu_measure.py``
uses; peak memory resets each process's high-water mark through
``/proc/<pid>/clear_refs`` and sums ``VmHWM`` afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK = os.sysconf("SC_CLK_TCK")


def _stat_table() -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        # fields after "(comm) "; comm may contain spaces
        out[int(d)] = raw[raw.rindex(")") + 2 :].split()
    return out


def subtree_pids(table: dict[int, list[str]] | None = None) -> set[int]:
    table = table if table is not None else _stat_table()
    pids = {os.getpid()}
    added = True
    while added:
        added = False
        for pid, rest in table.items():
            if pid not in pids and int(rest[1]) in pids:
                pids.add(pid)
                added = True
    return pids


def subtree_cpu_s() -> float:
    """utime+stime+cutime+cstime summed over this process subtree."""
    table = _stat_table()
    ticks = sum(
        sum(int(x) for x in table[p][11:15]) for p in subtree_pids(table) if p in table
    )
    return ticks / CLK


def reset_peak_rss() -> None:
    for pid in subtree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS since the last reset (an upper bound
    on the subtree's simultaneous peak)."""
    kb = 0
    for pid in subtree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``, ignoring checksum/marker files."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total / 1e6, files


@dataclass
class Span:
    run_id: str
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id), written
    out once at the end. Disabled, every call is a no-op, so the untraced
    run pays nothing. A span opened with ``layer=True`` also sets a Spark
    job group (for task and shuffle counts) and records the subtree CPU
    delta. ``overhead_s`` is the time spent in this bookkeeping."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0  # never reused, so job groups stay distinct
        self.overhead_s = 0.0

    def discard(self) -> None:
        """Forget the spans recorded so far (the warm-up)."""
        self.spans.clear()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        self._next_id += 1
        sp = Span(
            self.run_id,
            self._next_id,
            self._stack[-1].span_id if self._stack else None,
            name,
            0.0,
            attrs=dict(attrs),
        )
        if layer:
            sp.group = f"{name}#{sp.span_id}"
            self.spark.sparkContext.setJobGroup(sp.group, name)
            sp.cpu_s = -subtree_cpu_s()
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - b0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if layer:
                sp.cpu_s += subtree_cpu_s()
                outer = next((s.group for s in reversed(self._stack[:-1]) if s.group), None)
                if outer:
                    self.spark.sparkContext.setJobGroup(outer, outer)
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()
            self.overhead_s += time.perf_counter() - sp.end

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def tasks(self) -> dict[str, int]:
        """Tasks per job group, from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        out = {}
        for s in self.spans:
            if not s.group:
                continue
            stages = set()
            for j in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(j)
                if info:
                    stages.update(info.stageIds)
            n = 0
            for sid in stages:
                si = st.getStageInfo(sid)
                if si:
                    n += si.numTasks
            out[s.group] = n
        return out

    def jobs(self) -> dict[str, int]:
        st = self.spark.sparkContext.statusTracker()
        return {s.group: len(st.getJobIdsForGroup(s.group)) for s in self.spans if s.group}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(
                    run_id=s.run_id, span_id=s.span_id, parent=s.parent, name=s.name,
                    start=s.start, end=s.end, self_s=selfs[s.span_id], group=s.group,
                    cpu_s=s.cpu_s if s.group else None, **s.attrs,
                )
                f.write(json.dumps(rec) + "\n")


def shuffle_mb_by_group(event_log_dir: str) -> dict[str, float]:
    """Shuffle bytes written per job group, parsed from the (uncompressed)
    Spark event log once the context has stopped."""
    stage_group: dict[int, str] = {}
    stage_bytes: dict[int, int] = {}
    for path in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    sid = ev.get("Stage ID")
                    stage_bytes[sid] = stage_bytes.get(sid, 0) + int(
                        m.get("Shuffle Bytes Written", 0)
                    )
    out: dict[str, float] = {}
    for sid, b in stage_bytes.items():
        g = stage_group.get(sid)
        if g:
            out[g] = out.get(g, 0.0) + b / 1e6
    return out


def median(values: list[float], default: float = 0.0) -> float:
    return float(statistics.median(values)) if values else default


def probe(spark, reps: int = 3) -> tuple[float, float]:
    """Host-speed probe: one fixed JVM job on every core that reads no data
    and touches no package code. Returns the best wall and the least
    subtree CPU seconds of ``reps`` runs; the best of three drops a run
    that a collection or a compile happened to land in."""
    n = spark.sparkContext.defaultParallelism
    walls, cpus = [], []
    for _ in range(reps):
        c0, t0 = subtree_cpu_s(), time.perf_counter()
        spark.range(0, 300_000_000, 1, n).selectExpr(
            "sum(CAST(id % 1000003 AS DOUBLE) * 1.0000001) AS s"
        ).collect()
        walls.append(time.perf_counter() - t0)
        cpus.append(subtree_cpu_s() - c0)
    return min(walls), min(cpus)
