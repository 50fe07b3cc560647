"""Bench-side tracing of one crawl, and the per-layer metrics it yields.

No engine source is edited. ``Tracer.install`` assigns wrappers to module
and class attributes at run time; each wrapper records a span (name,
start, end, parent) in memory and sets the Spark job group to the span's
id, so every job and stage in the event log belongs to a span. ``/proc``
CPU of the driver, the JVM and the Python workers is sampled at every span
boundary. After the session stops, ``EventLog`` sums each job group's
task metrics, and ``layer_metrics`` turns one traced crawl into the named
per-layer metrics.

A round's phases follow the checkpoint calls it makes: the gate (seen
read, robots/trap ``blocked_<r>`` write, slot split) runs up to the
``fetched_<r>`` write (J1: fetch join + parse UDFs), J2 ends with the
``enqueue_<r+1>`` write, J3 (seen-filter absorb) runs from there to the
frontier hand-off, which ends with ``put_manifest``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.procfs import ProcessTree, Sample

GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float
    s0: Sample
    attrs: dict = field(default_factory=dict)
    t1: float = 0.0
    s1: Sample | None = None
    children: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def cpu(self, part: str) -> float:
        return getattr(self.s1, part) - getattr(self.s0, part)

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.t0, "end": self.t1, "attrs": self.attrs,
                "cpu": {p: round(self.cpu(p), 3)
                        for p in ("driver_cpu", "jvm_cpu", "py_cpu")}}


def _table_name(args, kwargs) -> dict:
    name = kwargs.get("name", args[2] if len(args) > 2 else None)
    return {"table": name}


class Tracer:
    """Spans for every traced crawl of one benchmark run."""

    def __init__(self, spark, tree: ProcessTree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, name, parent and parent.id,
                  time.time(), self.tree.sample(), attrs)
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(GROUP, sp.group)
        try:
            yield sp
        finally:
            self._stack.pop()
            self.sc.setLocalProperty(
                GROUP, self._stack[-1].group if self._stack else None)
            sp.s1 = self.tree.sample()
            sp.t1 = time.time()

    def _wrap(self, owner, attr: str, name: str, label=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, **(label(args, kwargs) if label else {})):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._saved.append((owner, attr, orig))

    def install(self) -> None:
        from go_crawler_spark import tableio
        from go_crawler_spark.plans import crawl

        self._wrap(crawl, "resume_crawl", "plans.crawl.resume_crawl")
        self._wrap(crawl, "run_crawl", "plans.crawl.run_crawl")
        # crawl.py binds these by name, so its namespace is wrapped
        for fn in ("assign_seq_admit_budget_bucketed",
                   "release_pending_caches", "release_pending_checkpoints"):
            self._wrap(crawl, fn, "operators.sequence", lambda a, k, f=fn: {"fn": f})
        self._wrap(crawl, "tree_build_filter", "operators.dedup.absorb")
        io = tableio.ParquetTableIO
        for m in ("write", "replace"):
            self._wrap(io, m, f"tableio.{m}", _table_name)
        for m in ("read", "put_manifest", "get_manifest"):
            self._wrap(io, m, f"tableio.{m}")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, ev: "EventLog") -> None:
        """Write every span with its self time (duration minus its
        children's) and the task metrics of its own job group."""
        rows = []
        for s in self.spans:
            row = s.as_dict()
            row["self_s"] = s.wall - sum(c.wall for c in s.children)
            row["spark"] = dict(ev.by_group.get(s.group, {}))
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f)


class EventLog:
    """Task metrics of Spark's uncompressed event log (executor run and
    CPU time, GC time, input, output and shuffle bytes), summed per job
    group. Job counts come from the log, never from the status tracker,
    which forgets jobs beyond ``spark.ui.retainedJobs``."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.by_group: dict[str, Counter] = {}
        stage_group: dict[int, str | None] = {}
        files = []
        # a rolling log: events_<index>_<app id> files in one directory
        for root, _, names in os.walk(log_dir):
            for n in names:
                if n.startswith("events_") and not n.endswith(".crc"):
                    files.append((int(n.split("_")[1]), os.path.join(root, n)))
        for _, path in sorted(files):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), stage_group)

    def _event(self, e: dict, stage_group: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP)
            self.jobs[e["Job ID"]] = {"group": g, "start": e["Submission Time"] / 1e3}
            self.by_group.setdefault(g, Counter())["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = (
                e.get("Properties") or {}).get(GROUP)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                return
            c = self.by_group.setdefault(stage_group.get(e["Stage ID"]), Counter())
            c["run_s"] += m["Executor Run Time"] / 1e3
            c["cpu_s"] += m["Executor CPU Time"] / 1e9
            c["gc_s"] += m["JVM GC Time"] / 1e3
            c["in_bytes"] += m["Input Metrics"]["Bytes Read"]
            c["in_rows"] += m["Input Metrics"]["Records Read"]
            c["out_bytes"] += m["Output Metrics"]["Bytes Written"]
            c["out_rows"] += m["Output Metrics"]["Records Written"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            c["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]

    def total(self, spans, key: str) -> float:
        """Sum of ``key`` over the job groups of ``spans`` and their
        descendants."""
        return sum(self.by_group.get(s.group, Counter())[key]
                   for s in _subtree(spans))


def _subtree(spans) -> list[Span]:
    out, stack = [], list(spans)
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(s.children)
    return out


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


@dataclass
class CrawlFacts:
    """What the benchmark counted from one crawl's result tables."""
    pages: int           # pages fetched ok by the call
    misses: int          # fetch misses (skipped_download) in the call's rounds
    blocked: int         # robots-blocked rows in the call's rounds
    links: int           # child links extracted in the call's rounds
    seen_rows: int
    seen_filter: list    # CrawlResult.seen_filter
    files_written: int


def layer_metrics(top: Span, ev: EventLog, facts: CrawlFacts, k: int) -> dict:
    """Per-layer metrics of one traced crawl whose outermost span is ``top``."""
    spans = _subtree([top])
    groups = {s.group for s in spans}
    jobs = [j for j in ev.jobs.values() if j["group"] in groups]
    # jobs launched while the call ran but outside every span
    stray = [j for j in ev.jobs.values()
             if j["group"] not in groups and top.t0 <= j["start"] <= top.t1]

    def named(name, prefix=None):
        return sorted((s for s in spans if s.name == name and (
            prefix is None or str(s.attrs.get("table", "")).startswith(prefix))),
            key=lambda s: s.t0)

    writes = named("tableio.write") + named("tableio.replace")
    j1 = named("tableio.write", "fetched_")
    j2 = [s for s in named("tableio.write", "enqueue_")
          if s.attrs["table"] != "enqueue_0"]
    blocked = named("tableio.write", "blocked_")
    frontier = named("tableio.write", "frontier")
    manifests = named("tableio.put_manifest")
    absorbs = named("operators.dedup.absorb")
    seq = [s for s in spans if s.name == "operators.sequence"]

    # rounds: the first starts where the pre-loop work (seed push or
    # resume rebuild) ends, each ends with its manifest
    first_round_write = min((s.t0 for s in j1 + blocked), default=top.t0)
    pre = [s.t1 for s in writes + absorbs if s.t1 <= first_round_write]
    start = max(pre, default=top.t0)
    round_s, absorb_s, frontier_s = [], 0.0, sum(s.wall for s in blocked)
    round_frontier = []  # a resume also writes a frontier before its rounds
    for m in manifests:
        round_s.append(m.t1 - start)
        enq = [s for s in j2 if start <= s.t0 < m.t0]
        fr = [s for s in frontier if start <= s.t0 < m.t0]
        round_frontier += fr
        handoff = fr[0].t0 if fr else m.t0
        if enq:
            absorb_s += handoff - enq[-1].t1
        frontier_s += m.t1 - handoff
        start = m.t1
    absorb_s += sum(s.wall for s in absorbs if s.t1 <= first_round_write)

    busy = _union_length((max(j["start"], top.t0), min(j.get("end", top.t1), top.t1))
                         for j in jobs)
    py_cpu_j1 = sum(s.cpu("py_cpu") for s in j1)
    active = [e for e in facts.seen_filter if e["active"]]
    cand = sum(e["candidates"] or 0 for e in active)
    enq_rows = ev.total(j2, "out_rows")
    crawl_s = top.wall
    cpu = top.s1.minus(top.s0)
    samples = [s.s0 for s in spans] + [s.s1 for s in spans]
    first_write = min((s.t0 for s in writes), default=top.t1)
    return {
        "plans.crawl.rounds": len(manifests),
        "plans.crawl.spark_jobs": len(jobs),
        "plans.crawl.round_s_p50": statistics.median(round_s) if round_s else 0.0,
        "plans.crawl.round_s_max": max(round_s, default=0.0),
        "plans.crawl.driver_gap_s": crawl_s - busy,
        "plans.crawl.driver_cpu_s": cpu.driver_cpu,
        "functions.htmlx.j1_s": sum(s.wall for s in j1),
        "functions.htmlx.py_cpu_s": py_cpu_j1,
        "functions.htmlx.pages_per_py_cpu_s": facts.pages / py_cpu_j1 if py_cpu_j1 else 0.0,
        "operators.fetch.jvm_cpu_s": ev.total(j1, "cpu_s"),
        "operators.fetch.gc_s": ev.total(j1, "gc_s"),
        "operators.fetch.scan_bytes": ev.total(j1, "in_bytes"),
        "operators.fetch.miss_rows": facts.misses,
        "operators.sequence.s": sum(s.wall for s in seq),
        "operators.sequence.jobs": ev.total(seq, "jobs"),
        "operators.dedup.j2_s": sum(s.wall for s in j2),
        "operators.dedup.j2_jobs": ev.total(j2, "jobs"),
        "operators.dedup.shuffle_bytes": ev.total(j2, "shuffle_write"),
        "operators.dedup.enqueue_rows": enq_rows,
        "operators.dedup.admit_ratio": enq_rows / facts.links if facts.links else 0.0,
        "operators.dedup.seen_rows": facts.seen_rows,
        "operators.dedup.filter_active_rounds": len(active),
        "operators.dedup.filter_pruned_ratio":
            sum(e["pruned"] for e in active) / cand if cand else 0.0,
        "operators.dedup.absorb_s": absorb_s,
        "operators.politeness.frontier_s": frontier_s,
        "operators.politeness.frontier_rows": ev.total(round_frontier, "out_rows"),
        "operators.politeness.blocked_rows": facts.blocked,
        "tableio.bytes_written": ev.total(writes, "out_bytes"),
        "tableio.files_written": facts.files_written,
        "tableio.writes": len(writes),
        "tableio.resume_s": first_write - top.t0,
        "proc.jvm_cpu_s": cpu.jvm_cpu,
        "proc.py_cpu_s": cpu.py_cpu,
        "proc.cpu_util": cpu.total_cpu / (crawl_s * k),
        "proc.peak_rss_mb": max(s.rss_mb for s in samples),
        "trace.unattributed_jobs": len(stray),
    }
