"""Spans and Spark stage metrics for the traced benchmark run.

Spans are recorded from the benchmark side only: around the public calls the
benchmark makes, and around the layer calls `run_pipeline` makes, by wrapping
the names it calls through (`pipeline.prepare`, `pipeline.write_route_frame`,
`pipeline.partition_metrics(...).collect`, `ManifestStore.commit`,
`cli.run_pipeline`). Each wrapped call also runs under a Spark job group named
after its layer, so the event log's stage metrics fold per layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"

# layers whose Spark jobs are folded from the event log
SPARK_LAYERS = (
    "sinks.read_table",
    "parse.parse_turns",
    "enrich.enrich_turns",
    "router.routed_union",
    "router.sink_counts",
    "pipeline.prepare",
    "router.write_route_frame",
    "lineage.partition_metrics",
    "cli.main",
)
SPARK_STATS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
}


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: int | None
    span_id: int
    attrs: dict


class Tracer:
    """In-memory spans; each span's layer is also its Spark job group."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        # job groups outside the measured loop get a prefix, so the event-log
        # fold only counts measured operations
        self.phase = ""
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        span_id = len(self.spans)
        rec = Span(name, self.op, time.perf_counter(), 0.0, parent, span_id, attrs)
        self.spans.append(rec)
        self._stack.append(span_id)
        prev = self.sc.getLocalProperty(GROUP_KEY) if self.sc else None
        if self.sc:
            self.sc.setLocalProperty(GROUP_KEY, self.phase + name)
        try:
            yield rec
        finally:
            if self.sc:
                self.sc.setLocalProperty(GROUP_KEY, prev)
            self._stack.pop()
            rec.end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr by a spanned call; undo with restore()."""
        fn = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def install_pipeline(self, pipeline, cli, lineage) -> None:
        """Span the layer calls run_pipeline makes, at the names it calls."""
        self.wrap(cli, "run_pipeline", "pipeline.run_pipeline")
        self.wrap(pipeline, "prepare", "pipeline.prepare")
        self.wrap(pipeline, "write_route_frame", "router.write_route_frame")
        self.wrap(lineage.ManifestStore, "commit", "lineage.manifest_commit")
        metrics = pipeline.partition_metrics
        tracer = self

        class _Collected:
            def __init__(self, df):
                self.df = df

            def collect(self):
                with tracer.span("lineage.partition_metrics") as rec:
                    rows = self.df.collect()
                    rec.attrs["partitions"] = len(rows)
                    return rows

        self._patched.append((pipeline, "partition_metrics", metrics))
        pipeline.partition_metrics = lambda df: _Collected(metrics(df))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched = []

    # --- span folding -------------------------------------------------------

    def per_op(self, name: str, ops) -> list[float]:
        """Seconds spent in spans called `name`, summed per operation."""
        total = {op: 0.0 for op in ops}
        for s in self.spans:
            if s.name == name and s.op in total:
                total[s.op] += s.end - s.start
        return list(total.values())

    def calls_per_op(self, name: str, ops) -> float:
        ops = set(ops)
        n = sum(1 for s in self.spans if s.name == name and s.op in ops)
        return n / max(1, len(ops))

    def self_per_op(self, name: str, ops) -> list[float]:
        """Span time minus the time its direct children cover, per operation."""
        total = {op: 0.0 for op in ops}
        kids = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent] += s.end - s.start
        for s in self.spans:
            if s.name == name and s.op in total:
                total[s.op] += (s.end - s.start) - kids[s.span_id]
        return list(total.values())

    def attr_per_op(self, name: str, attr: str, ops) -> float:
        ops = set(ops)
        vals = [s.attrs.get(attr, 0) for s in self.spans if s.name == name and s.op in ops]
        return sum(vals) / max(1, len(ops))

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.span_id, "parent": s.parent, "op": s.op, "name": s.name,
                    "start_s": s.start - t0, "end_s": s.end - t0, **s.attrs,
                }) + "\n")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# --- Spark event log --------------------------------------------------------


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor CPU, shuffle write, spill,
    GC, and for each post-shuffle stage its task durations."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
        "shuffle_read_stages": defaultdict(list),
    })
    stage_group: dict[int, str] = {}
    paths = sorted(
        os.path.join(d, name) for d, _dirs, files in os.walk(log_dir) for name in files
        if not name.startswith(".")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    groups[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" not in info:
                        groups[stage_group.get(info["Stage ID"], "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = groups[stage_group.get(sid, "")]
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    g["tasks"] += 1
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    if sr.get("Local Blocks Fetched", 0) + sr.get("Remote Blocks Fetched", 0):
                        g["shuffle_read_stages"][sid].append(
                            (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                        )
    return groups


def task_skew(stage_durations: dict[int, list[float]]) -> float:
    """Median over post-shuffle stages of max/median task time."""
    ratios = []
    for durations in stage_durations.values():
        mid = statistics.median(durations)
        if len(durations) > 1 and mid > 0:
            ratios.append(max(durations) / mid)
    return median(ratios) if ratios else 1.0
