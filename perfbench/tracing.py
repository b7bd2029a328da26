"""Spans kept by the benchmark, and the fold of Spark's event log into
per-layer numbers.

The benchmark tags every op and every layer call it makes with a Spark job
group (``Spans.span``), keeps the wall-clock span of each in memory, and,
in a traced run, reads the uncompressed single-file event log once the
session has stopped. ``fold_event_log`` charges each job, stage and task to
the job group that was set when it was submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a traced run: one plain JSON-lines file per app
    (Spark 4.1 defaults to rolling, zstd-compressed logs) with block
    updates, so cached storage can be followed."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


@dataclass
class Span:
    group: str
    start_ms: float
    end_ms: float = 0.0

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Spans:
    """Wall-clock spans of the benchmark's own layer calls, each run under
    its own Spark job group so engine events join back to it."""

    def __init__(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, group: str, description: str):
        self.sc.setJobGroup(group, description)
        s = Span(group, time.time() * 1000.0)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    task_wait_s: float = 0.0
    job_spans: list = field(default_factory=list)
    stage_task_s: dict = field(default_factory=lambda: defaultdict(list))

    def stage_skew(self) -> float:
        """max ÷ median task time in the stage with the most task time."""
        if not self.stage_task_s:
            return 0.0
        worst = max(self.stage_task_s.values(), key=sum)
        med = statistics.median(worst)
        return max(worst) / med if med > 0 else 1.0


@dataclass
class Fold:
    groups: dict[str, GroupStats]
    cached_bytes_peak: int
    unattributed_run_s: float


def fold_event_log(log_dir: str) -> Fold:
    """Fold the event log(s) under ``log_dir`` by job group."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    stage_submit: dict[int, float] = {}
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    blocks: dict[str, int] = {}
    cached = peak = 0
    unattributed = 0.0
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_submit[jid] = ev.get("Submission Time", 0)
                    for st in ev.get("Stage Infos", []):
                        stage_group.setdefault(st["Stage ID"], g)
                    if g is not None:
                        groups[g].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid)
                    if g is not None:
                        groups[g].job_spans.append(
                            (job_submit.get(jid, 0), ev.get("Completion Time", 0))
                        )
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        g = stage_group.get(sid)
                    stage_group[sid] = g
                    stage_submit[sid] = info.get("Submission Time", 0)
                    if g is not None:
                        groups[g].stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    g = stage_group.get(sid)
                    if g is None:
                        unattributed += run_s
                        continue
                    gs = groups[g]
                    gs.tasks += 1
                    gs.executor_run_s += run_s
                    gs.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    gs.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    gs.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    gs.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    gs.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    gs.output_bytes += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                    launch = info.get("Launch Time", 0)
                    if sid in stage_submit and launch:
                        gs.task_wait_s += max(0.0, launch - stage_submit[sid]) / 1000.0
                    gs.stage_task_s[sid].append(run_s)
                elif kind == "SparkListenerBlockUpdated":
                    info = ev.get("Block Updated Info") or {}
                    bid = str(info.get("Block ID", ""))
                    if not bid.startswith("rdd_"):
                        continue
                    size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                    cached += size - blocks.get(bid, 0)
                    blocks[bid] = size
                    peak = max(peak, cached)
    return Fold(dict(groups), peak, unattributed)


def covered_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_layers(fold: Fold, spans: list[Span]) -> dict[str, float]:
    """Engine totals of one op made of ``spans`` (its job groups)."""
    out = defaultdict(float)
    skew = []
    wall_ms = gap_ms = 0.0
    for s in spans:
        gs = fold.groups.get(s.group, GroupStats())
        out["spark.jobs"] += gs.jobs
        out["spark.stages"] += len(gs.stages)
        out["spark.tasks"] += gs.tasks
        out["spark.executor_run_s"] += gs.executor_run_s
        out["spark.executor_cpu_s"] += gs.executor_cpu_s
        out["spark.gc_s"] += gs.gc_s
        out["spark.shuffle_write_bytes"] += gs.shuffle_write_bytes
        out["spark.shuffle_read_bytes"] += gs.shuffle_read_bytes
        out["spark.spill_bytes"] += gs.spill_bytes
        out["spark.task_wait_s"] += gs.task_wait_s
        skew.append(gs.stage_skew())
        span_ms = s.end_ms - s.start_ms
        wall_ms += span_ms
        gap_ms += span_ms - covered_ms(gs.job_spans, s.start_ms, s.end_ms)
    out["spark.stage_skew"] = max(skew, default=0.0)
    out["spark.driver_gap_s"] = gap_ms / 1000.0
    return dict(out)


SPARK_LAYERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.task_wait_s", "spark.stage_skew",
)


def mean_over_ops(per_op: list[dict[str, float]]) -> dict[str, float]:
    """Per-op mean of each engine total (the skew ratio: its median)."""
    if not per_op:
        return {k: 0.0 for k in SPARK_LAYERS}
    out = {k: statistics.fmean(o.get(k, 0.0) for o in per_op) for k in SPARK_LAYERS}
    out["spark.stage_skew"] = statistics.median(o["spark.stage_skew"] for o in per_op)
    return out


def attributed_frac(fold: Fold, named: set[str]) -> float:
    """Share of all executor run time that ran in a benchmark-named group."""
    mine = sum(g.executor_run_s for k, g in fold.groups.items() if k in named)
    total = sum(g.executor_run_s for g in fold.groups.values()) + fold.unattributed_run_s
    return mine / total if total > 0 else 1.0
