"""Per-layer tracing: spans from the benchmark's side, job metrics from the
Spark event log.

A layer is named after the module function it wraps. ``Tracer.layer``
records a span and sets the Spark job description to the layer name for
the calls inside it, so every job it starts can be found in the event log.
Where one engine call runs several jobs under one description, the
``callSite.short`` property of each job (the engine file that issued the
action) assigns it to a finer layer (``CALLSITE_RULES``).

The per-layer catalogue (``CATALOGUE``) is the single list of what the
traced run reports; layers a workload does not reach report 0.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.common import median

STD = ("wall_s", "task_s", "core_util", "shuffle_bytes", "spill_bytes")
PY = ("python_bytes_sent", "python_bytes_received")

# layer -> its metrics; METRICS.md says which workload and end-to-end
# metric each layer should move
CATALOGUE: dict[str, tuple[str, ...]] = {
    "plans.pipeline.skew_gate": ("wall_s", "jobs"),
    "operators.ingest.gap_fill": STD + ("fill_ratio",),
    "operators.profile.bucketize": STD,
    "operators.profile.chunk_stats": STD + ("rows_out",),
    "operators.profile.transitions": STD + ("rows_out",),
    "operators.profile.series_stats": STD,
    "operators.profile.assemble_profile": STD,
    "plans.pipeline": ("profile_1core_rows_per_s",),
    "plans.retention.watermark_scan": ("wall_s", "jobs"),
    "plans.storage.merge_tiers.1m": STD + ("files_written", "bytes_written"),
    "plans.storage.merge_tiers.coarse": STD + ("files_written", "bytes_written"),
    "plans.storage.read_versions": STD + ("rows_read_per_new_row",),
    "plans.storage.commit_run": ("wall_s", "manifest_bytes"),
    "plans.storage.expire": ("wall_s", "days_dropped"),
    "plans.retention.batch": ("jobs_per_batch", "driver_idle_share", "write_amp"),
    "plans.storage.read_tier": STD + ("files_opened", "bytes_read"),
    "operators.rollup.build_tiers": STD,
    "operators.compress.compress_points": STD + PY,
    "operators.compress.decompress_points": STD + PY,
    "plans.parity.parity_profiles": STD + PY,
    "codec": ("ts_bytes_per_point", "value_bytes_per_point"),
    "trace": ("overhead_s", "unattributed_share"),
    "jvm": ("jit_cpu_s", "codegen_compiles"),
}

UNITS = {
    "wall_s": ("s", "lower"), "task_s": ("s", "lower"),
    "core_util": ("ratio", "higher"), "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"), "jobs": ("count", "lower"),
    "fill_ratio": ("ratio", "lower"), "rows_out": ("rows", "lower"),
    "profile_1core_rows_per_s": ("1/s", "higher"),
    "files_written": ("count", "lower"), "bytes_written": ("B", "lower"),
    "rows_read_per_new_row": ("rows/row", "lower"),
    "manifest_bytes": ("B", "lower"), "days_dropped": ("count", "lower"),
    "jobs_per_batch": ("count", "lower"), "driver_idle_share": ("ratio", "lower"),
    "write_amp": ("B/B", "lower"), "files_opened": ("count", "lower"),
    "bytes_read": ("B", "lower"), "python_bytes_sent": ("B", "lower"),
    "python_bytes_received": ("B", "lower"),
    "ts_bytes_per_point": ("B/point", "lower"),
    "value_bytes_per_point": ("B/point", "lower"),
    "overhead_s": ("s", "lower"), "unattributed_share": ("ratio", "lower"),
    "jit_cpu_s": ("s", "lower"), "codegen_compiles": ("count", "lower"),
}

# jobs run under an engine call's description, re-assigned by the engine
# file that issued the action
CALLSITE_RULES: dict[str, list[tuple[str, str]]] = {
    "plans.retention.batch": [
        # batch.isEmpty() and the watermark/touched-days aggregation
        ("streaming/ingest.py", "plans.retention.watermark_scan"),
        # the 1h cascade's pinned partials (count before the coarse merge)
        ("plans/retention.py", "plans.storage.merge_tiers.coarse"),
    ],
}


def metric_names() -> list[tuple[str, str, str]]:
    """Every per-layer metric as ``(name, unit, better)``."""
    return [
        (f"{layer}.{m}", *UNITS[m])
        for layer, metrics in CATALOGUE.items()
        for m in metrics
    ]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    counts: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s


class Tracer:
    """Spans kept in memory; each sets the Spark job description."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def current(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    @contextmanager
    def layer(self, name: str):
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(name)
        span = Span(name, time.time())
        self._stack.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if self._stack:
                self._stack[-1].child_s += span.wall
            self.spans.append(span)
            self.sc.setJobDescription(prev)

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class Job:
    desc: str
    callsite: str
    start_ms: int
    end_ms: int = 0
    stages: list = field(default_factory=list)
    layer: str = ""

    @property
    def wall(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3


class EventLog:
    """Jobs and per-stage task totals from one uncompressed event log."""

    TASK_FIELDS = ("task_ms", "shuffle_bytes", "spill_bytes", "input_bytes",
                   "python_bytes_sent", "python_bytes_received")
    PY_ACCUMS = {"data sent to Python workers": "python_bytes_sent",
                 "data returned from Python workers": "python_bytes_received"}

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage: dict[int, dict] = defaultdict(lambda: defaultdict(int))
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        for job in self.jobs.values():
            job.layer = _assign(job)

    @staticmethod
    def find(eventlog_dir: str) -> str:
        logs = [p for p in glob.glob(os.path.join(eventlog_dir, "*"))
                if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log, found {logs}")
        return logs[0]

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(props.get("spark.job.description") or "",
                      props.get("callSite.short") or "",
                      e["Submission Time"], stages=e.get("Stage IDs", []))
            self.jobs[e["Job ID"]] = job
            for sid in job.stages:
                # a reused shuffle stage is listed again (skipped) by later
                # jobs; its tasks ran under the first job that listed it
                self.stage_job.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            acc = self.stage[e["Stage ID"]]
            acc["task_ms"] += m.get("Executor Run Time", 0)
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                key = self.PY_ACCUMS.get(a.get("Name"))
                if key:
                    acc[key] += int(a.get("Update") or 0)

    def totals(self, jobs: list[Job]) -> dict:
        ids = {id(j) for j in jobs}
        out = dict.fromkeys(self.TASK_FIELDS, 0)
        for sid, jid in self.stage_job.items():
            if id(self.jobs[jid]) in ids:
                for k in self.TASK_FIELDS:
                    out[k] += self.stage[sid].get(k, 0)
        return out

    def jobs_in(self, start: float, end: float) -> list[Job]:
        """Jobs submitted within the epoch-seconds interval."""
        return [j for j in self.jobs.values()
                if start * 1e3 <= j.start_ms <= end * 1e3 + 1]


def _assign(job: Job) -> str:
    for needle, layer in CALLSITE_RULES.get(job.desc, []):
        if needle in job.callsite:
            return layer
    return job.desc


def busy_share(jobs: list[Job], start: float, end: float) -> float:
    """Share of [start, end] (epoch seconds) during which a job ran."""
    spans = sorted((max(j.start_ms / 1e3, start), min(j.end_ms / 1e3, end))
                   for j in jobs)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy / (end - start) if end > start else 0.0


class LayerReport:
    """Per-layer metrics of the traced operations of one workload.

    Every value is per traced operation (totals divided by ``n_ops``),
    except ratios, which are taken over the totals."""

    def __init__(self, tracer: Tracer, evlog: EventLog, cores: int, n_ops: int):
        self.tracer, self.evlog, self.cores = tracer, evlog, cores
        self.n = max(n_ops, 1)
        self.values: dict[str, float] = {name: 0.0 for name, _, _ in metric_names()}

    def layer_wall(self, layer: str) -> float:
        """Self time of the layer's spans plus the wall time of jobs that
        ``CALLSITE_RULES`` moved into it from an enclosing span."""
        own = sum(s.self_s for s in self.tracer.spans_named(layer))
        moved = sum(j.wall for j in self.evlog.jobs.values()
                    if j.layer == layer and j.desc != layer)
        return own + moved

    def jobs(self, layer: str) -> list[Job]:
        return [j for j in self.evlog.jobs.values() if j.layer == layer]

    def set(self, layer: str, metric: str, value: float) -> None:
        key = f"{layer}.{metric}"
        if key not in self.values:
            raise KeyError(f"{key} is not in the per-layer catalogue")
        self.values[key] = float(value)

    def standard(self, layer: str) -> None:
        """wall_s, task_s, core_util, shuffle/spill bytes (and Python bytes
        where the catalogue lists them)."""
        metrics = CATALOGUE[layer]
        wall = self.layer_wall(layer)
        jobs = self.jobs(layer)
        tot = self.evlog.totals(jobs)
        task_s = tot["task_ms"] / 1e3
        self.set(layer, "wall_s", wall / self.n)
        if "jobs" in metrics:
            self.set(layer, "jobs", len(jobs) / self.n)
        if "task_s" in metrics:
            self.set(layer, "task_s", task_s / self.n)
            self.set(layer, "core_util", task_s / (wall * self.cores) if wall > 0 else 0.0)
            self.set(layer, "shuffle_bytes", tot["shuffle_bytes"] / self.n)
            self.set(layer, "spill_bytes", tot["spill_bytes"] / self.n)
        for k in PY:
            if k in metrics:
                self.set(layer, k, tot[k] / self.n)

    def counts(self, layer: str) -> dict:
        """Sum of the counters the layer's spans recorded."""
        out: dict = defaultdict(float)
        for s in self.tracer.spans_named(layer):
            for k, v in s.counts.items():
                out[k] += v
        return out

    def finish(self, op_name: str, attributed: list[str], untraced_op_s: list[float]) -> None:
        """Tracing overhead and the share of traced-op wall time that no
        ``attributed`` layer accounts for."""
        ops = self.tracer.spans_named(op_name)
        op_wall = sum(s.wall for s in ops)
        covered = sum(self.layer_wall(layer) for layer in attributed)
        self.set("trace", "overhead_s",
                 median([s.wall for s in ops]) - median(untraced_op_s))
        self.set("trace", "unattributed_share",
                 max(0.0, 1.0 - covered / op_wall) if op_wall > 0 else 0.0)
