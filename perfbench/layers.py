"""Layer spans around the calls into the program, and their Spark numbers.

Tracing off: ``layer`` and ``materialize`` do nothing, so an untraced pass
runs exactly the composition a user would write.

Tracing on: every layer call gets a span (name, start, end, parent) kept in
memory and its own Spark job group, and its output is materialized at the
boundary so the next layer's numbers exclude it. After the session stops,
the uncompressed event log is read back and every job, stage and task is
attributed to a span: by job group, or for jobs a streaming query submits
from its own thread, by the span open at the job's submission time.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "extract", "chunks", "canonicalize", "graph_tables", "resolution",
    "communities", "similarity", "catalog", "ingest", "compact",
)
# layers whose output is a DataFrame report the Exchanges of its plan
PLAN_LAYERS = (
    "extract", "chunks", "canonicalize", "graph_tables", "resolution",
    "communities", "similarity", "compact",
)
QUANTITIES = (
    "wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "idle_slot_s",
    "gc_s", "shuffle_write_mb", "spill_mb", "rows_out",
)
_GROUP = "perfbench"
_EXCHANGE = re.compile(r"\b\w*Exchange\b")


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_no: int
    start: float
    end: float = 0.0
    rows_out: int = 0
    exchanges: int = 0
    commits: int = 0
    pages: int = 0


@dataclass
class Tracer:
    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    pass_no: int = 0
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def layer(self, name: str):
        """Span + job group around one call into a layer."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.id if parent else None,
                    self.pass_no, time.time())
        self.spans.append(span)
        self._stack.append(span)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{_GROUP}:{span.id}", name)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if parent:
                sc.setJobGroup(f"{_GROUP}:{parent.id}", parent.name)
            else:
                sc.setJobGroup(f"{_GROUP}:probe", "probe")

    def materialize(self, span: Span | None, *dfs):
        """Compute each output once inside the span and hand back a pinned
        copy; records its plan's Exchanges. Returns the inputs untouched
        when tracing is off."""
        if span is None:
            return dfs if len(dfs) > 1 else dfs[0]
        out = []
        for df in dfs:
            out.append(df.localCheckpoint(eager=True))
            plan = df._jdf.queryExecution().executedPlan()
            if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                plan = plan.executedPlan()  # the final plan only, not the initial one too
            span.exchanges += len(_EXCHANGE.findall(plan.toString()))
        return tuple(out) if len(out) > 1 else out[0]

    def count_rows(self, span: Span | None, *dfs) -> None:
        """Row counts of a closed span's pinned outputs; its jobs run in the
        unattributed "probe" group."""
        if span is not None:
            span.rows_out += sum(df.count() for df in dfs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- event log ------------------------------------------------------------------


def _read_events(log_dir: str):
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def layer_metrics(tracer: Tracer, log_dir: str, slots: int, passes: list[int]) -> dict:
    """Per-layer numbers, medians over the traced ``passes``."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def span_at(t_ms: float):
        t = t_ms / 1000.0
        inner = None
        for s in spans:
            if s.start <= t <= s.end and (inner is None or s.start >= inner.start):
                inner = s
        return inner

    job_span: dict[int, Span] = {}
    stage_span: dict[int, Span] = {}
    pandas_stages: set[int] = set()
    acc: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            span = None
            if group.startswith(_GROUP + ":"):
                sid = group.split(":", 1)[1]
                span = by_id.get(int(sid)) if sid.isdigit() else None
            else:
                span = span_at(ev["Submission Time"])
            if span is None:
                continue
            job_span[ev["Job ID"]] = span
            acc[span.id]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_span.setdefault(st, span)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if any("MapInPandas" in (r.get("Scope") or "") for r in info.get("RDD Info", [])):
                pandas_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if span is None or not m:
                continue
            a = acc[span.id]
            a["tasks"] += 1
            a["exec_run_s"] += m["Executor Run Time"] / 1e3
            a["exec_cpu_s"] += m["Executor CPU Time"] / 1e9
            a["gc_s"] += m["JVM GC Time"] / 1e3
            a["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
            a["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
            if ev["Stage ID"] in pandas_stages:
                a["pandas_records_in"] += m["Input Metrics"]["Records Read"]

    per_pass: dict[int, dict[str, dict]] = {p: {} for p in passes}
    for s in spans:
        if s.pass_no not in per_pass:
            continue
        layer = per_pass[s.pass_no].setdefault(s.name, defaultdict(float))
        layer["wall_s"] += s.end - s.start
        layer["rows_out"] += s.rows_out
        layer["exchanges"] += s.exchanges
        layer["commits"] += s.commits
        layer["pages"] += s.pages
        for k, v in acc[s.id].items():
            layer[k] += v
    out: dict[str, float] = {}
    for name in LAYERS:
        rows = [per_pass[p].get(name) for p in passes]
        rows = [r for r in rows if r is not None]

        def med(key, rows=rows):
            return _median([r[key] for r in rows]) if rows else 0.0

        for q in QUANTITIES:
            if q == "idle_slot_s":
                out[f"{name}.{q}"] = _median(
                    [slots * r["wall_s"] - r["exec_run_s"] for r in rows]
                ) if rows else 0.0
            else:
                out[f"{name}.{q}"] = med(q)
        if name in PLAN_LAYERS:
            out[f"{name}.exchanges"] = med("exchanges")
        if name == "catalog":
            out["catalog.jobs_per_commit"] = _median(
                [r["jobs"] / r["commits"] for r in rows if r["commits"]]
            ) if rows else 0.0
        if name == "ingest":
            out["ingest.extract_passes"] = _median(
                [r["pandas_records_in"] / r["pages"] for r in rows if r["pages"]]
            ) if rows else 0.0
    return out


def _median(values):
    values = sorted(values)
    if not values:
        return 0.0
    n = len(values)
    return values[n // 2] if n % 2 else (values[n // 2 - 1] + values[n // 2]) / 2
