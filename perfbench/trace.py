"""Tracing for the benchmark's traced mode (`--trace 1`).

Spans are opened by the benchmark around each call into a layer; the
layer's output is materialized before the span closes, so spans at one
level never overlap and a span's self time is the layer's own time. Each
span tags its jobs with `setJobGroup`; after the session stops, the event
log (enabled only in this mode) is parsed for per-span engine counters.
A `StreamingQueryListener` records each micro-batch's progress breakdown.

With tracing off every method is a no-op, so the untraced run executes
exactly the calls a user would make.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime

from pyspark.sql.streaming.listener import StreamingQueryListener

# event-log accumulable name -> counter key (as in tools/profile_query.py)
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}

# streaming progress `durationMs` key -> metric suffix
PROGRESS_KEYS = {
    "queryPlanning": "planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "latestOffset": "latest_offset_ms",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: int
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. `enabled=False` makes it free."""

    def __init__(self, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.stream_starts: list[tuple[str, float]] = []  # (runId, epoch s)
        self.progress: list[tuple[str, dict, int]] = []  # (runId, durationMs, rows)
        self.active = True  # traced mode alternates traced and untraced ops
        self._stack: list[Span] = []
        self._sc = None

    @property
    def on(self) -> bool:
        return self.enabled and self.active

    def attach(self, spark) -> None:
        """Bind to a (new) session; registers the streaming listener."""
        self._sc = spark.sparkContext
        if self.enabled:
            spark.streams.addListener(_ProgressListener(self))

    @contextmanager
    def span(self, name: str, run: int | None = None):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            run=run if run is not None else (parent.run if parent else -1),
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._sc.setJobGroup(f"span-{top.id}", top.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def cut(self, df):
        """Materialize a layer's output at its span boundary (traced mode)."""
        return df.localCheckpoint(eager=True) if self.on else df

    def count(self, name: str, value: float) -> None:
        if self.on:
            self.counts[name].append(float(value))

    # --- reporting ---

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans],
                    "counts": self.counts,
                    "stream_progress": self.progress,
                },
                fh,
            )

    def _innermost(self, t_ms: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start * 1000.0 <= t_ms <= s.end * 1000.0 and (best is None or s.start >= best.start):
                best = s
        return best

    def engine_counters(self, log_dir: str) -> tuple[dict[int, dict], int]:
        """Per-span engine counters parsed from the event log, and the
        number of failed tasks. A stage belongs to the span named by its
        job group; jobs without one (streaming jobs run in their own
        group) go to the innermost span open when they were submitted."""
        by_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        failed = 0
        for fname in sorted(os.listdir(log_dir)):
            stage_span: dict[int, int] = {}  # stage ids restart per application
            with open(os.path.join(log_dir, fname)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        if group.startswith("span-"):
                            span = self.spans[int(group[5:])]
                        else:
                            span = self._innermost(ev.get("Submission Time", 0))
                        if span is not None:
                            for sid in ev.get("Stage IDs", []):
                                stage_span[sid] = span.id
                    elif kind == "SparkListenerStageCompleted":
                        info = ev.get("Stage Info", {})
                        span_id = stage_span.get(info.get("Stage ID"))
                        if span_id is None:
                            continue
                        row = by_span[span_id]
                        row["tasks"] += info.get("Number of Tasks", 0)
                        for acc in info.get("Accumulables", []):
                            key = _ACCUMULABLES.get(acc.get("Name"))
                            if key:
                                row[key] += int(acc.get("Value", 0))
                    elif kind == "SparkListenerTaskEnd":
                        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                            failed += 1
        return by_span, failed

    def layer_metrics(self, log_dir: str | None, span_names: list[str]) -> dict[str, float]:
        """Median per occurrence of each span's self time and engine
        counters, plus the streaming breakdown and recorded counts."""
        selfs = self.self_times()
        engine, failed = self.engine_counters(log_dir) if log_dir else ({}, 0)
        out: dict[str, float] = {"engine.failed_tasks": failed}
        for name in span_names:
            mine = [s for s in self.spans if s.name == name]
            per = defaultdict(list)
            for s in mine:
                e = engine.get(s.id, {})
                wall = max(s.end - s.start, 1e-9)
                per["_s"].append(selfs[s.id])
                per[".tasks"].append(e.get("tasks", 0))
                per[".busy_frac"].append(e.get("run_ms", 0) / 1000.0 / (wall * self.cores))
                per[".shuffle_write_bytes"].append(e.get("shuffle_write_bytes", 0))
                per[".spill_bytes"].append(e.get("spill_bytes", 0))
                per[".gc_s"].append(e.get("gc_ms", 0) / 1000.0)
            for suffix in ("_s", ".tasks", ".busy_frac", ".shuffle_write_bytes", ".spill_bytes", ".gc_s"):
                out[name + suffix] = statistics.median(per[suffix]) if per[suffix] else 0.0
        # only streaming queries started inside a traced drain span count
        # (warm-up drains during set-up are untraced)
        starts = dict(self.stream_starts)
        drains = defaultdict(lambda: defaultdict(float))
        for run_id, dur, _rows in self.progress:
            span = self._innermost(starts.get(run_id, 0.0) * 1000.0)
            if span is None or span.name != "incremental.drain":
                continue
            d = drains[run_id]
            d["batches"] += 1
            for key, suffix in PROGRESS_KEYS.items():
                d[suffix] += dur.get(key, 0)
        for suffix in (*PROGRESS_KEYS.values(), "batches"):
            vals = [d[suffix] for d in drains.values()]
            name = "incremental.batches_per_drain" if suffix == "batches" else f"incremental.{suffix}"
            out[name] = statistics.median(vals) if vals else 0.0
        for name, vals in self.counts.items():
            out[name] = statistics.median(vals)
        return out


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        self.tracer.stream_starts.append((str(event.runId), _epoch_s(event.timestamp)))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.tracer.progress.append((str(p.runId), dict(p.durationMs), int(p.numInputRows)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
