"""Spans, streaming progress and stage aggregates for the traced run.

Everything here reads the program from outside:

- ``Tracer`` records spans (name, start, end, parent) around the calls
  the benchmark makes into each layer. Spans stay in memory and are
  written out once, when the run ends.
- ``Progress`` is a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` as a dict; the traced run hangs each one
  as a child span under the sink call or registry key that ran it.
- ``StageStore`` reads per-stage task aggregates from Spark's status
  store (``sc._jsc.sc().statusStore()``) and sums them over the stage
  ids a span submitted. Both work with the UI off.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

# status-store fields summed per span, and how each is scaled
STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "task_deser_s": ("executorDeserializeTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


class StageStore:
    """Job and stage ids handed out so far, and the status store's
    per-stage aggregates for a range of stage ids."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.gateway = spark.sparkContext._gateway

    def marks(self) -> tuple[int, int]:
        """(next job id, next stage id) of the DAG scheduler."""
        dag = self.sc.dagScheduler()  # py4j unboxes the AtomicIntegers
        return int(dag.nextJobId()), int(dag.nextStageId())

    def stages(self, first: int, end: int) -> dict[int, dict]:
        """Aggregates of every stage with ``first <= id < end``, read once
        the listener bus has delivered their events."""
        self.sc.listenerBus().waitUntilEmpty()
        jvm = self.gateway.jvm
        quantiles = self.gateway.new_array(jvm.double, 0)
        seq = self.sc.statusStore().stageList(None, False, False, quantiles, None)
        out: dict[int, dict] = {}
        for sd in jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            sid = sd.stageId()
            if not first <= sid < end or sd.status().toString() == "SKIPPED":
                continue
            rec = out.setdefault(sid, {k: 0.0 for k in STAGE_FIELDS})
            for key, (field, scale) in STAGE_FIELDS.items():
                rec[key] += getattr(sd, field)() * scale
        return out


def sum_stages(stages: dict[int, dict], first: int, end: int) -> dict:
    """Aggregates over the stages ``first <= id < end``, plus their count."""
    tot = {k: 0.0 for k in STAGE_FIELDS}
    n = 0
    for sid, rec in stages.items():
        if first <= sid < end:
            n += 1
            for k in STAGE_FIELDS:
                tot[k] += rec[k]
    tot["stages"] = n
    return tot


class Tracer:
    """In-memory spans. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool, store: StageStore | None = None):
        self.enabled = enabled
        self.store = store
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record ``name`` around the block. The parent is the innermost
        open span of this thread unless given."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        rec = {"name": name, "parent": parent, "start": time.time(), **attrs}
        if self.store is not None:
            rec["jobs_from"], rec["stages_from"] = self.store.marks()
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if self.store is not None:
                rec["jobs_to"], rec["stages_to"] = self.store.marks()

    def add(self, name: str, parent: int | None, start: float, end: float, **attrs) -> dict:
        """Record a span measured elsewhere (a streaming progress event)."""
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "start": start, "end": end, **attrs}
            self.spans.append(rec)
        return rec

    def attach_stages(self, stages: dict[int, dict]) -> None:
        """Give every span that ran stages the sum of their aggregates."""
        for rec in self.spans:
            if "stages_from" in rec and "stages_to" in rec and "stage_sums" not in rec:
                rec["stage_sums"] = sum_stages(stages, rec["stages_from"], rec["stages_to"])
                rec["jobs"] = rec["jobs_to"] - rec["jobs_from"]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans}, indent=1))


def iso_to_epoch(ts: str) -> float:
    """``2026-01-02T03:04:05.678Z`` (a progress timestamp) → epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


class Progress(StreamingQueryListener):
    """Keeps each query progress as ``{batch_id, query_id, start, end,
    rows, duration_ms}``; start is the trigger's start time."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = dict(p.durationMs)
        start = iso_to_epoch(p.timestamp)
        with self._lock:
            self.events.append({
                "batch_id": p.batchId,
                "query_id": str(p.id),
                "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1e3,
                "rows": p.numInputRows,
                "duration_ms": dur,
            })

    def take(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out
