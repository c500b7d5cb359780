"""The benchmark's three workloads.

Each workload takes a ``Bench`` (see ``run.py``), runs one untimed
warm-up pass, then timed passes inside a window of ``bench.seconds``,
checks every timed pass's output, and returns an ``Outcome``.

- ``kinesis_backfill``: closed loop. 40 NDJSON files of 1,000 events
  are drained by an availableNow query, 5 files per trigger, into a
  fresh 4-shard stream per pass.
- ``kinesis_trickle``: open loop. One generator thread publishes a
  50-event file every 100 ms (10 files/s, 500 events/s) into the
  watched directory for the whole window; a processingTime trigger of
  1.5 s delivers them.
- ``registry_sweep``: closed loop with one caller. Each key of
  ``SWEEP_KEYS`` runs as ``QUERIES[key](spark, dir)`` then
  ``.collect()`` on a private copy of the tables, in a seeded order,
  and is checked against its DuckDB oracle.
"""

from __future__ import annotations

import math
import random
import shutil
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from inputs import (
    EVENT_SCHEMA,
    batch_files,
    delivered_records,
    delivery_latencies,
    expected_records,
    make_files,
    multiset_errors,
    write_file,
)

BACKFILL_FILES, BACKFILL_PER_FILE, BACKFILL_FILES_PER_TRIGGER = 40, 1000, 5
TRICKLE_MIN_FILES, TRICKLE_PER_FILE, TRICKLE_FILES_PER_S = 100, 50, 10.0
# Above what a micro-batch of 15 files takes (about 0.9 s warm on 4
# cores, 1.1 s with two other busy processes), so triggers do not run
# back to back: back to back, a slow batch leaves more files for the
# next one and host load compounds (see README.md).
TRICKLE_TRIGGER_S = 1.5
# The Kinesis warm-up passes run on part of the input: a backfill pass
# after a half-size warm-up is as fast as the passes after it.
BACKFILL_WARMUP_FILES, TRICKLE_WARMUP_FILES = 20, 50
TRICKLE_DRAIN_TIMEOUT_S = 60.0
SHARDS = 4

# A ROADMAP item-3 maintain twin, a staging-heavy key and a control.
SWEEP_KEYS = ("stream_kmv_maintain", "dedup_containment", "agg_sum_group")
# One sweep pass samples each key's latency once; with three keys the
# median key's one sample swung by 40% from run to run, so the sweep
# always times two passes.
SWEEP_MIN_PASSES = 2


@dataclass
class PassStats:
    """What one pass measured, seen from outside the program."""

    wall_s: float
    records: int  # generated records (Kinesis) or result rows (sweep)
    latencies: list[float]  # per file (Kinesis) or per key (sweep)
    layers: dict[str, float] = field(default_factory=dict)
    span: int | None = None  # the pass's span, in traced passes
    key_spans: dict[str, int] = field(default_factory=dict)
    cpu_s: float = 0.0
    peak_pss: int = 0


@dataclass
class Outcome:
    passes: list[PassStats]
    attempted: int
    failed: int


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def quantile(values, q: float) -> float:
    """The ``q`` quantile, interpolated between the two nearest ranks
    (0 for no values)."""
    values = sorted(values)
    if not values:
        return 0.0
    pos = q * (len(values) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


def span_id(sp: dict | None) -> int | None:
    return sp["id"] if sp else None


def _run_passes(bench, one_pass, min_passes: int = 1) -> tuple[PassStats, list[PassStats]]:
    """One untimed warm-up pass, then timed passes: the first
    ``min_passes`` always, and another while one as long as the last
    would still end inside ``bench.seconds``. ``one_pass(tag, timed)``
    returns the pass's stats.

    A traced run traces the timed passes, then runs one untraced pass.
    ``trace.overhead_s`` is the traced median minus the untraced pass;
    while passes still get faster it overstates the overhead, never
    understates it."""
    warm = one_pass("warm", False)
    bench.log(f"warm-up pass: {warm.wall_s:.3f} s wall")
    bench.setup_done()
    bench.set_tracing(bench.trace)
    passes = []
    t_start = t_prev = time.perf_counter()
    while True:
        stats = bench.measure(lambda: one_pass(f"p{len(passes)}", True))
        bench.log(f"pass {len(passes)}: {stats.wall_s:.3f} s wall, {stats.cpu_s:.2f} s cpu")
        passes.append(stats)
        t_now = time.perf_counter()
        # one more pass only if one as long as the last ends inside the window
        if len(passes) >= min_passes and (t_now - t_start) + (t_now - t_prev) > bench.seconds:
            break
        t_prev = t_now
    if bench.trace:
        bench.set_tracing(False)
        untraced = bench.measure(lambda: one_pass("untraced", False)).wall_s
        bench.extra_layers["trace.overhead_s"] = median(p.wall_s for p in passes) - untraced
    return warm, passes


# ---------------------------------------------------------------- Kinesis


class TimedSink:
    """Wraps the program's sink: times each call and records which files
    its micro-batch held, read from the checkpoint's file-source log."""

    def __init__(self, bench, sink, ckpt: Path, parent: int | None):
        self.bench, self.sink, self.ckpt, self.parent = bench, sink, ckpt, parent
        self.calls: list[dict] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        with self.bench.tracer.span("kinesis_sink.call", parent=self.parent, batch_id=batch_id) as sp:
            start = time.time()
            self.sink(batch_df, batch_id)
            end = time.time()
        self.calls.append({
            "batch_id": batch_id,
            "start": start,
            "end": end,
            "files": batch_files(self.ckpt, batch_id),
            "span": span_id(sp),
        })


class KinesisPass:
    """One query from a source directory into a fresh stream, through the
    program's sink and the shipped transform."""

    def __init__(self, bench, tag: str, src: Path):
        from kinesis_adapter_spark.sources import aws
        from kinesis_adapter_spark.streaming.kinesis_sink import KinesisForeachBatchSink

        self.bench, self.src = bench, src
        self.stream = f"pb-{bench.run_id}-{tag}"
        self.ckpt = bench.work / f"ckpt-{tag}"
        t0 = time.perf_counter()
        with bench.tracer.span("aws.create_stream", stream=self.stream):
            aws.create_stream(self.stream, shards=SHARDS)
        self.create_s = time.perf_counter() - t0
        bench.streams.append(self.stream)
        self.sink = KinesisForeachBatchSink(
            stream=self.stream,
            endpoint=aws.endpoint_url(),
            aws_kw=aws.AWS_KW,
            ledger_dir=str(self.ckpt / "ledger"),
        )
        self.timed: TimedSink | None = None

    def start(self, parent: int | None, trigger: dict, max_files: int | None = None):
        from pyspark.sql import functions as F

        self.timed = TimedSink(self.bench, self.sink, self.ckpt, parent)
        reader = self.bench.spark.readStream.schema(EVENT_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        out = (
            reader.json(str(self.src))
            .filter(F.col("event_type") != "error")
            .select(
                "event_id",
                "event_type",
                "user_id",
                "payload",
                (F.col("user_id") % 4).cast("string").alias("pk"),
            )
        )
        return (
            out.writeStream.foreachBatch(self.timed)
            .option("checkpointLocation", str(self.ckpt))
            .trigger(**trigger)
            .start()
        )

    def layers(self, records_in: dict[str, int], emu0: dict, emu1: dict) -> dict[str, float]:
        """Sink-call and emulator counters of the pass. ``records_in`` maps
        a file to the records it contributes after the transform."""
        calls = sorted(self.timed.calls, key=lambda c: c["batch_id"])
        durs = [c["end"] - c["start"] for c in calls]
        recs = [sum(records_in.get(f, 0) for f in c["files"]) for c in calls]
        busy, total = sum(durs), sum(recs)
        per_rec = [d / r for d, r in zip(durs, recs) if r]
        puts = emu1["put_records"] - emu0["put_records"]
        return {
            "aws.create_stream_s": self.create_s,
            "kinesis_sink.calls": len(calls),
            "kinesis_sink.busy_s": busy,
            "kinesis_sink.us_per_record": busy / total * 1e6 if total else 0.0,
            "kinesis_sink.call_p50_s": median(durs),
            "kinesis_sink.growth": per_rec[-1] / per_rec[0] if len(per_rec) > 1 else 1.0,
            "aws.put_calls": emu1["put_calls"] - emu0["put_calls"],
            "aws.put_records": puts,
            "aws.put_retried_frac": (emu1["put_failed"] - emu0["put_failed"]) / puts if puts else 0.0,
            "aws.emulator_cpu_s": emu1["cpu_s"] - emu0["cpu_s"],
        }

    def attach_progress(self, pass_span: int | None) -> None:
        """Hang each trigger's progress under the sink call of its batch."""
        bench = self.bench
        if bench.progress is None:
            return
        bench.flush_listeners()
        by_batch = {c["batch_id"]: c["span"] for c in self.timed.calls}
        for ev in bench.progress.take():
            bench.tracer.add(
                "streaming.trigger", by_batch.get(ev["batch_id"], pass_span),
                ev["start"], ev["end"], pass_span=pass_span,
                batch_id=ev["batch_id"], duration_ms=ev["duration_ms"],
            )

    def drain(self) -> list[dict]:
        from kinesis_adapter_spark.sources import aws

        with self.bench.tracer.span("aws.drain", stream=self.stream):
            records = aws.read_all_records(self.stream)
        aws.client("kinesis").delete_stream(StreamName=self.stream)
        return records


def _check_streams(pending: list[tuple[KinesisPass, list, PassStats]]) -> tuple[int, int]:
    """Drain each timed pass's stream and compare it with the records its
    files should have produced. Returns (attempted, failed) records."""
    attempted = failed = 0
    for kp, files, stats in pending:
        expected = expected_records(files)
        t0 = time.perf_counter()
        got = delivered_records(kp.drain())
        stats.layers["aws.drain_s"] = time.perf_counter() - t0
        attempted += sum(expected.values())
        failed += multiset_errors(expected, got)
    return attempted, failed


def _records_in(names: list[str], files: list[list[dict]]) -> dict[str, int]:
    return {n: sum(e["event_type"] != "error" for e in ev) for n, ev in zip(names, files)}


def kinesis_backfill(bench) -> Outcome:
    files = make_files(bench.seed, BACKFILL_FILES, BACKFILL_PER_FILE)
    names = [f"part-{i:04d}.json" for i in range(len(files))]
    src, warm_src = bench.work / "backfill-src", bench.work / "backfill-warm"
    src.mkdir()
    warm_src.mkdir()
    for i, (name, events) in enumerate(zip(names, files)):
        write_file(src, name, events)
        if i < BACKFILL_WARMUP_FILES:
            write_file(warm_src, name, events)
    records_in = _records_in(names, files)
    pending = []

    def one_pass(tag: str, timed: bool) -> PassStats:
        with bench.tracer.span("pass", tag=tag) as sp:
            kp = KinesisPass(bench, tag, warm_src if tag == "warm" else src)
            emu0 = bench.emulator.stats()
            t0, started = time.perf_counter(), time.time()
            q = kp.start(span_id(sp), {"availableNow": True}, BACKFILL_FILES_PER_TRIGGER)
            q.awaitTermination()
            wall = time.perf_counter() - t0
            emu1 = bench.emulator.stats()
        kp.attach_progress(span_id(sp))
        # the whole backlog is due when the query starts
        lat = delivery_latencies(kp.timed.calls, dict.fromkeys(names, started))
        stats = PassStats(wall, sum(map(len, files)), list(lat.values()),
                          kp.layers(records_in, emu0, emu1), span_id(sp))
        if timed:
            pending.append((kp, files, stats))
        else:
            kp.drain()
        return stats

    _, passes = _run_passes(bench, one_pass)
    return Outcome(passes, *_check_streams(pending))


def kinesis_trickle(bench) -> Outcome:
    pending = []
    n_events = 0  # events made by earlier passes, so event ids never repeat
    # a timed pass publishes for the whole window
    timed_files = max(TRICKLE_MIN_FILES, round(bench.seconds * TRICKLE_FILES_PER_S))

    def one_pass(tag: str, timed: bool) -> PassStats:
        nonlocal n_events
        n_files = TRICKLE_WARMUP_FILES if tag == "warm" else timed_files
        files = make_files(bench.seed * 1000 + n_events, n_files, TRICKLE_PER_FILE, n_events)
        n_events += n_files * TRICKLE_PER_FILE
        names = [f"part-{i:05d}.json" for i in range(n_files)]
        src = bench.work / f"src-{tag}"
        src.mkdir()
        with bench.tracer.span("pass", tag=tag) as sp:
            kp = KinesisPass(bench, tag, src)
            q = kp.start(span_id(sp), {"processingTime": f"{round(TRICKLE_TRIGGER_S * 1000)} milliseconds"})
            _await_idle(q)
            emu0 = bench.emulator.stats()
            gen = Generator(src, names, files, TRICKLE_FILES_PER_S, bench.tracer, span_id(sp))
            gen.start(_on_trigger_grid(time.time() + 0.1))
            _await_delivery(q, kp.timed, set(names), gen.t0 + n_files / TRICKLE_FILES_PER_S)
            gen.join()
            q.processAllAvailable()  # let the last trigger commit and report
            q.stop()
            emu1 = bench.emulator.stats()
        kp.attach_progress(span_id(sp))
        lat = delivery_latencies(kp.timed.calls, gen.due)
        layers = kp.layers(_records_in(names, files), emu0, emu1)
        layers["gen.files"] = n_files
        layers["gen.late_p90_s"] = quantile(gen.late, 0.9)
        last = max(c["end"] for c in kp.timed.calls)
        stats = PassStats(last - gen.t0, n_files * TRICKLE_PER_FILE, list(lat.values()),
                          layers, span_id(sp))
        if timed:
            pending.append((kp, files, stats))
        else:
            kp.drain()
        return stats

    _, passes = _run_passes(bench, one_pass)
    return Outcome(passes, *_check_streams(pending))


def _on_trigger_grid(t: float) -> float:
    """The first start time from ``t`` on that puts the generator's
    schedule in the same place against the triggers every pass.

    A processingTime trigger fires at whole multiples of its interval of
    the epoch clock. Starting half a publish gap after one, no file is
    due at a trigger, where whether it makes that batch would be a race,
    and the wait for the next trigger does not depend on the start."""
    gap = 1 / TRICKLE_FILES_PER_S
    return math.ceil((t - gap / 2) / TRICKLE_TRIGGER_S) * TRICKLE_TRIGGER_S + gap / 2


def _await_idle(q, timeout_s: float = 60.0) -> None:
    """Wait until the query has initialised and waits for its next trigger."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"query failed to start: {q.exception()}")
        if q.status["message"] == "Waiting for next trigger":
            return
        time.sleep(0.02)
    raise TimeoutError("streaming query did not become idle")


def _await_delivery(q, sink: TimedSink, names: set[str], last_due: float) -> None:
    """Wait until a sink call has carried every file in ``names``."""
    deadline = last_due + TRICKLE_DRAIN_TIMEOUT_S
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"trickle query failed: {q.exception()}")
        if names <= {f for c in list(sink.calls) for f in c["files"]}:
            return
        time.sleep(0.02)
    raise TimeoutError("trickle files were not delivered in time")


class Generator(threading.Thread):
    """Publishes file ``i`` at ``t0 + i / rate``, never waiting on the
    program, and records how late each publish ran."""

    def __init__(self, directory, names, files, rate, tracer, parent):
        super().__init__(daemon=True)
        self.directory, self.names, self.files, self.rate = directory, names, files, rate
        self.tracer, self.parent = tracer, parent
        self.t0 = 0.0
        self.due: dict[str, float] = {}
        self.late: list[float] = []

    def start(self, t0: float) -> None:
        self.t0 = t0
        self.due = {n: t0 + i / self.rate for i, n in enumerate(self.names)}
        super().start()

    def run(self) -> None:
        with self.tracer.span("gen", parent=self.parent):
            for name, events in zip(self.names, self.files):
                wait = self.due[name] - time.time()
                if wait > 0:
                    time.sleep(wait)
                write_file(self.directory, name, events)
                self.late.append(time.time() - self.due[name])


# ---------------------------------------------------------- registry sweep


def registry_sweep(bench) -> Outcome:
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    tables = bench.work / f"sf-{uuid.uuid4().hex[:12]}"
    shutil.copytree(bench.tables_src, tables)
    bench.tables_dir = tables
    order = list(SWEEP_KEYS)
    random.Random(bench.seed).shuffle(order)
    results: list[dict] = []  # per timed pass: key -> (columns, rows)

    def one_pass(tag: str, timed: bool) -> PassStats:
        per_key, layers, key_spans = {}, {}, {}
        t_start = time.perf_counter()
        with bench.tracer.span("pass", tag=tag) as sp:
            for key in order:
                with bench.tracer.span("registry.key", key=key) as ksp:
                    t0 = time.perf_counter()
                    with bench.tracer.span("registry.build", key=key):
                        df = QUERIES[key](bench.spark, str(tables))
                    t1 = time.perf_counter()
                    with bench.tracer.span("registry.action", key=key):
                        rows = [tuple(r) for r in df.collect()]
                    t2 = time.perf_counter()
                per_key[key] = (df.columns, rows)
                layers[f"registry.{key}.build_s"] = t1 - t0
                layers[f"registry.{key}.action_s"] = t2 - t1
                if ksp is not None:
                    key_spans[key] = ksp["id"]
        wall = time.perf_counter() - t_start
        _attach_key_progress(bench, key_spans, span_id(sp))
        if timed:
            results.append(per_key)
        latencies = [layers[f"registry.{k}.build_s"] + layers[f"registry.{k}.action_s"] for k in order]
        return PassStats(wall, sum(len(rows) for _, rows in per_key.values()), latencies,
                         layers, span_id(sp), key_spans)

    warm, passes = _run_passes(bench, one_pass, SWEEP_MIN_PASSES)
    for p in passes:
        # cold set-up left in the warm-up pass, total and per key
        p.layers["staging.cold_extra_s"] = warm.wall_s - p.wall_s
        for key in order:
            p.layers[f"staging.{key}.cold_extra_s"] = sum(
                warm.layers[f"registry.{key}.{part}_s"] - p.layers[f"registry.{key}.{part}_s"]
                for part in ("build", "action")
            )
    failed = _check_sweep(bench, tables, results)
    return Outcome(passes, len(results) * len(order), failed)


def _attach_key_progress(bench, key_spans: dict[str, int], pass_span) -> None:
    """Hang each trigger's progress under the key whose span holds it."""
    if bench.progress is None:
        return
    bench.flush_listeners()
    spans = [bench.tracer.spans[i] for i in key_spans.values()]
    for ev in bench.progress.take():
        owner = next((s["id"] for s in spans if s["start"] <= ev["start"] <= s["end"]), pass_span)
        bench.tracer.add(
            "streaming.trigger", owner, ev["start"], ev["end"], pass_span=pass_span,
            batch_id=ev["batch_id"], duration_ms=ev["duration_ms"],
        )


def _check_sweep(bench, tables: Path, results: list[dict]) -> int:
    """Keys (over all timed passes) whose rows differ from the DuckDB
    oracle on the same tables, compared the way the replica check does."""
    from tests.oracle import compare, duck_connect, duck_result, oracle_sql_for

    failed = 0
    with bench.tracer.span("oracle.check"):
        con = duck_connect(str(tables))
        try:
            for key in SWEEP_KEYS:
                dcols, drows = duck_result(con, oracle_sql_for(key, str(tables)))
                for per_key in results:
                    cols, rows = per_key[key]
                    problems = compare(cols, rows, dcols, drows)
                    if problems:
                        failed += 1
                        bench.log(f"{key}: {problems[:3]}")
        finally:
            con.close()
    return failed


WORKLOADS = {
    "kinesis_backfill": kinesis_backfill,
    "kinesis_trickle": kinesis_trickle,
    "registry_sweep": registry_sweep,
}
