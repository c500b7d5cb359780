"""Structured Streaming operators (SURVEY.md §2.1-I).

The reference adapter's whole control loop (scheduler → list S3 prefix
→ decode → batch → PutRecords → checkpoint) maps onto Structured
Streaming primitives (SURVEY.md §3.4):

    scheduler      → trigger(availableNow=True) / processingTime
    S3 lister      → file source over a directory + maxFilesPerTrigger
    decoder        → schema'd json source
    batcher+sink   → foreachBatch → KinesisForeachBatchSink
    checkpoint     → checkpointLocation (offset WAL + commit log)

Every key below REALLY runs a streaming query (readStream →
writeStream, availableNow) and then returns the materialized result as
a DataFrame, so the driver's oracle check exercises true incremental
execution. Fresh checkpoints per call keep results deterministic;
checkpoint RESUME semantics are covered in tests/test_streaming.py
(kill/restart, late-data, idempotent redelivery).

Windowed keys run in "complete"/"update" output mode into a memory
sink — fine here because window-state cardinality is bounded; at
100 TB use append mode + watermark expiry and a real sink, with
RocksDB state store and watermark TTL bounding state (SURVEY.md §7.4).
The RocksDB backend is exercised for real (r7): stream_stateful_rocksdb
runs the arbitrary-stateful topology on RocksDBStateStoreProvider and
asserts its metrics; kill/resume durability of the RocksDB files is
pinned in tests/test_streaming.py::test_rocksdb_state_kill_resume.

Arbitrary state uses applyInPandasWithState; the newer Spark 4.x
transformWithStateInPandas API is NOT exposed here because its state
server requires google.protobuf, which this container lacks (verified:
the TWS driver worker crashes on `from google.protobuf import
descriptor`). Swap stream_stateful_count to a StatefulProcessor when
running where protobuf is available.
"""

from __future__ import annotations

import json
from kinesis_adapter_spark.staging import ephemeral_dir, staged
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_adapter_spark.plans.registry import ORACLES, query
from kinesis_adapter_spark.sources import aws
from kinesis_adapter_spark.sources.scans import (
    EVENTS_JSON_SCHEMA,
    derived_dir,
    ensure_events_ndjson,
)
from kinesis_adapter_spark.streaming.kinesis_sink import KinesisForeachBatchSink


def _split_arrivals(sf_dir: str, name: str, table: str, columns: list[str]) -> Path:
    """``table``'s ``columns`` → 3 NDJSON arrival files split by
    ``columns[0] % 3``, one ``json.dumps`` object per row — the ingest
    fixture of the bm25, kmv and pq maintain twins. Staged ONCE per
    source fingerprint as ``derived_dir/<name>`` (r16, guide §1.2): the
    r15 shape re-rendered the table to JSON on the DRIVER on every
    call, so each bench iteration timed a fixture export instead of
    the maintenance under measurement. Same input-format-staging
    contract as ensure_events_ndjson (the arrival files are the
    operator's INPUT; the maintained tiers are still rebuilt from them
    on every invocation)."""
    import pyarrow.parquet as pq

    src = Path(sf_dir) / f"{table}.parquet"

    def build(out: Path) -> None:
        out.mkdir()
        cols = pq.read_table(src, columns=columns).to_pydict()
        rows = list(zip(*(cols[c] for c in columns)))
        for b in range(3):
            (out / f"arrivals_{b}.json").write_text(
                "\n".join(
                    json.dumps(dict(zip(columns, r))) for r in rows if r[0] % 3 == b
                )
            )

    return staged(derived_dir(sf_dir) / name, [src], build)


def _events_stream(spark: SparkSession, sf_dir: str, max_files: int | None = None):
    src_dir = ensure_events_ndjson(sf_dir)
    reader = spark.readStream.schema(EVENTS_JSON_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.json(str(src_dir))


#: how long any availableNow query here may run before it counts as wedged
_AWAIT_S = 180


def _await_done(q, timeout_s: int) -> None:
    """awaitTermination with a timeout returns FALSE on expiry instead
    of raising; every pipeline here reads its sink right after, so a
    silent timeout would mean computing results from a half-written
    artifact tier, and an unbounded wait would hang on a wedged query.
    Stop the query and convert the False into a loud error (r5 review
    finding)."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within "
            f"{timeout_s}s — artifact tier is incomplete; raise the "
            "timeout or reduce the staged batch count"
        )


def _drain(stream: DataFrame, body, ckpt: str) -> None:
    """Run ``body(batch_df, batch_id)`` over every micro-batch of
    ``stream`` (availableNow, checkpointed at ``ckpt``) and wait for
    the last one — the one replayable-source → foreachBatch loop every
    maintain twin and sink key here shares. ``body`` needs no emptiness
    check: a stateless availableNow query runs no batch without new
    input."""
    q = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q, _AWAIT_S)


def _dedup_replays(tier: DataFrame, *keys: str) -> DataFrame:
    """Keep one row per (*keys, batch_id): a micro-batch replayed after
    a crash between sink write and checkpoint commit appends duplicate
    partial rows; the artifact read side must collapse them before
    merging. Shared by every append-only rollup tier (HLL, histogram)
    so the replay discipline cannot fork per tier.

    r16 (guide §2.4 — no sort where a hash aggregate will do): the
    one-row-per-group pick was a row_number window ordered by
    monotonically_increasing_id — an exchange plus a FULL SORT of the
    tier, re-executed by every downstream consumer of the deduped
    frame. Replay duplicates are byte-identical rows (a replayed
    foreachBatch re-runs the same deterministic plan over the same
    committed batch files — also why the window's arbitrary-row pick
    was sound), so collapsing them is plain ``distinct()``: a pure
    HashAggregate over the row, map-side partials, no sort anywhere,
    and no aggregate buffers (a groupBy+any_value variant was measured
    first and REJECTED: string/array payloads put ObjectHashAggregate
    in its >128-distinct-keys sort-based fallback, reading scd2
    8.5 → 13.9 s — distinct's buffer-free grouping has no such cliff).

    ``*keys`` documents the grouping contract (one row per (*keys,
    batch_id)) but is not consulted: distinct() over the WHOLE row is
    equivalent exactly because replayed rows are byte-identical, which
    is the helper's precondition. A tier whose re-executed aggregation
    could serialize an equal value differently (the HLL sketch blob)
    must NOT use this helper — stream_hll_rollup dedups its sketch
    tier by key with a keyed hll_union_agg instead (ADVICE r16)."""
    return tier.distinct()


def _run_to_memory(df, mode: str = "complete", max_files: int | None = None):
    """Run a streaming DF to completion (availableNow) into a memory
    sink; returns (spark_table_name, query_progress_list)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = ephemeral_dir("kas_ckpt_")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q, _AWAIT_S)
    return name, q.recentProgress


@query(
    "stream_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event type, computed by a
    REAL incremental query (file source, watermark, windowed state),
    oracled against the batch date_trunc twin."""
    src = _events_stream(spark, sf_dir, max_files=8)
    agg = (
        src.withWatermark("ts_iso", "1 hour")
        .groupBy(F.window("ts_iso", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    name, _ = _run_to_memory(agg, "complete")
    return spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        F.round("sv", 4).alias("sum_value"),
    )


@query(
    "stream_sliding",
    """
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) - k * (INTERVAL '15 minutes')
               AS win_start,
             event_type, value
      FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n
    FROM expanded
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (each event lands in exactly
    4 windows); oracle expands the 4 bucket offsets explicitly."""
    src = _events_stream(spark, sf_dir, max_files=8)
    agg = (
        src.withWatermark("ts_iso", "1 hour")
        .groupBy(F.window("ts_iso", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name, _ = _run_to_memory(agg, "complete")
    return spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
    )


@query(
    "stream_session_window",
    """
    WITH flagged AS (
      SELECT user_id, epoch_ns(ts) AS t, event_id, value,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, t, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(t) AS session_start, COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS session_value
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows (30 min), oracled against the
    batch sessionize_gap twin — the two formulations MUST agree on
    static data (also asserted head-to-head in tests)."""
    src = _events_stream(spark, sf_dir, max_files=8)
    agg = (
        src.withWatermark("ts_iso", "2 hours")
        .groupBy(F.session_window("ts_iso", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sv"))
    )
    name, _ = _run_to_memory(agg, "complete")
    return spark.table(name).select(
        "user_id",
        (F.unix_micros(F.col("sw.start").cast("timestamp")) * 1000).alias("session_start"),
        "n_events",
        F.round("sv", 4).alias("session_value"),
    )


def _events_ndjson_duped(sf_dir: str) -> Path:
    """events NDJSON with every file staged TWICE (duplicate
    deliveries — the reference's re-read failure mode). Shared by
    stream_dedup and stream_dedup_ttl; staged by the events.parquet
    fingerprint, so a regenerated events.parquet (or a DERIVED_VERSION
    bump) restages instead of serving stale duplicates — the r6 review
    caught the original bare-_STAGED /tmp dir surviving fixture
    rebuilds (the ADVICE-r4 drift class)."""
    import shutil

    base = ensure_events_ndjson(sf_dir)

    def build(out: Path) -> None:
        out.mkdir()
        for f in sorted(base.glob("events-*.json")):
            shutil.copy(f, out / f.name)
            shutil.copy(f, out / f"dup-{f.name}")

    return staged(
        derived_dir(sf_dir) / "events_ndjson_duped",
        [Path(sf_dir) / "events.parquet"],
        build,
    )


@query(
    "stream_dedup",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the staged directory contains
    every file TWICE (duplicate deliveries — the reference's re-read
    failure mode); dropDuplicates on event_id within the watermark
    restores exactly-once counts."""
    src = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(str(_events_ndjson_duped(sf_dir)))
    )
    deduped = src.withWatermark("ts_iso", "1 day").dropDuplicates(["event_id"])
    name, _ = _run_to_memory(deduped, "append")
    return spark.table(name).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "stream_stateful_count",
    """
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming op (applyInPandasWithState):
    per-user running counts carried across micro-batches; the final
    per-user maximum must equal the batch COUNT(*) — which is exactly
    what the oracle checks. maxFilesPerTrigger=5 forces ≥6 batches so
    state genuinely persists across triggers."""
    counted = _running_count_stream(spark, sf_dir)
    name, _ = _run_to_memory(counted, "update")
    # update mode emits one row per (user, batch); the last (= max) is final
    return spark.table(name).groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def _running_count_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared applyInPandasWithState per-user running-count
    topology — one definition for the default-provider key and its
    RocksDB twin, so the two keys differ ONLY in state-store provider
    (the never-fork rule: a semantics drift between them would defeat
    the twin's purpose)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running_count(key, pdfs, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    src = _events_stream(spark, sf_dir, max_files=5)
    return src.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="cnt bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


class rocksdb_state_store:
    """Context manager pinning the session's streaming state store to
    Spark 4's native RocksDBStateStoreProvider, restoring the previous
    provider on exit (the conf is session-wide; leaking it would
    silently flip every later streaming key's state backend)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(_PROVIDER_CONF)
        except Exception:  # noqa: BLE001 — conf unset
            self.prev = None
        self.spark.conf.set(_PROVIDER_CONF, ROCKSDB_PROVIDER)
        return self

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(_PROVIDER_CONF)
        else:
            self.spark.conf.set(_PROVIDER_CONF, self.prev)
        return False


@query(
    "stream_stateful_rocksdb",
    """
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
)
def stream_stateful_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stateful_count's topology on the RocksDB state store —
    the 100 TB state backend run FOR REAL (r6 directive #2), not
    documented-only: at production state cardinalities the default
    HDFS-backed provider keeps every key's state as JVM heap objects
    and GC-stalls, while RocksDB spills to native memory + local SST
    files and checkpoints as versioned snapshots. Same
    applyInPandasWithState topology as the sibling key (shared
    builder), so a parity failure here isolates the state backend,
    never the semantics.

    Self-checking beyond the oracle: after the run it asserts the
    executed query's stateOperators actually report RocksDB custom
    metrics — a silently ignored provider conf (e.g. misspelled class)
    would otherwise pass the oracle on the default backend. Kill/
    resume durability of the RocksDB files is pinned in
    tests/test_streaming.py::test_rocksdb_state_kill_resume."""
    with rocksdb_state_store(spark):
        counted = _running_count_stream(spark, sf_dir)
        name, progress = _run_to_memory(counted, "update")
    used_rocksdb = any(
        "rocksdb" in metric.lower()
        for p in progress
        for op in (p.get("stateOperators") or [])
        for metric in (op.get("customMetrics") or {})
    )
    if not used_rocksdb:
        raise RuntimeError(
            "stream_stateful_rocksdb ran without RocksDB state-store "
            "metrics — the provider conf did not take effect"
        )
    return spark.table(name).groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_stream_join",
    """
    WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events
               WHERE event_type = 'purchase' AND user_id < 150),
         c AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events
               WHERE event_type = 'click' AND user_id < 150)
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND p.t >= c.t AND p.t - c.t <= 3600000000000
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to clicks by the same
    user within the preceding 60 minutes, both sides watermarked (the
    watermark + range bound is what lets Spark expire join state).

    The µs-truncated ns timestamps keep the range arithmetic exact vs
    the oracle (SURVEY.md §5.3.3)."""
    # Shares _purchases_clicks_join with the outer/full forms (r6
    # review: the inner key kept its own copy of the topology, leaving
    # the divergence class the helper exists to close half-open); the
    # flush-sentinel pair joins to itself and drops with the filter.
    return _purchases_clicks_join(spark, sf_dir, "inner").filter(
        (F.col("purchase_id") >= 0) & (F.col("click_id") >= 0)
    )


def _events_ndjson_with_flush(sf_dir: str) -> Path:
    """events NDJSON plus two far-future sentinel rows (negative
    event_id, user_id 0, ts 2031-01-01; one per join side): they PASS
    the join-side filters — deliberately, because Catalyst pushes
    non-event-time filters BELOW the EventTimeWatermark node, so a
    sentinel that a filter drops never advances the watermark (probed:
    a 'flush' event_type left the final hour of unmatched purchases
    stuck in state) — advance both sides' watermarks past every real
    event, and are removed from the OUTPUT by their negative id. With
    state fully drained, the streaming result equals the batch LEFT
    JOIN twin. Production equivalent: per-partition heartbeat records
    draining outer-join/window state on quiet streams."""
    import shutil

    src = ensure_events_ndjson(sf_dir)

    def build(out: Path) -> None:
        out.mkdir()
        for f in sorted(src.glob("events-*.json")):
            shutil.copy(f, out / f.name)
        flush_ns = 1_925_078_400_000_000_000  # 2031-01-01T00:00:00 UTC
        lines = [
            json.dumps(
                {
                    "event_id": eid,
                    "ts_iso": "2031-01-01T00:00:00.000000",
                    "ts_ns": flush_ns,
                    "user_id": 0,
                    "event_type": et,
                    "value": 0.0,
                    "props": "{}",
                }
            )
            for eid, et in ((-1, "purchase"), (-2, "click"))
        ]
        (out / "events-99991231-flush.json").write_text(
            "\n".join(lines) + "\n"
        )

    # the name carries the sentinel-format version: staged keys on the
    # SOURCE fingerprint only, so a sentinel-format change at the same
    # source must change the name to avoid serving the old staged
    # layout (the stale-staging drift class, ADVICE r4)
    return staged(
        derived_dir(sf_dir) / "events_ndjson_flush_s2",
        [Path(sf_dir) / "events.parquet"],
        build,
    )


def _purchases_clicks_join(spark: SparkSession, sf_dir: str, how: str):
    """Shared purchases⋈clicks stream-stream topology (watermarks both
    sides, 60-minute range condition) parameterized by join type —
    band user_id < 150 and the 60-min window chosen so the result is
    non-vacuous at BOTH sf0.01 and sf0.1 (r11: the old <30/10-min band
    hash-matched an EMPTY result at sf0.1) —
    inner/left-outer/full-outer keys all build THE one topology so the
    watermark delay, range bound, and user filter can't diverge
    between them (r6 review finding: two 45-line copies)."""
    src = str(_events_ndjson_with_flush(sf_dir))

    def _side(event_type: str):
        return (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 10)
            .json(src)
            .withWatermark("ts_iso", "1 hour")
            .filter(
                (F.col("event_type") == event_type) & (F.col("user_id") < 150)
            )
        )

    purchases = _side("purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts_iso").alias("p_ts"),
    )
    clicks = _side("click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_iso").alias("c_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 60 MINUTES")),
        how,
    ).select("purchase_id", "click_id")
    name, _ = _run_to_memory(joined, "append")
    return spark.table(name)


@query(
    "stream_stream_join_outer",
    """
    WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events
               WHERE event_type = 'purchase' AND user_id < 150),
         c AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events
               WHERE event_type = 'click' AND user_id < 150)
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND p.t >= c.t AND p.t - c.t <= 3600000000000
    """,
)
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join (VERDICT r5 item #3): purchases
    enriched with clicks by the same user within the preceding 60
    minutes; purchases with NO qualifying click are emitted null-padded
    once the watermark closes their join window — the enrichment shape
    streaming users reach for right after the inner form.

    Differences from ``stream_stream_join`` that make the outer
    semantics exact:
    - the staged stream carries one far-future flush sentinel PER JOIN
      SIDE (negative event_id, dropped from the output post-join);
      they advance both watermarks past every real event and drain ALL
      unmatched state — without them, unmatched purchases inside the
      final watermark delay would stay in state forever and the result
      would depend on fixture time ranges;
    - state for a purchase at time t expires when the click watermark
      passes t (Spark derives the eviction bound from the range
      condition), so at 100 TB state size is bounded by the 60-minute
      window × per-user arrival rate, not by stream length."""
    # Sentinels drop on the BATCH side, after materialization:
    # filtering inside the streaming plan does not work — Catalyst
    # pushes the non-event-time predicate below the left side's
    # EventTimeWatermark node, which deletes the sentinel before it
    # can advance the watermark and re-strands the final hour's
    # unmatched purchases in state (probed; same pushdown that rules
    # out an event_type-based sentinel).
    return _purchases_clicks_join(spark, sf_dir, "leftOuter").filter(
        F.col("purchase_id") >= 0
    )


@query(
    "stream_backfill_availablenow",
    """
    SELECT CAST(CEIL(COUNT(DISTINCT strftime(ts, '%Y%m%d')) / 3.0) AS BIGINT) AS n_batches,
           COUNT(*) AS n_rows
    FROM events
    """,
)
def stream_backfill_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SCHEDULER replacement: bounded catch-up over a
    backlog with pacing (maxFilesPerTrigger=3 → ceil(files/3) micro-
    batches; files are one-per-day, which the oracle counts). This is
    how a 100 TB backfill stays memory-bounded: pacing caps per-batch
    input while availableNow guarantees termination."""
    src = _events_stream(spark, sf_dir, max_files=3)
    name, progress = _run_to_memory(src.select("event_id"), "append")
    n_rows = spark.table(name).count()
    n_batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
    return spark.createDataFrame([(n_batches, n_rows)], "n_batches bigint, n_rows bigint")


@query(
    "stream_watermark_late",
    """
    SELECT '2024-01-01 00:00:00' AS win_start, CAST(1 AS BIGINT) AS n
    UNION ALL
    SELECT '2024-01-01 10:00:00', CAST(1 AS BIGINT)
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics end-to-end: four sequential micro-batch runs
    against ONE checkpoint stage (1) an hour-0 event, (2) an hour-10
    event that advances the watermark past hour 0, (3) a LATE hour-0
    event — which append mode must drop, and (4) a far-future flush.
    The oracle pins the exact expected output: the hour-0 window closes
    with n=1 (late row excluded) and hour-10 with n=1.

    At 100 TB the same contract bounds state: watermark delay is the
    retention knob, and late data lands in a dead-letter path instead
    of silently reopening windows."""
    work = Path(ephemeral_dir("kas_wm_"))
    src, ckpt, out = work / "src", str(work / "ckpt"), str(work / "out")
    src.mkdir()
    schema = "event_id BIGINT, ts_iso TIMESTAMP"

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withWatermark("ts_iso", "10 minutes")
            .groupBy(F.window("ts_iso", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_done(q, _AWAIT_S)

    staged = [
        ("a.json", {"event_id": 1, "ts_iso": "2024-01-01T00:00:01"}),
        ("b.json", {"event_id": 2, "ts_iso": "2024-01-01T10:00:00"}),
        ("c_late.json", {"event_id": 3, "ts_iso": "2024-01-01T00:00:02"}),
        ("d_flush.json", {"event_id": 4, "ts_iso": "2024-01-01T20:00:00"}),
    ]
    for fname, row in staged:
        (src / fname).write_text(json.dumps(row) + "\n")
        run_once()
    return spark.read.parquet(out).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"), "n"
    )


@query(
    "stream_throughput_file",
    """
    SELECT COUNT(*) AS n_rows, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE event_type <> 'error'
    """,
)
def stream_throughput_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-engine throughput path: NDJSON backlog → schema'd
    decode → transform → parquet sink in ONE availableNow batch (no
    pacing, no emulator in the loop) — this times Spark's streaming
    machinery itself and is the bench's streaming metric. The oracle
    checks the pipeline is lossless."""
    src = _events_stream(spark, sf_dir)  # no maxFilesPerTrigger: one batch
    work = ephemeral_dir("kas_tp_")
    out = f"{work}/out"
    q = (
        src.filter(F.col("event_type") != "error")
        .select("event_id", "user_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q, _AWAIT_S)
    return spark.read.parquet(out).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query("stream_rate_source")  # T3: wall-clock-timed source, counts only
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic load source (rate-micro-batch): fixed
    rowsPerBatch for bench/soak runs without input files."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 500)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = ephemeral_dir("kas_ckpt_")
    q = (
        src.select("value")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    # bounded soak: stop after ≥3 batches or 30 s
    import time

    deadline = time.time() + 30
    while time.time() < deadline:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    return (
        spark.table(name)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("value").alias("n_distinct"),
        )
    )


@query(
    "stream_to_kinesis_e2e",
    """
    SELECT event_id, event_type, user_id FROM events WHERE event_type <> 'error'
    """,
)
def stream_to_kinesis_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference pipeline end-to-end (SURVEY.md §2.1-I row 8):
    watch a directory of NDJSON objects ("S3") → schema'd decode →
    transform (drop error events, assign partition key) → foreachBatch
    → chunked PutRecords (≤500, retry/backoff) into moto Kinesis, with
    checkpoint + batch-id idempotency ledger → drain every shard and
    return the delivered payloads.

    The oracle compares the drained records against the source table:
    the whole pipeline must be lossless and exactly-once. Restart
    semantics (same checkpoint, no double delivery) are exercised in
    tests/test_streaming.py."""
    run_id = uuid.uuid4().hex[:10]
    stream = f"kas-e2e-{run_id}"
    aws.create_stream(stream, shards=4)
    ckpt = ephemeral_dir("kas_e2e_ckpt_")
    sink = KinesisForeachBatchSink(
        stream=stream,
        endpoint=aws.endpoint_url(),
        aws_kw=aws.AWS_KW,
        ledger_dir=str(Path(ckpt) / "ledger"),
    )
    src = _events_stream(spark, sf_dir, max_files=6)
    out = src.filter(F.col("event_type") != "error").select(
        "event_id",
        "event_type",
        "user_id",
        (F.col("user_id") % 4).cast("string").alias("pk"),
    )
    _drain(out, sink, ckpt)
    payloads = [json.loads(r["Data"]) for r in aws.read_all_records(stream)]
    # No distinct() here (ADVICE r01): the stream is fresh per run, so a
    # duplicate delivery is a REAL exactly-once violation and must fail
    # loudly rather than be silently collapsed before the oracle check.
    n_unique = len({tuple(sorted(p.items())) for p in payloads})
    if n_unique != len(payloads):
        raise RuntimeError(
            f"duplicate Kinesis delivery: {len(payloads)} records, "
            f"{n_unique} unique — exactly-once contract broken"
        )
    return spark.createDataFrame(
        payloads, "event_id bigint, event_type string, user_id bigint"
    )


@query(
    "stream_foreachbatch_upsert",
    """
    SELECT CAST(1 AS BIGINT) AS k, 'a3' AS v, CAST(3 AS BIGINT) AS seq
    UNION ALL SELECT 2, 'b2', 2
    UNION ALL SELECT 3, 'c',  1
    UNION ALL SELECT 4, 'd3', 3
    UNION ALL SELECT 5, 'e',  3
    ORDER BY k
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: a CDC feed applied to a keyed parquet state via
    ``foreachBatch`` — the standard incremental-pipeline sink when the
    target is a table, not an append log. Each micro-batch runs the
    same anti-join+union merge as the batch ``merge_upsert`` key,
    keeping the max-seq row per key, and writes a NEW state version
    (never overwrite-in-place of a path being read — that loses the
    state on failure mid-write; table formats do this swap
    transactionally). Max-seq conflict resolution makes the final
    state independent of batch arrival order, so the oracle can pin it
    exactly. At 100 TB the per-batch merge cost is |batch| broadcast
    keys against the state partitions the keys land in."""
    from pyspark.sql import Window

    work = Path(ephemeral_dir("kas_upsert_"))
    src = work / "src"
    src.mkdir()
    batches = [
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)],
        [(2, "b2", 2), (4, "d", 2)],
        [(1, "a3", 3), (4, "d3", 3), (5, "e", 3)],
    ]
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps({"k": k, "v": v, "seq": s}) for k, v, s in rows)
        )
    versions: list[str] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        merged = (
            batch_df.unionByName(sess.read.parquet(versions[-1]))
            if versions
            else batch_df
        )
        w = Window.partitionBy("k").orderBy(F.col("seq").desc(), F.col("v"))
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        nxt = str(work / f"state_v{len(versions)}")
        latest.write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    stream = (
        spark.readStream.schema("k bigint, v string, seq bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    _drain(stream, merge, str(work / "ckpt"))
    return spark.read.parquet(versions[-1]).orderBy("k")


def _cdc_apply_oracle() -> str:
    from kinesis_adapter_spark.operators.incremental import CDC_APPLY_SQL

    return CDC_APPLY_SQL


@query("stream_cdc_apply", _cdc_apply_oracle())
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CDC snapshot maintenance — the streaming twin of
    cdc_apply_changelog (same oracle, verbatim): the orders-derived
    I/U/D changelog arrives in micro-batches, DELIBERATELY out of
    sequence order (the tombstone/U2 legs are staged before the
    insert leg), and foreachBatch folds each batch into a keyed state
    table. Last-writer-wins by seq is order-INDEPENDENT, so the final
    state must converge to the one-shot batch fold regardless of how
    the availableNow planner groups the files — convergence to the
    batch key's oracle IS the check (the scd2/pq/bm25-maintain
    discipline).

    State per key: (last_op, status, price, last_seq, n_ops).
    Tombstoned keys are RETAINED in state (a later-seq op must be able
    to supersede a delete — dropping tombstones loses that) and only
    filtered at the read. Each batch re-folds state ∪ batch with the
    batch key's max_by aggregation, carrying n_ops as a summed weight,
    so per-batch cost is |batch| + |state| folded rows — at 100 TB the
    state is key-bucketed and the batch's keys broadcast so only
    affected buckets rewrite (the stream_foreachbatch_upsert cost
    model); stream_foreachbatch_upsert shows plain max-seq upsert on a
    toy feed, this key adds op codes, tombstones, and the audit
    column."""
    from kinesis_adapter_spark.operators.incremental import _changelog

    work = Path(ephemeral_dir("kas_cdc_"))
    src = work / "src"
    log = _changelog(spark, sf_dir)
    # stage arrival files tombstones-first (seq 9, then 3, then 2, then
    # 1): maxFilesPerTrigger groups whatever files it sees, so the run
    # exercises deletes and updates folding in BEFORE their inserts
    for leg in (9, 3, 2, 1):
        log.filter(F.col("seq") == leg).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    versions: list[str] = []

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        b = batch_df.select(
            "o_orderkey", "seq", "op", "o_orderstatus", "o_totalprice"
        ).withColumn("w", F.lit(1).cast("bigint"))
        if versions:
            prev = sess.read.parquet(versions[-1]).select(
                "o_orderkey",
                F.col("last_seq").alias("seq"),
                F.col("last_op").alias("op"),
                "o_orderstatus",
                "o_totalprice",
                F.col("n_ops").alias("w"),
            )
            b = b.unionByName(prev)
        folded = b.groupBy("o_orderkey").agg(
            F.max_by("op", "seq").alias("last_op"),
            F.max_by("o_orderstatus", "seq").alias("o_orderstatus"),
            F.max_by("o_totalprice", "seq").alias("o_totalprice"),
            F.max("seq").alias("last_seq"),
            F.sum("w").alias("n_ops"),
        )
        nxt = str(work / f"state_v{len(versions)}")
        folded.write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    stream = (
        spark.readStream.schema(
            "o_orderkey bigint, seq int, op string, "
            "o_orderstatus string, o_totalprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    _drain(stream, fold, str(work / "ckpt"))
    return (
        spark.read.parquet(versions[-1])
        .filter(F.col("last_op") != "D")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("last_seq").cast("bigint").alias("last_seq"),
            "n_ops",
        )
        .orderBy("o_orderkey")
    )


@query(
    "stream_windowed_topk",
    """
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, n FROM daily
    QUALIFY row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) <= 2
    ORDER BY day, n DESC, event_type
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items pattern: tumbling 1-day windowed counts maintained
    INCREMENTALLY by the stream, top-2 event types per window ranked on
    the streaming state afterward. Rank-over-window isn't expressible
    inside a streaming agg (no ordered state across groups) — the
    split point between "what streams" (the additive counts) and
    "what runs on the result" (the rank) is exactly where a 100 TB
    deployment puts it: counts in the hot path, rank on the
    window-closed output (here: the complete-mode table; in production
    the foreachBatch sink)."""
    src = _events_stream(spark, sf_dir, max_files=8)
    agg = (
        src.withWatermark("ts_iso", "1 day")
        .groupBy(F.window("ts_iso", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name, _ = _run_to_memory(agg, "complete")
    from pyspark.sql import Window

    rank_w = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        spark.table(name)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
        )
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= 2)
        .drop("rn")
        .orderBy("day", F.col("n").desc(), "event_type")
    )


def _minhash_maintain_oracle() -> str:
    from kinesis_adapter_spark.operators.llmops import NGRAM_JACCARD_ORACLE

    return NGRAM_JACCARD_ORACLE


@query("stream_minhash_maintain", _minhash_maintain_oracle())
def stream_minhash_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL signature-table maintenance — the streaming half of
    the minhash dedup story (the batch half materializes the table
    once; this key shows new documents ARRIVING and the artifact
    growing without ever reprocessing old text):

    - the corpus lands in 3 micro-batches (file source, 1 file per
      trigger); foreachBatch computes each NEW doc's shingle set and
      32 min-hashes — a pure per-document function of its own text, so
      the maintenance job never touches previously-indexed documents —
      and APPENDS the rows to the signature parquet;
    - the dedup query then runs against the maintained artifact alone:
      the stop-shingle list is derived from the STORED sets (df over
      the artifact, cap = max(5, min(1% of indexed docs, 64)) — the
      IDENTICAL formula as batch `capped_shingles`, including the
      absolute STOP_SHINGLE_MAX ceiling that keeps the worst bucket's
      pair fan-out constant at any corpus size; without it the
      fractional term grows the cap linearly and candidate pairs grow
      as sum(df^2), the exact superlinearity measured at 30.6x on the
      batch path before r4 commit 328a1bc), band keys derive from the
      stored min-hashes, and candidates get the exact capped-Jaccard
      verify.

    Signatures are stored uncapped (per-doc, append-safe); capping is
    applied at query time from the artifact, which is what makes the
    maintenance incremental — a shingle crossing the stop threshold
    changes no stored row, only the derived stop-list. Banding on
    uncapped signatures costs some false candidates (boilerplate
    buckets); the exact verify removes them, so the final pair list
    still equals the batch truth and shares the brute-force Jaccard
    SQL oracle. At 100 TB the stop-list derivation is a count over the
    signature table (shingle-df table maintained as its own rollup),
    never a text re-scan."""
    from kinesis_adapter_spark.operators.llmops import (
        N_BANDS,
        N_HASHES,
        shingled,
        stop_shingle_cap,
    )

    import pyarrow.parquet as pq

    work = Path(ephemeral_dir("kas_mhstream_"))
    src = work / "src"
    src.mkdir()
    sig_path = str(work / "signatures")

    # Stage the near-dup fixture (docs + every-7th mutated re-tag) as 3
    # NDJSON arrival batches split by doc_id % 3 — same corpus as the
    # batch keys, so the oracle is shared verbatim.
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    rows = list(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    fixture = [(d, t) for d, t in rows]
    fixture += [
        (d + 2_000_000, " ".join(t.split(" ")[:-2])) for d, t in rows if d % 7 == 0
    ]
    for b in range(3):
        (src / f"arrivals_{b}.json").write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": t})
                for d, t in fixture
                if d % 3 == b
            )
        )

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        # per-doc signature rows: (doc_id, sh, h0..h31) — no cross-doc
        # dependency, so the append is replay-safe per batch_id
        (
            shingled(batch_df, exploded=True)
            .groupBy("doc_id")
            .agg(
                F.collect_set("s").alias("sh"),
                *[
                    F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"h{i}")
                    for i in range(N_HASHES)
                ],
            )
            .write.mode("append")
            .parquet(sig_path)
        )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    _drain(stream, index_batch, str(work / "ckpt"))

    # ---- dedup query over the maintained artifact only ----
    sig = spark.read.parquet(sig_path)
    n = sig.select(F.count(F.lit(1)).alias("n_docs"))
    # Shared helper = shared formula: the streaming twin can never fork
    # from the batch path's bounded cap again (r4 verdict finding #1).
    cap = stop_shingle_cap(F.col("n_docs"))
    stop = (
        sig.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") > cap)
        .select("s")
    )
    capped = (
        sig.select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(stop), "s", "left_anti")
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("sh"))
    )
    rows_per_band = N_HASHES // N_BANDS
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(N_BANDS)
    ]
    banded = (
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "sig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = capped.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    c = F.size(F.array_intersect("sa", "sb"))
    jac = c / (F.size("sa") + F.size("sb") - c)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _stream_hll_rollup_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, est_users, n_sketches) with an ``__all__`` row —
    the raw sketch-tier estimates; shared by the registered
    bound-checked key and the pytest gate (which asserts the raw
    estimates and the multi-batch merge property)."""
    sink = ephemeral_dir("kas_hllroll_") + "/sketches"

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    _drain(
        _events_stream(spark, sf_dir, max_files=4),
        sketch_batch,
        ephemeral_dir("kas_hllroll_ckpt_"),
    )

    # Replay collapse BY KEY, not by row identity (ADVICE r16 medium):
    # the other tiers' rows are deterministic integers, so byte-equal
    # replays collapse under _dedup_replays' distinct(); the HLL blob
    # from a RE-EXECUTED hll_sketch_agg is not guaranteed byte-stable
    # (DataSketches coupon layout depends on merge order, and the
    # reduce-side merge follows randomized shuffle fetch), so a replay
    # could leave two rows per (event_type, batch_id) and inflate
    # n_sketches. A keyed hll_union_agg collapses replays regardless
    # of blob bytes — still sort-free, and union idempotence keeps the
    # estimate identical (union of one-or-two equal-value sketches).
    tier = (
        spark.read.parquet(sink)
        .groupBy("event_type", "batch_id")
        .agg(F.hll_union_agg("sk").alias("sk"))
    )
    per = tier.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.count(F.lit(1)).alias("n_sketches"),
    )
    glob = tier.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.count(F.lit(1)).alias("n_sketches"),
    ).select(F.lit("__all__").alias("event_type"), "est_users", "n_sketches")
    return per.unionByName(glob).orderBy("event_type")


@query(
    "stream_hll_rollup",
    """
    SELECT event_type,
           CAST(exact AS BIGINT) AS exact_users,
           CAST(0.05 AS DOUBLE) AS rel_err_bound,
           TRUE AS within_bound
    FROM (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__all__', COUNT(DISTINCT user_id) FROM events
    )
    ORDER BY event_type
    """,
)
def stream_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL distinct-count maintenance — the streaming twin of
    agg_hll_mergeable. Each arriving micro-batch (file source, 4 files
    per trigger) is collapsed to one HLL sketch row per event_type and
    APPENDED to a sketch-tier parquet; the read-side query unions the
    stored sketches per type (and globally) and estimates. No raw
    event is ever reprocessed, and a user appearing in many batches or
    types is still counted once — the merge property count_distinct
    lacks. At 100 TB this tier is a few KB per (type, batch): distinct
    counts over any window of batches become a metadata-sized union
    instead of a shuffle of user ids. Per-batch sketch rows carry
    batch_id, so a replayed micro-batch (restart between write and
    commit) can be deduplicated by (type, batch_id) at read — the
    shared `_dedup_replays` discipline, applied before the union.

    ORACLED VIA THE ERROR BOUND as of r15 (the agg_hll_mergeable
    pattern — this was the last convertible rows-only key): the
    declared surface emits the exact distinct counts (batch-computed
    from the same events the stream consumed), the declared ±5%
    bound, and ``within_bound`` computed HERE from the live
    sketch-tier estimates; the oracle replays the exacts and claims
    TRUE. A rollup that double-counted a user active in several
    batches/types would push the union estimate out of bound and
    hash-mismatch loudly. Raw estimates and the multi-batch merge
    property stay pytest-gated via _stream_hll_rollup_frame."""
    from kinesis_adapter_spark.catalog import load

    est = _stream_hll_rollup_frame(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    exact = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
        .unionByName(
            ev.agg(
                F.count_distinct("user_id").alias("exact_users")
            ).select(F.lit("__all__").alias("event_type"), "exact_users")
        )
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            F.lit(0.05).alias("rel_err_bound"),
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_static_enrich",
    """
    WITH seg AS (
      SELECT * FROM (VALUES
        (0,'s0'),(1,'s1'),(2,'s2'),(3,'s3'),(4,'s4'),
        (5,'s5'),(6,'s6'),(7,'s7'),(8,'s8'),(9,'s9')
      ) AS t(seg_id, segment)
    )
    SELECT s.segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN seg s ON e.user_id % 10 = s.seg_id
    GROUP BY s.segment
    ORDER BY s.segment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join: the unbounded event stream is
    enriched against a BOUNDED static dimension (user segment map) —
    the most common production streaming join, and the cheap one: the
    static side broadcasts once per micro-batch, needs NO watermark and
    NO join state (unlike stream-stream), so state size stays zero
    regardless of stream length. At 100 TB/day the dim is a slowly-
    changing table re-broadcast per batch — swap the createDataFrame
    for a Delta/parquet read and the plan is unchanged.

    The aggregate runs in update mode; the final per-segment totals
    must equal the batch join — which is what the oracle checks."""
    segments = spark.createDataFrame(
        [(i, f"s{i}") for i in range(10)], "seg_id BIGINT, segment STRING"
    )
    src = _events_stream(spark, sf_dir, max_files=8)
    enriched = src.withColumn("seg_id", F.col("user_id") % 10).join(
        F.broadcast(segments), "seg_id"
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value_raw"),
    )
    name, _ = _run_to_memory(agg, "complete")
    return (
        spark.table(name)
        .select(
            "segment",
            "n_events",
            F.round("sum_value_raw", 2).alias("sum_value"),
        )
        .orderBy("segment")
    )


@query(
    "stream_curation_filter",
    """
    WITH duped AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars
      FROM documents WHERE doc_id % 5 = 0
    ),
    scored AS (
      SELECT lang, n_chars, md5(text) AS fp,
             len(str_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
               / len(str_split(text, ' ')) AS uniq_ratio
      FROM duped
    ),
    quality AS (
      SELECT * FROM scored WHERE n_tokens >= 25 AND uniq_ratio >= 0.4
    ),
    dedup AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang, fp ORDER BY fp) AS rn
      FROM quality
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM dedup WHERE rn = 1
    GROUP BY lang ORDER BY lang
    """,
)
def stream_curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: documents arrive as NDJSON batches
    (the 100 TB ingest reality — a crawler drops files continuously),
    and the stream applies the quality gate (token count + uniqueness
    ratio, same thresholds as the batch pipeline_text_curation) and
    exactly-once content dedup (dropDuplicates on (lang, md5 digest) —
    16-byte state per distinct doc per language, the streaming twin of
    the batch md5-window dedup) BEFORE anything lands. Per-language
    audit counts are computed over the deduped sink and must equal the
    batch oracle: within a language, duplicate copies differ only in
    doc_id, so the (lang, n_chars) audit is arrival-order-invariant
    even though which COPY survives is not — the per-language scope is
    exactly what makes that invariance hold when the SAME text appears
    under two languages (real at sf0.1, found by the r10 sweep). In
    production the digest state gets a watermark TTL
    (dedup-within-horizon) to bound state; here the corpus is finite."""
    import pyarrow.parquet as pq

    work = Path(ephemeral_dir("kas_curstream_"))
    src = work / "src"
    src.mkdir()
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang", "n_chars"]
    )
    rows = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("text").to_pylist(),
            tbl.column("lang").to_pylist(),
            tbl.column("n_chars").to_pylist(),
        )
    )
    fixture = rows + [
        (d + 1_000_000, t, lg, nc) for d, t, lg, nc in rows if d % 5 == 0
    ]
    for b in range(3):
        (src / f"arrivals_{b}.json").write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": d, "text": t, "lang": lg, "n_chars": int(nc)}
                )
                for d, t, lg, nc in fixture
                if d % 3 == b
            )
        )

    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    toks = F.split("text", " ")
    scored = (
        stream.withColumn("n_tokens", F.size(toks))
        .withColumn(
            "uniq_ratio",
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
        )
        .withColumn("fp", F.md5("text"))
    )
    # dedup scope is PER LANGUAGE (lang, digest), not digest alone:
    # the r10 sf0.1 sweep found identical texts under two langs, where
    # a digest-only dropDuplicates keeps an arrival-order-dependent
    # survivor and the per-lang audit flips ±1 between engines.
    # Within-language copies share every audited column, so this scope
    # is what makes the audit arrival-order-invariant — and it is the
    # practical crawler-dedup scope anyway (cross-language identical
    # text, e.g. code blocks, is deliberately kept once per language).
    curated = scored.filter(
        (F.col("n_tokens") >= 25) & (F.col("uniq_ratio") >= 0.4)
    ).dropDuplicates(["lang", "fp"])
    name, _ = _run_to_memory(curated.select("lang", "n_chars"), "append")
    return (
        spark.table(name)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


def _hist_partials(batch_df: DataFrame, batch_id: int) -> DataFrame:
    """One micro-batch → per-(event_type, bin) partial counts tagged
    with the batch id. The single source of truth for the histogram
    tier's write side — stream_histogram_rollup's foreachBatch and the
    kill/resume integration test both call this, so the binning can't
    fork between pipeline and test."""
    return (
        batch_df.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("value") / 25).cast("long").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("batch_id", F.lit(batch_id))
    )


@query(
    "stream_histogram_rollup",
    """
    WITH binned AS (
      SELECT event_type,
             CAST(FLOOR(value / 25) AS BIGINT) AS bin
      FROM events
      WHERE value IS NOT NULL
    ),
    hist AS (
      SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n
      FROM binned GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS c,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM hist
    )
    SELECT event_type,
           CAST(total AS BIGINT) AS n_events,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_bins,
           CAST(MIN(CASE WHEN c * 2 >= total THEN bin END)
                  OVER (PARTITION BY event_type) AS BIGINT) AS p50_bin
    FROM cum
    QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY bin) = 1
    ORDER BY event_type
    """,
)
def stream_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL histogram maintenance — the exact-oracle sibling of
    stream_hll_rollup's sketch tier. Each arriving micro-batch is
    collapsed to per-(event_type, bin) partial counts (fixed-width
    value bins) and APPENDED to a histogram-tier parquet; the read
    side sums partials per key and derives the median bin from the
    cumulative histogram. Counts are exactly mergeable (integer
    addition), so unlike the HLL tier this rollup carries a full
    value-hash oracle: the streamed result must equal the batch
    histogram of the raw log, bin for bin.

    At 100 TB the tier is O(types × bins) per batch — metadata-sized —
    and any percentile over any window of batches is a sum over stored
    partials, never a re-scan; replayed micro-batches dedup by
    (type, bin, batch_id) exactly like the HLL tier. The same pattern
    maintains any distributive/algebraic aggregate (count/sum/min/max/
    mean); quantiles get bin-resolution accuracy, the standard
    trade.

    NULL values are excluded from the histogram on BOTH engines (a
    NULL has no bin; more to the point, Spark windows order NULLS
    FIRST and DuckDB NULLS LAST, so a NULL bin row would shift the
    cumulative count and flip p50_bin between engines — r5 review
    finding; the fixture's declared quality budget allows a small
    null fraction in value, so this is a live path, not dead code)."""
    from pyspark.sql import Window

    sink = ephemeral_dir("kas_histroll_") + "/hist"

    def hist_batch(batch_df: DataFrame, batch_id: int) -> None:
        _hist_partials(batch_df, batch_id).write.mode("append").parquet(sink)

    _drain(
        _events_stream(spark, sf_dir, max_files=4),
        hist_batch,
        ephemeral_dir("kas_histroll_ckpt_"),
    )

    tier = _dedup_replays(spark.read.parquet(sink), "event_type", "bin")
    hist = tier.groupBy("event_type", "bin").agg(F.sum("n").alias("n"))
    wtype = Window.partitionBy("event_type")
    wcum = wtype.orderBy("bin")
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("n").over(wcum).alias("c"),
        F.sum("n").over(wtype).alias("total"),
        F.count(F.lit(1)).over(wtype).alias("n_bins"),
    )
    p50 = F.min(
        F.when(F.col("c") * 2 >= F.col("total"), F.col("bin"))
    ).over(wtype)
    return (
        cum.withColumn("p50_bin", p50.cast("long"))
        .withColumn("rn", F.row_number().over(wcum))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("total").cast("bigint").alias("n_events"),
            F.col("n_bins").cast("bigint").alias("n_bins"),
            "p50_bin",
        )
        .orderBy("event_type")
    )


def _phash_maintain_oracle() -> str:
    from kinesis_adapter_spark.operators.multimodal import PHASH_PAIRS_ORACLE

    return PHASH_PAIRS_ORACLE


@query("stream_phash_maintain", _phash_maintain_oracle())
def stream_phash_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL perceptual-hash index maintenance — the multimodal
    sibling of stream_minhash_maintain: image blobs ARRIVE in parquet
    micro-batches (binary column through the streaming file source);
    foreachBatch computes each NEW image's 64-bit block-mean pHash —
    a pure per-image function of its own bytes, so old images are
    never re-decoded — and APPENDS (media_id, phash) rows to the index
    parquet. The dedup query then runs on the maintained artifact
    alone: an equi-self-join on the hash, identical to the batch
    dedup_image_phash, and shares its ground-truth oracle verbatim.

    At 100 TB this is how an image-dedup index actually runs: decode
    cost is paid once per blob at ingest, the index is ~25 bytes/image
    (vs ~25 KB of pixels), candidate lookups never touch payload
    bytes, and a replayed micro-batch appends duplicate (id, hash)
    rows that the query-side distinct collapses — append-only
    replay-safety without coordination."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from kinesis_adapter_spark.operators.multimodal import (
        ensure_media_parquet,
    )

    work = Path(ephemeral_dir("kas_phstream_"))
    src = work / "src"
    src.mkdir()
    idx_path = str(work / "phash_index")

    tbl = papq.read_table(
        str(ensure_media_parquet(sf_dir)),
        columns=["media_id", "media_type", "payload"],
    )
    imgs = [
        (mid, payload)
        for mid, mt, payload in zip(
            tbl.column("media_id").to_pylist(),
            tbl.column("media_type").to_pylist(),
            tbl.column("payload").to_pylist(),
        )
        if mt == "image"
    ]
    for b in range(3):
        part = [(m, p) for m, p in imgs if m % 3 == b]
        papq.write_table(
            pa.table(
                {
                    "media_id": [m for m, _ in part],
                    "payload": [p for _, p in part],
                },
                schema=pa.schema(
                    [("media_id", pa.int64()), ("payload", pa.binary())]
                ),
            ),
            src / f"arrivals_{b}.parquet",
        )

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        from kinesis_adapter_spark.operators.multimodal import phash_frame

        phash_frame(batch_df).drop("n_bytes").write.mode("append").parquet(
            idx_path
        )

    stream = (
        spark.readStream.schema("media_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    _drain(stream, index_batch, str(work / "ckpt"))

    from kinesis_adapter_spark.operators.multimodal import phash_pairs

    idx = spark.read.parquet(idx_path).distinct()  # replay-safe collapse
    return phash_pairs(idx)


@query(
    "stream_stream_join_full",
    """
    WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events
               WHERE event_type = 'purchase' AND user_id < 150),
         c AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events
               WHERE event_type = 'click' AND user_id < 150)
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM p FULL JOIN c
      ON p.user_id = c.user_id
     AND p.t >= c.t AND p.t - c.t <= 3600000000000
    """,
)
def stream_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — completes the join-type matrix
    over streams (inner: stream_stream_join; left: _outer): unmatched
    rows from BOTH sides emit null-padded on watermark close, the
    audit shape ("every purchase AND every click accounted for") that
    reconciliation pipelines need. Same per-side flush sentinels as
    the left-outer form — they match each other (same user/instant)
    and the single sentinel pair row is dropped post-materialization
    by its negative ids; state expiry is symmetric, bounded by the
    60-minute range condition on both sides."""
    # batch-side sentinel drop (in-plan filtering would push below the
    # watermark node — see stream_stream_join_outer)
    return _purchases_clicks_join(spark, sf_dir, "fullOuter").filter(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
    )


@query(
    "stream_dedup_ttl",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) expires each key's
    dedup state once the watermark passes its event time — the form
    that survives 100 TB streams, where plain dropDuplicates grows
    state forever (one entry per key ever seen; stream_dedup shows
    that semantics). Correct whenever duplicate deliveries land within
    the watermark delay of the original — true for re-read/retry dups,
    which arrive seconds-to-minutes apart; the staged dir carries
    every file twice and the restored counts must equal the batch
    truth. Re-deliveries older than the watermark are dropped outright
    (already delivered — late dup, not data loss)."""
    src = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(str(_events_ndjson_duped(sf_dir)))
    )
    deduped = src.withWatermark("ts_iso", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name, _ = _run_to_memory(deduped, "append")
    return spark.table(name).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "stream_update_mode",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE user_id < 40 AND value IS NOT NULL
    GROUP BY user_id
    """,
)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third emission semantics next to the
    append and complete keys: each micro-batch emits only the groups
    whose aggregate CHANGED, so the sink receives a stream of upserts
    (multiple versions per key across batches). The read side keeps
    each key's LAST emitted version — exactly what a KV/upsert sink
    does — and must equal the batch aggregate. Update mode is the
    production choice when the aggregate keyspace is too large for
    complete mode re-emission but results must be queryable mid-stream.

    The memory sink appends update rows in batch order; versions are
    collapsed by LAST-EMITTED version per key, identified by max
    row count: a key only re-emits when new rows arrived for it, so
    ``n_events`` strictly increases across its emitted versions and
    ``max_by(sv, n_events)`` picks the final sum regardless of value
    sign (collapsing with max(sv) would silently assume non-negative
    values — r6 advisory) — the same last-writer-wins rule the
    foreachBatch upsert key implements with explicit batch ids."""
    src = _events_stream(spark, sf_dir, max_files=8)
    agg = (
        src.filter((F.col("user_id") < 40) & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sv"))
    )
    name, _ = _run_to_memory(agg, "update")
    latest = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(sv, n_events)").alias("sv"),
        )
    )
    return latest.select(
        "user_id", "n_events", F.round("sv", 4).alias("sum_value")
    )


def _scd2_maintain_oracle() -> str:
    from kinesis_adapter_spark.operators.incremental import SCD2_SQL

    return SCD2_SQL


@query("stream_scd2_maintain", _scd2_maintain_oracle())
def stream_scd2_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SCD2 dimension maintenance — the streaming twin of
    scd2_intervals (same oracle, verbatim): attribute observations
    arrive in micro-batches and the collapsed validity-interval
    history is maintained per batch instead of rebuilt from scratch.

    The two-tier shape every lakehouse SCD2 job uses, because collapsed
    history alone is NOT closable under late data (a late row between
    two retained changes can resurrect a change that was suppressed —
    so rebuilding from stored intervals is wrong by construction):

    - tier A (bronze): the raw attribute log, appended per batch with
      batch_id; replays collapse via the shared ``_dedup_replays`` rule
      on event_id.
    - tier B (silver): per batch, ONLY the users present in the batch
      are re-collapsed from tier A (the shared ``collapse_scd2`` — the
      batch key's exact code) and swapped in; every other user's
      history rows are carried over untouched. At 100 TB tier A is
      user-bucketed so the affected-key read is partition-pruned, and
      the swap rewrites only affected files — maintenance cost scales
      with |batch| + |affected history|, never the dimension.

    Convergence to the batch truth is the oracle check itself: after
    the availableNow run over all staged arrivals, tier B must
    hash-equal the one-shot batch collapse; the late-data case the
    two-tier design exists for (a suppressed change resurrected by a
    late arrival) is staged explicitly in
    tests/test_streaming.py::test_scd2_maintain_resurrects_suppressed_change."""
    # r17 (VERDICT r16 item #3, guide §2.4 fewer jobs): the fixture
    # stages one NDJSON file per day (30 at sf0.1), so 4 files per
    # trigger ran EIGHT micro-batches — each paying the availableNow
    # machinery (offset WAL + commit log) plus three jobs (affected-set
    # collect, bronze append, silver rebuild). 10 files per trigger
    # keeps the multi-batch incremental demonstration (3 batches, the
    # arrival-fixture twins' count) while cutting the per-batch
    # machinery floor ~2.5x; convergence to the batch truth is
    # batch-count-independent (the oracle re-proves it at both sfs),
    # and the late-data/resurrect semantics are pinned by the pytest
    # gates, which stage their own arrival files and pacing.
    return _scd2_maintain_run(spark, str(ensure_events_ndjson(sf_dir)), 10)


def _scd2_maintain_run(
    spark: SparkSession, src_dir: str, max_files: int
) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from kinesis_adapter_spark.operators.incremental import collapse_scd2

    work = Path(ephemeral_dir("kas_scd2_"))
    raw_dir = str(work / "raw")
    versions: list[str] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # r16 (guide §1.2 "don't compute things twice"): the batch
        # projection is consumed by TWO actions (affected-user
        # derivation, bronze append) — unpersisted, each re-parsed the
        # micro-batch's JSON files. Persist for the batch, release
        # before returning.
        b = (
            batch_df.filter(F.col("user_id") < 50)
            .select(
                "user_id",
                "event_type",
                (F.col("ts_ns") - F.col("ts_ns") % 1000).alias("ts_ns"),
                "event_id",
            )
            .withColumn("batch_id", F.lit(batch_id))
            .persist()
        )
        try:
            # r16 round-close (guide §6 pushdown / §2.4 fewer jobs):
            # the affected-user set is BOUNDED (user_id < 50 ⇒ ≤50
            # values), so collect it once — one job that also skips a
            # batch with no affected user — and
            # filter both tier reads with a literal IN list instead of
            # two broadcast joins: the In predicate pushes into the
            # parquet scans (row-group pruning on the user-bucketed
            # tier at 100 TB), and the affected filter sits BELOW the
            # _dedup_replays replay collapse (equivalent: every row of
            # an event_id carries the same user_id, so whole duplicate
            # groups survive or go), so the per-batch collapse hashes
            # only affected users' rows, never the whole bronze tier.
            uvals = [r[0] for r in b.select("user_id").distinct().collect()]
            if not uvals:
                return

            # r17 (VERDICT r16 item #3, guide §2.6 overlap independent
            # jobs): the silver rebuild no longer re-reads the bronze
            # tier AFTER this batch's append — its input is
            # prior-bronze ∪ the cached batch projection, an identical
            # multiset up to the replay collapse (a replayed batch's
            # rows are already IN prior-bronze and _dedup_replays
            # collapses them, exactly as it collapsed the re-appended
            # rows before). That makes the bronze append and the
            # silver version write independent jobs, submitted from
            # two driver threads so the batch's wall time is
            # max(append, rebuild) instead of their sum; both read the
            # already-materialized batch cache, so there is no cache
            # race.
            prior = (
                sess.read.parquet(raw_dir).filter(
                    F.col("user_id").isin(uvals)
                )
                if Path(raw_dir).exists()
                else None
            )

            def _append_bronze() -> None:
                b.write.mode("append").parquet(raw_dir)

            def _rebuild_silver() -> None:
                hist_in = b if prior is None else b.unionByName(prior)
                raw = _dedup_replays(hist_in, "event_id")
                affected = collapse_scd2(
                    raw.select("user_id", "event_type", "ts_ns", "event_id")
                )
                if versions:
                    # user_id is non-null in every version tier row
                    # (built from the < 50 filter), so NOT IN ≡ the
                    # old left_anti.
                    kept = sess.read.parquet(versions[-1]).filter(
                        ~F.col("user_id").isin(uvals)
                    )
                    nxt_hist = affected.unionByName(kept)
                else:
                    nxt_hist = affected
                nxt = str(work / f"hist_v{len(versions)}")
                nxt_hist.write.mode("overwrite").parquet(nxt)
                versions.append(nxt)

            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(_append_bronze),
                    pool.submit(_rebuild_silver),
                ]
                for f in futs:
                    f.result()
        finally:
            b.unpersist()

    # r16 round-close (guide §2.3 "project before the boundary"): the
    # maintained dimension needs 4 of the 7 arrival fields — selecting
    # them ON THE STREAM lets the JSON reader skip parsing ts_iso
    # (timestamp parse), value and props for every arrival row. The
    # per-batch dataflow is unchanged.
    stream = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .json(src_dir)
        .select("user_id", "event_type", "ts_ns", "event_id")
    )
    _drain(stream, merge, str(work / "ckpt"))
    return spark.read.parquet(versions[-1]).orderBy("user_id", "valid_from")


@query("stream_pq_maintain", "__SHARED_WITH_EMB_PQ_ENCODE__")
def stream_pq_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL PQ index maintenance — the ingest half of the
    vector-index story (pq_codebooks_table trains the quantizer
    offline; this key shows vectors ARRIVING and the code table
    growing): the corpus lands in 3 NDJSON micro-batches (staged
    once per embeddings fingerprint), and foreachBatch PQ-encodes
    ONLY its own batch's vectors against the FROZEN published
    codebooks (the shared _pq_encode_frame — a pure per-vector
    function, so maintenance never re-reads indexed vectors) and
    appends (vec_id, codes, batch_id) to the code parquet. That
    frozen-codebook append is exactly how FAISS/vector DBs ingest:
    retraining the quantizer is an offline rebuild, never part of the
    write path.

    The query then reads the maintained artifact alone (replays
    collapsed by the shared _dedup_replays rule) and must hash-equal
    the one-shot batch encoding — the oracle IS emb_pq_encode's,
    replayed against the same published codebook artifact. At 100 TB
    the per-batch cost is |batch| encode work + one append; compaction
    of the code table is the cluster_zorder/compact_small_files story,
    orthogonal to correctness."""
    from kinesis_adapter_spark.operators.embeddings_ops import (
        _pq_books,
        _pq_encode_frame,
    )

    books = _pq_books(spark, sf_dir)  # frozen quantizer (trains offline once)
    work = Path(ephemeral_dir("kas_pqstream_"))
    codes_path = str(work / "codes")
    src = _split_arrivals(sf_dir, "pq_arrivals", "embeddings", ["vec_id", "embedding"])

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        _pq_encode_frame(batch_df, books).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(codes_path)

    _drain(
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        encode_batch,
        str(work / "ckpt"),
    )

    return (
        _dedup_replays(spark.read.parquet(codes_path), "vec_id")
        .select("vec_id", "c0", "c1", "c2", "c3")
        .orderBy("vec_id")
    )


@query("stream_bm25_maintain", "__SHARED_WITH_TEXT_BM25_TOPK__")
def stream_bm25_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL inverted-index maintenance — the ingest half of the
    BM25 search story (text_bm25_topk scores in one batch pass; this
    key shows documents ARRIVING and the index growing): the corpus
    lands in 3 NDJSON micro-batches, and foreachBatch tokenizes ONLY
    its own batch's documents and appends one tier, the full postings
    ``(doc_id, w, tf, batch_id)`` (the inverted index itself;
    per-doc-distinct-word sized, what Lucene segments are). Indexed
    documents are never re-read.

    The query then scores ENTIRELY from the maintained tier: each
    doc's length ``dl`` is SUM(tf) over its postings (every token is
    counted by exactly one (doc, w) tf — the exact integer token sum
    of the batch contract), N and avgdl roll up those lengths, df/tf
    for the query terms come from the postings, the partial-score
    expression is shared verbatim with the batch scorer
    (bm25_part_expr — never-fork), top-20 TakeOrderedAndProject. It
    must hash-equal the one-shot batch ranking, so the oracle IS
    text_bm25_topk's. At 100 TB the per-batch cost is |batch|
    tokenization + one append; corpus stats are rollups over the
    maintained tier, never a text re-scan — the same
    artifact-maintenance discipline as stream_minhash_maintain."""
    from kinesis_adapter_spark.operators.llmops import (
        BM25_TERMS,
        bm25_part_expr,
    )

    work = Path(ephemeral_dir("kas_bm25stream_"))
    post_path = str(work / "postings")
    src = _split_arrivals(sf_dir, "bm25_arrivals", "documents", ["doc_id", "text"])

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                "doc_id",
                F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"),
            )
            .filter(F.col("w").rlike("^[a-z]+$"))
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(post_path)
        )

    _drain(
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        index_batch,
        str(work / "ckpt"),
    )

    post = _dedup_replays(spark.read.parquet(post_path), "doc_id", "w")
    dl = (
        post.groupBy("doc_id", "batch_id")
        .agg(F.sum("tf").alias("dl"))
        .drop("batch_id")
    )
    st = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = list(BM25_TERMS)
    tf = post.filter(F.col("w").isin(terms)).select(
        "doc_id", "w", F.col("tf").cast("double").alias("tf")
    )
    idf = (
        tf.groupBy("w")
        .agg(F.count_distinct("doc_id").cast("double").alias("df"))
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "w")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(F.round(F.sum(bm25_part_expr()), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "score")
    )


# stream_pq_maintain converges to the batch encoding, so its oracle IS
# emb_pq_encode's, shared VERBATIM (the never-fork rule): importing the
# module registers the batch key first.
from kinesis_adapter_spark.operators import embeddings_ops as _eops  # noqa: E402,F401

ORACLES["stream_pq_maintain"] = ORACLES["emb_pq_encode"]

ORACLES["stream_bm25_maintain"] = ORACLES["text_bm25_topk"]


@query("stream_kmv_maintain", "__SHARED_WITH_AGG_KMV_DISTINCT__")
def stream_kmv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL KMV sketch maintenance — the merge law (bottom-k of
    a union = bottom-k of the per-part bottom-ks, pinned for the batch
    key in pytest) exercised as the ingest path it exists for. Events
    arrive in 3 micro-batches; each runs one exchange (by event_type,
    serving its distinct and its bottom-k window) and one write that
    appends two tiers of one directory: ``tier=k``, the batch's LOCAL
    per-type bottom-k candidates (at most k rows per (type, batch) —
    bounded, the sketch property), and ``tier=d``, the exact distinct
    (type, user) rows — the thing the sketch replaces at 100 TB, kept
    to show the two agree below k and diverge within the error band
    above it, with no persist. The merge is aggregates only
    and yields the same (exact, estimate) pair as the one-shot batch
    sketch; the oracle IS agg_kmv_distinct's."""
    from pyspark.sql import Window

    from kinesis_adapter_spark.operators.aggregates import KMV_K, kmv_u_expr

    work = Path(ephemeral_dir("kas_kmvstream_"))
    tiers = str(work / "tiers")
    w = Window.partitionBy("event_type").orderBy("u", "user_id")
    # every distinct row goes to tier=d, the batch's bottom-k also to tier=k
    tiers_of_row = F.when(
        F.col("rn") <= KMV_K, F.array(F.lit("d"), F.lit("k"))
    ).otherwise(F.array(F.lit("d")))

    def write_tiers(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.repartition("event_type")
            .select("event_type", "user_id")
            .distinct()
            .withColumn("u", kmv_u_expr())
            .withColumn("rn", F.row_number().over(w))
            .select(
                "event_type",
                "user_id",
                "u",
                F.lit(batch_id).alias("batch_id"),
                F.explode(tiers_of_row).alias("tier"),
            )
            .write.mode("append")
            .partitionBy("tier")
            .parquet(tiers)
        )

    src = _split_arrivals(
        sf_dir, "kmv_arrivals", "events", ["event_id", "event_type", "user_id"]
    )
    _drain(
        spark.readStream.schema("event_id bigint, event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        write_tiers,
        str(work / "ckpt"),
    )

    # merge: one read (schema given, so no job infers it), one exchange.
    # The first aggregate collapses replays — a replayed batch
    # re-appends identical rows, u being a function of user_id — and
    # users seen in several batches; the second counts the exact tier
    # and takes the k-th smallest (u, user_id) of the sketch candidates.
    users = (
        spark.read.schema(
            "event_type string, user_id bigint, u double, batch_id int, tier string"
        )
        .parquet(tiers)
        .repartition("event_type")
        .groupBy("event_type", "user_id", "u")
        .agg(
            F.bool_or(F.col("tier") == "d").alias("in_d"),
            F.bool_or(F.col("tier") == "k").alias("in_k"),
        )
    )
    cand = F.when(F.col("in_k"), F.struct("u", "user_id"))
    s = users.groupBy("event_type").agg(
        F.count_if("in_d").alias("exact"),
        F.get(F.sort_array(F.collect_list(cand)), KMV_K - 1)["u"].alias("u_k"),
    )
    return (
        s.select(
            "event_type",
            "exact",
            F.coalesce(
                F.round(F.lit(KMV_K - 1) / F.col("u_k"), 4),
                F.col("exact").cast("double"),
            ).alias("kmv_estimate"),
        )
        .coalesce(1)  # a row per type: sort in place, no range exchange
        .orderBy("event_type")
    )


# Same registration-order guard as the embeddings_ops import above:
# importing the module registers the batch key whose oracle we share.
from kinesis_adapter_spark.operators import aggregates as _aggs  # noqa: E402,F401

ORACLES["stream_kmv_maintain"] = ORACLES["agg_kmv_distinct"]


def _semdedup_indexer(docs, k, kc, seed_table, meta_path):
    """The REAL per-batch writer behind stream_semdedup_maintain,
    exposed so the kill/resume pytest drives the same code path:
    route ONLY this batch's vectors through the frozen seed artifact
    (a pure per-vector function — maintenance never re-reads indexed
    vectors), join the static docs dimension, and append the
    (vec_id, emb, cluster, lang, quality, nrm, batch_id) rows."""
    from kinesis_adapter_spark.operators.embeddings_ops import (
        _ivf_two_level_assign,
        _nrm_fold,
    )

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned = _ivf_two_level_assign(
            batch_df.select("vec_id", F.col("emb").alias("x")),
            k=k,
            kc=kc,
            seed_table=seed_table,
        )
        (
            batch_df.join(assigned, "vec_id")
            .join(
                F.broadcast(docs),
                F.col("doc_id") == F.col("vec_id") % 1_000_000,
            )
            .select(
                "vec_id", "emb", "cluster", "lang", "quality",
                _nrm_fold().alias("nrm"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(meta_path)
        )

    return index_batch


@query("stream_semdedup_maintain", "__SHARED_WITH_PIPELINE_SEMANTIC_DEDUP_IVF__")
def stream_semdedup_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup maintenance — the ingest half of the
    semantic-dedup flagship (pipeline_semantic_dedup_ivf assigns the
    corpus in one shot; this key shows vectors ARRIVING and the
    cluster-meta tier growing, because at 100 TB nobody re-runs
    SemDeDup from scratch per ingest):

    - the model is FROZEN and published first: the fingerprint-staged
      IVF seed-routing artifact (ivf_seed_table — shared with the
      batch key, so both consume bit-identical 6-dp seeds) plus the
      (k, kc) sizing from the shared _semdedup_k formula;
    - the dup-injected corpus (_semdedup_corpus's fixture, exported
      row-for-row) lands in 3 OUT-OF-ORDER NDJSON micro-batches
      (split by vec_id % 3, so ids interleave across batches and
      every batch mixes originals with dups of vectors that arrive
      in OTHER batches);
    - foreachBatch routes ONLY its own batch's vectors through the
      frozen seeds (_ivf_two_level_assign — a pure per-vector
      function of the published artifact, so maintenance never
      re-reads indexed vectors), joins the static docs dimension for
      (lang, quality), computes the hoisted Spark-fold norm, and
      APPENDS (vec_id, emb, cluster, lang, quality, nrm, batch_id)
      to the meta parquet tier;
    - the audit query then runs over the maintained tier alone
      (replays collapsed by the shared _dedup_replays rule) through
      _semdedup_audit — the batch keys' post-assignment tail
      VERBATIM — and must hash-equal pipeline_semantic_dedup_ivf's
      one-shot result; the oracle IS that key's CTE chain, shared.

    Scale shape: per-batch cost is |batch| routing work (seed
    artifact read per task + chunked BLAS argmins) + one append —
    never a corpus re-scan. The query-time pair scan costs
    Σ|cluster|² per audit; a write-path incremental variant
    (rectangular new×cluster scan appending to a maintained pairs
    tier) halves that but adds a second tier to keep consistent —
    the audit-on-read form is the convergence check this key exists
    to prove. Determinism: routing/pairs replay the 6-dp discipline
    the batch keys already hold; the meta tier's values are
    batch-invariant (each is a pure function of one vector + frozen
    model), so ANY arrival order converges to the same audit."""
    from kinesis_adapter_spark.operators.embeddings_ops import (
        _ivf_two_level_assign,
        _nrm_fold,
        _semdedup_audit,
        _semdedup_corpus,
        _semdedup_k,
        _semdedup_quality_docs,
        ivf_seed_table,
    )

    # ---- freeze the model (published before any arrival) ----
    corpus = _semdedup_corpus(spark, sf_dir)
    n = corpus.count()
    k, kc = _semdedup_k(n)
    xframe = corpus.select("vec_id", F.col("emb").alias("x"))
    seed_table = ivf_seed_table(spark, sf_dir, xframe, k, kc)

    # ---- stage the corpus as 3 out-of-order NDJSON arrival batches ----
    work = Path(ephemeral_dir("kas_semdedup_stream_"))
    meta_path = str(work / "meta")
    # Staged ONCE per embeddings fingerprint (r16, the
    # _split_arrivals contract): the r15 shape re-exported the
    # corpus per CALL — three filtered coalesce(1) JSON jobs every
    # bench iteration timing a fixture export, not the maintenance.
    # Export stays row-for-row WITHOUT a driver collect of the corpus:
    # each arrival file is one filtered single-partition write, then
    # the part file is renamed into the NDJSON source dir (the corpus
    # is fixture-scale here; at 100 TB arrivals come from the bus).
    def export(out: Path) -> None:
        out.mkdir()
        for b in range(3):
            part_dir = work / f"part_{b}"
            (
                corpus.filter(F.col("vec_id") % 3 == b)
                .coalesce(1)
                .write.mode("overwrite")
                .json(str(part_dir))
            )
            part = next(Path(part_dir).glob("part-*.json"))
            part.rename(out / f"arrivals_{b}.json")

    src = staged(
        derived_dir(sf_dir) / "semdedup_arrivals",
        [Path(sf_dir) / "embeddings.parquet"],
        export,
    )

    docs = _semdedup_quality_docs(spark, sf_dir)
    index_batch = _semdedup_indexer(docs, k, kc, seed_table, meta_path)

    _drain(
        spark.readStream.schema("vec_id bigint, emb array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        index_batch,
        str(work / "ckpt"),
    )

    # ---- audit over the maintained tier alone (shared tail) ----
    meta = _dedup_replays(spark.read.parquet(meta_path), "vec_id").select(
        "vec_id", "emb", "cluster", "lang", "quality", "nrm"
    )
    return _semdedup_audit(meta)


ORACLES["stream_semdedup_maintain"] = ORACLES["pipeline_semantic_dedup_ivf"]
