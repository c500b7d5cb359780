"""Streaming semantics that the oracle can't check (SURVEY.md §5.5):
checkpoint recovery, watermark late-drop, idempotent redelivery,
native-session-window ≡ batch-sessionization equivalence.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _write_ndjson(path: Path, rows: list[dict]):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


SCHEMA = "event_id BIGINT, ts_iso TIMESTAMP, user_id BIGINT, value DOUBLE"


def _event(eid, iso, uid=1, value=1.0):
    return {"event_id": eid, "ts_iso": iso, "user_id": uid, "value": value}


def test_checkpoint_resume_no_reprocessing(spark, tmp_path):
    """Kill a paced stream mid-backlog, restart from the checkpoint:
    every row is delivered exactly once to the sink dir."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    for i in range(6):
        _write_ndjson(
            src / f"f{i}.json",
            [_event(i * 10 + j, f"2024-01-01T0{i}:00:0{j}") for j in range(5)],
        )

    def run_once():
        q = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .json(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return q

    q = run_once()
    # stop after the first committed batch — simulates a crash mid-backlog
    while not any(p["numInputRows"] > 0 for p in q.recentProgress):
        time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    n_after_kill = spark.read.parquet(out).count()
    assert n_after_kill < 30, "should have stopped before finishing the backlog"

    q2 = run_once()
    q2.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 30  # no loss
    assert got.select("event_id").distinct().count() == 30  # no duplicates


def test_watermark_drops_late_events(spark, tmp_path):
    """A file arriving after the watermark passed its event times is
    excluded from closed windows (append mode)."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    # batch 1: hour-0 events; batch 2: hour-10 events (advances watermark
    # to 09:50); batch 3: late hour-0 events — must be dropped.
    _write_ndjson(src / "a_f1.json", [_event(1, "2024-01-01T00:00:01")])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts_iso", "10 minutes")
        .groupBy(F.window("ts_iso", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def run():
        # file sink (memory sink can't recover from a checkpoint): append
        # mode emits each window once, when the watermark closes it.
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    _write_ndjson(src / "b_f2.json", [_event(2, "2024-01-01T10:00:00")])
    run()
    _write_ndjson(src / "c_late.json", [_event(3, "2024-01-01T00:00:02")])
    run()
    # one more file far in the future forces the hour-10 window closed too
    _write_ndjson(src / "d_flush.json", [_event(4, "2024-01-01T20:00:00")])
    run()
    rows = {
        r["w"]["start"].strftime("%H"): r["n"] for r in spark.read.parquet(out).collect()
    }
    assert rows.get("00") == 1, f"late event must NOT bump the closed hour-0 window: {rows}"
    assert rows.get("10") == 1


# The ids name where a batch's rows sit before the sink collects them:
# one partition ("driver") or spread over several ("executor"). Both
# take the sink's one driver put.
@pytest.mark.parametrize("batch_partitions", [1, 3], ids=["driver", "executor"])
def test_kinesis_e2e_restart_is_idempotent(spark, tmp_path, batch_partitions):
    """Re-running the e2e pipeline with the SAME checkpoint+ledger and
    stream delivers nothing new (batch-id ledger suppresses replay),
    and the bytes delivered are ``row_records``' encoding, whether the
    batch arrives in one partition or in several."""
    from kinesis_adapter_spark.sources import aws
    from kinesis_adapter_spark.streaming.kinesis_sink import KinesisForeachBatchSink

    names = ["plain", None, "café ✓ 日本", "naïve"]  # a null field, non-ASCII text
    src = tmp_path / "src"
    expected = []
    for i in range(3):
        rows = [
            {"event_id": i * 10 + j, "user_id": None if (i, j) == (1, 2) else j, "name": names[j]}
            for j in range(4)
        ]
        _write_ndjson(src / f"f{i}.json", rows)
        for r in rows:
            uid = r["user_id"]
            pk = str(None if uid is None else uid % 2)  # a null key is sent as "None"
            expected.append((json.dumps({"event_id": r["event_id"], "name": r["name"]}).encode(), pk))
    stream_name = f"kas-test-{tmp_path.name.lower()}"
    aws.create_stream(stream_name, shards=2)
    ckpt = str(tmp_path / "ckpt")
    sink = KinesisForeachBatchSink(
        stream=stream_name,
        endpoint=aws.endpoint_url(),
        aws_kw=aws.AWS_KW,
        ledger_dir=str(tmp_path / "ledger"),
    )

    seen_partitions = []

    def laid_out_sink(batch_df, batch_id):
        batch_df = batch_df.repartition(batch_partitions)
        seen_partitions.append(batch_df.rdd.getNumPartitions())
        sink(batch_df, batch_id)

    def run():
        q = (
            spark.readStream.schema("event_id BIGINT, user_id BIGINT, name STRING")
            .json(str(src))
            .select("event_id", "name", (F.col("user_id") % 2).cast("string").alias("pk"))
            .writeStream.foreachBatch(laid_out_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def drained():
        return sorted((r["Data"], r["PartitionKey"]) for r in aws.read_all_records(stream_name))

    run()
    assert seen_partitions and set(seen_partitions) == {batch_partitions}
    assert drained() == sorted(expected)
    assert sink._kin is not None  # the one driver client
    run()  # restart: checkpoint says done; even a replay would hit the ledger
    assert len(drained()) == 12, "restart must not redeliver"


def test_kinesis_sink_puts_large_batches_from_driver_with_one_client(spark, tmp_path, monkeypatch):
    """Micro-batches of several partitions and over 1 MiB of estimated
    plan size are delivered exactly, through one client for the whole
    query."""
    import boto3

    from kinesis_adapter_spark.sources import aws
    from kinesis_adapter_spark.streaming.kinesis_sink import KinesisForeachBatchSink

    src = tmp_path / "src"
    expected = []
    for i in range(6):
        rows = [{"event_id": i * 1000 + j, "user_id": j, "name": f"{i}-{j}-" + "x" * 900} for j in range(300)]
        _write_ndjson(src / f"f{i}.json", rows)
        expected += [
            (json.dumps({"event_id": r["event_id"], "name": r["name"]}).encode(), str(r["user_id"] % 3))
            for r in rows
        ]
    stream_name = f"kas-test-{tmp_path.name.lower()}"
    aws.create_stream(stream_name, shards=2)
    sink = KinesisForeachBatchSink(
        stream=stream_name,
        endpoint=aws.endpoint_url(),
        aws_kw=aws.AWS_KW,
        ledger_dir=str(tmp_path / "ledger"),
    )
    batches = []

    def observed_sink(batch_df, batch_id):
        size = batch_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        batches.append((batch_df.rdd.getNumPartitions(), int(size)))
        sink(batch_df, batch_id)

    clients = []
    make_client = boto3.client
    monkeypatch.setattr(boto3, "client", lambda *a, **kw: clients.append(a) or make_client(*a, **kw))
    q = (
        spark.readStream.schema("event_id BIGINT, user_id BIGINT, name STRING")
        .option("maxFilesPerTrigger", 3)
        .json(str(src))
        .select("event_id", "name", (F.col("user_id") % 3).cast("string").alias("pk"))
        .writeStream.foreachBatch(observed_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    monkeypatch.undo()

    assert len(batches) == 2
    for parts, size in batches:
        assert parts >= 3 and size > 1 << 20, batches
    assert clients == [("kinesis",)]
    drained = sorted((r["Data"], r["PartitionKey"]) for r in aws.read_all_records(stream_name))
    assert drained == sorted(expected)


def test_sink_retry_on_partial_failure(monkeypatch):
    """put_records_with_retry re-enqueues only the failed records."""
    from kinesis_adapter_spark.sources.aws import put_records_with_retry

    calls = []

    class FakeKinesis:
        def put_records(self, StreamName, Records):
            calls.append(len(Records))
            if len(calls) == 1:  # first call: fail half the records
                st = [
                    {"ErrorCode": "Throttling"} if i % 2 else {"SequenceNumber": "1"}
                    for i in range(len(Records))
                ]
                return {"FailedRecordCount": sum(1 for s in st if "ErrorCode" in s), "Records": st}
            return {"FailedRecordCount": 0, "Records": [{"SequenceNumber": "1"}] * len(Records)}

    n = put_records_with_retry(FakeKinesis(), "s", [{"Data": b"x", "PartitionKey": "0"}] * 600)
    assert n == 600
    assert calls[0] == 500 and calls[1] == 250 and calls[2] == 100  # chunking + retry


def test_put_retry_exhaustion_names_stream_and_error(monkeypatch):
    """A record throttled on every attempt exhausts the retries: the
    raise names the stream, the first ErrorCode/ErrorMessage and the
    attempt count, after backing off 0.1, 0.2, 0.4, 0.8 and 1.6 s."""
    from kinesis_adapter_spark.sources import aws

    sleeps, calls = [], []
    monkeypatch.setattr(aws.time, "sleep", sleeps.append)
    code = "ProvisionedThroughputExceededException"
    msg = "Rate exceeded for shard shardId-000000000000"

    class FakeKinesis:
        def put_records(self, StreamName, Records):
            calls.append(len(Records))
            st = [
                {"ErrorCode": code, "ErrorMessage": msg}
                if r["PartitionKey"] == "hot"
                else {"SequenceNumber": "1"}
                for r in Records
            ]
            return {"FailedRecordCount": sum("ErrorCode" in s for s in st), "Records": st}

    recs = [{"Data": b"x", "PartitionKey": "0"}] * 9 + [{"Data": b"x", "PartitionKey": "hot"}]
    with pytest.raises(RuntimeError) as exc:
        aws.put_records_with_retry(FakeKinesis(), "storm-stream", recs)
    assert str(exc.value) == (
        f"1 records to stream 'storm-stream' still failed after 6 PutRecords "
        f"attempts; first error {code}: {msg}"
    )
    assert sleeps == pytest.approx([0.1, 0.2, 0.4, 0.8, 1.6])
    assert calls == [10, 1, 1, 1, 1, 1]


def test_put_records_chunks_by_bytes_and_rejects_oversize():
    """Each PutRecords call carries at most 500 records and 5 MiB of
    Data + PartitionKey; a record over 1 MiB, or with an empty key or
    one over 256 characters, fails before any put."""
    from kinesis_adapter_spark.sources.aws import put_records_with_retry

    calls = []

    class FakeKinesis:
        def put_records(self, StreamName, Records):
            calls.append(Records)
            return {"FailedRecordCount": 0, "Records": [{"SequenceNumber": "1"}] * len(Records)}

    mib = 1 << 20
    full = {"Data": b"x" * (mib - 1), "PartitionKey": "k"}  # exactly 1 MiB with its key
    tiny = {"Data": b"x", "PartitionKey": "0"}
    assert put_records_with_retry(FakeKinesis(), "s", [full] * 12 + [tiny] * 600) == 612
    assert [len(c) for c in calls] == [5, 5, 500, 102]
    for c in calls:
        assert sum(len(r["Data"]) + len(r["PartitionKey"]) for r in c) <= 5 * mib

    calls.clear()
    over = {"Data": b"x" * mib, "PartitionKey": "k"}
    with pytest.raises(ValueError, match=f"{mib + 1} bytes for stream 'big-stream'"):
        put_records_with_retry(FakeKinesis(), "big-stream", [tiny] * 600 + [over])
    assert calls == []

    for key in ("", "k" * 257):
        with pytest.raises(ValueError, match=f"PartitionKey of {len(key)} characters for stream 'big-stream'"):
            put_records_with_retry(FakeKinesis(), "big-stream", [tiny] * 600 + [{"Data": b"x", "PartitionKey": key}])
        assert calls == []
    assert put_records_with_retry(FakeKinesis(), "s", [{"Data": b"x", "PartitionKey": "k" * 256}]) == 1


def test_windowed_state_survives_restart(spark, tmp_path):
    """Stateful windowed aggregation recovers its StateStore across
    restarts: three availableNow runs over a growing backlog (same
    checkpoint) must produce the same per-window counts as one batch
    pass over all the data."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withWatermark("ts_iso", "5 minutes")
            .groupBy(F.window("ts_iso", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # hour-0 spread over two files in DIFFERENT runs: the second run
    # must merge into hour-0's restored state, not restart the count.
    _write_ndjson(src / "a.json", [_event(1, "2024-01-01T00:10:00", value=2.0)])
    run_once()
    _write_ndjson(src / "b.json", [_event(2, "2024-01-01T00:20:00", value=3.0)])
    run_once()
    _write_ndjson(src / "c.json", [_event(3, "2024-01-01T09:00:00", value=1.0)])
    run_once()  # watermark passes hour 0 → it closes with the MERGED state
    got = {
        r["w"]["start"].strftime("%H"): (r["n"], r["sv"])
        for r in spark.read.parquet(out).collect()
    }
    assert got["00"] == (2, 5.0), got


def test_session_window_equals_batch_sessionization(spark):
    """The native session_window streaming op and the batch window
    formulation must produce identical session aggregates."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    streaming = (
        QUERIES["stream_session_window"](spark, SF)
        .select("user_id", "session_start", "n_events", "session_value")
    )
    batch = (
        QUERIES["sessionize_gap"](spark, SF)
        .select(
            "user_id",
            F.col("session_start"),
            "n_events",
            F.round("session_value", 4).alias("session_value"),
        )
    )
    s = {tuple(r) for r in streaming.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_histogram_tier_replay_dedup(spark, tmp_path):
    """A micro-batch replayed after a crash between tier write and
    checkpoint commit appends DUPLICATE partial rows; the read-side
    merge must collapse them by (key, bin, batch_id) or every replayed
    count double-counts. Stage the duplication explicitly and assert
    the merged histogram equals the single-write truth."""
    from kinesis_adapter_spark.streaming.pipelines import _dedup_replays

    sink = str(tmp_path / "hist")
    rows = [
        ("click", 0, 5, 7),   # (event_type, bin, n, batch_id)
        ("click", 1, 3, 7),
        ("view", 0, 2, 8),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, bin long, n long, batch_id long"
    )
    df.write.mode("append").parquet(sink)
    # replay batch 7 verbatim (the crash-between-write-and-commit case)
    df.filter(F.col("batch_id") == 7).write.mode("append").parquet(sink)

    tier = _dedup_replays(spark.read.parquet(sink), "event_type", "bin")
    merged = {
        (r.event_type, r.bin): r.total
        for r in tier.groupBy("event_type", "bin")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert merged == {("click", 0): 5, ("click", 1): 3, ("view", 0): 2}, merged


def test_dedup_replays_partial_replay_and_sort_free_plan(spark, tmp_path):
    """r16: _dedup_replays moved from a row_number window (exchange +
    FULL SORT of the tier per consumer) to a hash aggregate with the
    same arbitrary-representative contract. Two pins: (a) the PARTIAL
    replay case — a crashed first attempt wrote only a subset of the
    batch's rows before the full re-run appended them all — collapses
    to exactly one row per (keys, batch_id); (b) the physical plan of
    the deduped frame carries no Sort and no Window node (the point of
    the rewrite), only hash aggregates."""
    from kinesis_adapter_spark.streaming.pipelines import _dedup_replays

    sink = str(tmp_path / "tier")
    full = [
        ("click", 0, 5, 7),  # (event_type, bin, n, batch_id)
        ("click", 1, 3, 7),
        ("view", 0, 2, 7),
    ]
    schema = "event_type string, bin long, n long, batch_id long"
    # crashed attempt: a PARTIAL prefix of batch 7 landed first
    spark.createDataFrame(full[:1], schema).write.mode("append").parquet(sink)
    # replayed attempt: the complete batch
    spark.createDataFrame(full, schema).write.mode("append").parquet(sink)

    tier = _dedup_replays(spark.read.parquet(sink), "event_type", "bin")
    got = sorted(tuple(r) for r in tier.collect())
    assert got == sorted(full), got

    plan = tier._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan and "Window" not in plan, plan


def test_outer_join_emits_unmatched_and_no_dup_on_resume(spark, tmp_path):
    """VERDICT r5 item #3's integration gate for
    stream_stream_join_outer's topology: two availableNow runs against
    ONE checkpoint must (run 1) emit a matched pair AND a null-padded
    unmatched purchase once the watermark closes its window, then
    (run 2, after staging LATE files) neither retract nor duplicate the
    already-emitted rows — a late matching click lands beyond the
    watermark and is dropped — while a new purchase staged in run 2
    still flows through and emits unmatched."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "event_id BIGINT, ts_iso TIMESTAMP, user_id BIGINT, event_type STRING"

    def ev(eid, iso, uid, et):
        return {"event_id": eid, "ts_iso": iso, "user_id": uid, "event_type": et}

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withWatermark("ts_iso", "10 minutes")
        )
        p = stream.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_iso").alias("p_ts"),
        )
        c = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts_iso").alias("c_ts"),
        )
        q = (
            p.join(
                c,
                (F.col("p_user") == F.col("c_user"))
                & (F.col("p_ts") >= F.col("c_ts"))
                & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
                "leftOuter",
            )
            .select("purchase_id", "click_id")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: matched pair (1,100), unmatched purchase 2, then a flush
    # pair far enough ahead to close both join windows
    _write_ndjson(src / "a.json", [
        ev(100, "2024-01-01T00:00:00", 1, "click"),
        ev(1, "2024-01-01T00:05:00", 1, "purchase"),
        ev(2, "2024-01-01T00:06:00", 2, "purchase"),  # no matching click
    ])
    _write_ndjson(src / "b_flush.json", [
        ev(-1, "2024-01-01T02:00:00", 99, "purchase"),
        ev(-2, "2024-01-01T02:00:00", 99, "click"),
    ])
    run_once()
    got1 = {(r.purchase_id, r.click_id)
            for r in spark.read.parquet(out).filter("purchase_id >= 0").collect()}
    assert got1 == {(1, 100), (2, None)}, got1

    # run 2 (resume): a LATE click that WOULD match purchase 2 but sits
    # far behind the watermark (02:00 - 10min), plus a fresh unmatched
    # purchase and a further flush
    _write_ndjson(src / "c_late.json", [
        ev(200, "2024-01-01T00:05:30", 2, "click"),      # late -> dropped
        ev(3, "2024-01-01T02:01:00", 3, "purchase"),     # new, unmatched
    ])
    _write_ndjson(src / "d_flush.json", [
        ev(-3, "2024-01-01T04:00:00", 99, "purchase"),
        ev(-4, "2024-01-01T04:00:00", 99, "click"),
    ])
    run_once()
    rows2 = [(r.purchase_id, r.click_id)
             for r in spark.read.parquet(out).filter("purchase_id >= 0").collect()]
    assert sorted(rows2) == [(1, 100), (2, None), (3, None)], rows2
    # exactly-once: no duplicate emission of run-1 rows after resume,
    # and the late click neither created (2, 200) nor retracted (2, None)
    assert len(rows2) == len(set(rows2))


def test_histogram_tier_kill_resume_with_replayed_batch(spark, tmp_path):
    """VERDICT r5 item #6: the histogram tier's replay dedup was only
    exercised on hand-built rows; this drives the REAL pipeline shape
    end-to-end — paced foreachBatch writer (the module's own
    _hist_partials), KILLED mid-backlog, resumed from the checkpoint,
    and then one committed batch's partial rows re-appended verbatim
    (the crash-between-tier-write-and-checkpoint-commit case). The
    deduped+merged histogram must equal the batch ground truth of the
    raw log exactly."""
    from kinesis_adapter_spark.streaming.pipelines import (
        _dedup_replays,
        _hist_partials,
    )

    src = tmp_path / "src"
    sink = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id BIGINT, event_type STRING, value DOUBLE"
    rows_all = []
    for i in range(8):
        rows = [
            {"event_id": i * 100 + j,
             "event_type": ["click", "view"][j % 2],
             "value": float((i * 37 + j * 13) % 200) if j % 5 else None}
            for j in range(20)
        ]
        rows_all += rows
        _write_ndjson(src / f"f{i}.json", rows)

    def writer(batch_df, batch_id):
        _hist_partials(batch_df, batch_id).write.mode("append").parquet(sink)

    def run_once():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run_once()
    while not any(p["numInputRows"] > 0 for p in q.recentProgress):
        time.sleep(0.05)
    q.stop()  # kill mid-backlog
    q.awaitTermination()
    q2 = run_once()  # resume from checkpoint
    q2.awaitTermination()

    tier = spark.read.parquet(sink)
    replay_bid = tier.agg(F.min("batch_id")).first()[0]
    # simulate the replayed write of an already-committed batch
    tier.filter(F.col("batch_id") == replay_bid).write.mode("append").parquet(sink)

    merged = {
        (r.event_type, r.bin): r.total
        for r in _dedup_replays(spark.read.parquet(sink), "event_type", "bin")
        .groupBy("event_type", "bin")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    from collections import Counter

    truth = Counter(
        (r["event_type"], int(r["value"] // 25))
        for r in rows_all
        if r["value"] is not None
    )
    assert merged == dict(truth), (merged, dict(truth))


def test_rocksdb_state_kill_resume(spark, tmp_path):
    """r6 directive #2: the RocksDB state store run FOR REAL with a
    crash in the middle — per-user running counts via
    applyInPandasWithState on RocksDBStateStoreProvider, KILLED
    mid-backlog, then resumed from the same checkpoint. State must
    survive in the RocksDB files: the checkpoint's state dir must
    contain versioned RocksDB artifacts (*.zip snapshots /
    *.changelog) at the kill point, the resumed run must report
    RocksDB custom metrics (provider actually in effect, not
    silently defaulted), and the final max-per-user counts must equal
    the batch ground truth — which can only happen if the resumed run
    restored the killed run's counts instead of starting from zero
    (committed files are not re-read)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from kinesis_adapter_spark.streaming.pipelines import rocksdb_state_store

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    # 8 files × 5 events, uid = j % 3 → per-file uid counts {0:2, 1:2, 2:1}
    for i in range(8):
        _write_ndjson(
            src / f"f{i}.json",
            [_event(i * 10 + j, f"2024-01-01T0{i}:00:0{j}", uid=j % 3)
             for j in range(5)],
        )
    truth = {0: 16, 1: 16, 2: 8}

    def running_count(key, pdfs, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    # r7 ADVICE fix: the old kill (progress-poll + q.stop()) RACED the
    # 8-file backlog — a fast run could drain all 8 batches before the
    # stop landed and fail `rows_before_resume < 40` spuriously, and
    # the poll spun forever if the query errored pre-progress. The
    # crash is now injected IN the sink: exactly `remaining` batches
    # commit, then the next batch raises before writing — a real
    # mid-backlog failure, deterministic on any host speed.
    crash = {"remaining": 3}

    def sink(batch_df, _batch_id):
        if crash["remaining"] == 0:
            raise RuntimeError("injected mid-backlog crash")
        batch_df.write.mode("append").parquet(out)
        crash["remaining"] -= 1

    def run_once():
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .groupBy("user_id")
            .applyInPandasWithState(
                running_count,
                outputStructType="user_id bigint, n_events bigint",
                stateStructType="cnt bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    with rocksdb_state_store(spark):
        q = run_once()
        with pytest.raises(Exception, match="injected mid-backlog crash"):
            q.awaitTermination()  # dies on the 4th single-file batch
        assert crash["remaining"] == 0, "crash fired before 3 commits"
        # the killed run must leave durable RocksDB state behind
        state_files = [
            p
            for p in (tmp_path / "ckpt" / "state").rglob("*")
            if p.suffix in (".zip", ".changelog")
        ]
        assert state_files, "no RocksDB snapshot/changelog files after kill"

        crash["remaining"] = 10**9  # disarm the injected failure
        q2 = run_once()  # resume from the checkpoint
        q2.awaitTermination()
        assert any(
            "rocksdb" in m.lower()
            for p in q2.recentProgress
            for op in p["stateOperators"]
            for m in op["customMetrics"]
        ), "resumed run shows no RocksDB metrics — provider not in effect"

    got = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    }
    # equality is only reachable if the resumed run RESTORED the killed
    # run's per-user counts from RocksDB (committed files aren't re-read)
    assert got == truth, (got, truth)


def test_python_stream_source_resumes_exactly_once(spark, tmp_path):
    """The custom Python streaming source must honor checkpointed
    offsets: kill the query mid-feed, restart from the same
    checkpoint, and the parquet sink must end with EXACTLY one copy of
    each of the 1000 feed rows — no gap at the kill point, no replayed
    overlap (readBetweenOffsets serves the recovery batch)."""
    from kinesis_adapter_spark.sources.python_source import (
        RangeFeedStreamDataSource,
    )

    try:
        spark.dataSource.register(RangeFeedStreamDataSource)
    except Exception:
        pass
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        return (
            spark.readStream.format("kas_feed_stream")
            .option("batch_rows", "100")
            .option("total_rows", "1000")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = run()
    while not any(p["numInputRows"] > 0 for p in q.recentProgress):
        time.sleep(0.05)
    q.stop()  # kill mid-feed
    q.awaitTermination()
    q2 = run()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 1000, "row loss or duplication across resume"
    assert got.select("gid").distinct().count() == 1000


def test_scd2_maintain_resurrects_suppressed_change(spark, tmp_path):
    """The late-data case the two-tier SCD2 design exists for: user 1's
    a@t3 is SUPPRESSED while history is [a@t1, b@t5] — then a late
    b@t2 arrives and a@t3 must be RESURRECTED as a change (final truth
    a@t1, b@t2, a@t3, b@t5). Rebuilding from collapsed intervals alone
    cannot produce this (a@t3 is not stored); rebuilding affected keys
    from the raw tier must. Files get strictly increasing mtimes so
    the file source delivers them in arrival order."""
    import os

    from kinesis_adapter_spark.streaming.pipelines import _scd2_maintain_run

    src = tmp_path / "src"
    t = lambda h: f"2024-01-01T0{h}:00:00"  # noqa: E731
    ns = lambda h: int(1704067200 + h * 3600) * 1_000_000_000  # noqa: E731
    batches = [
        [  # batch 0: a@t1 retained, a@t3 suppressed (same as previous)
            {"event_id": 1, "user_id": 1, "event_type": "a", "ts_ns": ns(1), "ts_iso": t(1)},
            {"event_id": 3, "user_id": 1, "event_type": "a", "ts_ns": ns(3), "ts_iso": t(3)},
        ],
        [  # batch 1: b@t5 — history now [a@t1, b@t5]
            {"event_id": 5, "user_id": 1, "event_type": "b", "ts_ns": ns(5), "ts_iso": t(5)},
        ],
        [  # batch 2 (LATE): b@t2 lands between a@t1 and a@t3
            {"event_id": 2, "user_id": 1, "event_type": "b", "ts_ns": ns(2), "ts_iso": t(2)},
        ],
    ]
    for i, rows in enumerate(batches):
        f = src / f"b{i}.json"
        _write_ndjson(f, rows)
        os.utime(f, (1000 + i, 1000 + i))

    hist = _scd2_maintain_run(spark, str(src), 1).collect()
    got = [(r["event_type"], r["valid_from"], r["valid_to"], r["is_current"]) for r in hist]
    assert got == [
        ("a", ns(1), ns(2), False),
        ("b", ns(2), ns(3), False),
        ("a", ns(3), ns(5), False),
        ("b", ns(5), None, True),
    ], got


def test_pq_maintain_converges_to_batch_encoding(spark):
    """stream_pq_maintain (3 arrival micro-batches, frozen codebooks,
    append-only code tier) must end bit-equal to the one-shot batch
    encoding — only possible if every arriving vector was encoded
    exactly once against the same published codebooks."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    got = [
        tuple(r)
        for r in QUERIES["stream_pq_maintain"](spark, sf).collect()
    ]
    ref = [
        tuple(r) for r in QUERIES["emb_pq_encode"](spark, sf).collect()
    ]
    assert got == ref
    assert len(got) > 0


def test_bm25_maintain_converges_to_batch_ranking(spark):
    """stream_bm25_maintain (3 arrival batches, one append-only
    postings tier) must end hash-equal to the one-shot batch top-20 —
    only possible if the maintained corpus stats (N, avgdl, df) and
    term frequencies exactly reconstruct the batch scorer's inputs."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    got = [
        tuple(r)
        for r in QUERIES["stream_bm25_maintain"](spark, sf).collect()
    ]
    ref = [
        tuple(r) for r in QUERIES["text_bm25_topk"](spark, sf).collect()
    ]
    assert got == ref
    assert len(got) > 0


def test_kmv_maintain_converges_via_merge_law(spark):
    """stream_kmv_maintain (3 batches, LOCAL bottom-k appends) must
    produce the identical (exact, estimate) pairs as the one-shot
    batch sketch — only possible if bottom-k of the per-batch
    bottom-ks equals bottom-k of the union (the merge law)."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    got = [
        tuple(r) for r in QUERIES["stream_kmv_maintain"](spark, sf).collect()
    ]
    ref = [
        tuple(r) for r in QUERIES["agg_kmv_distinct"](spark, sf).collect()
    ]
    assert got == ref
    assert len(got) > 0


def test_kmv_maintain_replayed_batch_and_bounded_sketch(spark, tmp_path, monkeypatch):
    """stream_kmv_maintain's tiers after a replay: one committed batch's
    tier rows re-appended verbatim (a kill between the tier write and
    the checkpoint commit), then the key rerun over the same work
    directory, must merge to the one-shot batch sketch's
    (exact, kmv_estimate) exactly, and the sketch tier holds at most
    KMV_K rows per (event_type, batch_id). sf0.01, not sf0.001: at
    sf0.001 every type has 15 users, fewer than KMV_K, so the bound
    never binds and the estimate is the exact fallback."""
    from kinesis_adapter_spark.operators.aggregates import KMV_K
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules
    from kinesis_adapter_spark.streaming import pipelines

    load_all_modules()
    sf = "/root/testdata/sf0.01"
    monkeypatch.setattr(pipelines, "ephemeral_dir", lambda prefix: str(tmp_path))
    ref = [tuple(r) for r in QUERIES["agg_kmv_distinct"](spark, sf).collect()]
    assert [tuple(r) for r in QUERIES["stream_kmv_maintain"](spark, sf).collect()] == ref
    assert any(exact > KMV_K for _, exact, _ in ref), "vacuous: no type above k"

    tiers = str(tmp_path / "tiers")
    tier = spark.read.parquet(tiers)
    per_batch = tier.groupBy("tier", "event_type", "batch_id").count()
    assert per_batch.filter("tier = 'k'").agg(F.max("count")).first()[0] == KMV_K
    assert per_batch.filter("tier = 'd'").agg(F.max("count")).first()[0] > KMV_K
    assert sorted(r.batch_id for r in tier.select("batch_id").distinct().collect()) == [0, 1, 2]

    # simulate the replayed write of an already-committed batch, then
    # rerun the key: the checkpoint says every batch is done, so only
    # the merge runs, over the replayed rows
    tier.filter(F.col("batch_id") == 1).write.mode("append").partitionBy("tier").parquet(tiers)
    assert spark.read.parquet(tiers).count() > tier.count()
    assert [tuple(r) for r in QUERIES["stream_kmv_maintain"](spark, sf).collect()] == ref


TWIN_MAX_JOBS = {
    "stream_kmv_maintain": 8,
    "stream_bm25_maintain": 20,
    "stream_pq_maintain": 8,
    "stream_semdedup_maintain": 20,
    "stream_cdc_apply": 19,
}


@pytest.mark.parametrize("key", TWIN_MAX_JOBS)
def test_maintain_twin_job_count(spark, key):
    """One call of a maintain twin at sf0.001, after a warm-up call
    (pq and semdedup stage their frozen models on the first one),
    submits at most ``TWIN_MAX_JOBS[key]`` Spark jobs. kmv: 2 per
    micro-batch (the exchange, then the one tier write) and 2 for the
    merge. A re-added emptiness check (``take(1)``), second tier write
    or schema-inference read adds jobs and fails here. Counted with
    the DAG scheduler's next job id, which works with the UI off."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    QUERIES[key](spark, SF).collect()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = int(dag.nextJobId())
    rows = QUERIES[key](spark, SF).collect()
    jobs = int(dag.nextJobId()) - first
    assert len(rows) > 0
    assert jobs <= TWIN_MAX_JOBS[key], jobs


def test_bm25_maintain_replayed_batch(spark, tmp_path, monkeypatch):
    """stream_bm25_maintain keeps one postings tier and derives each
    doc's length from it. One committed batch's postings re-appended
    verbatim (a kill between the tier write and the checkpoint commit),
    then the key rerun over the same work directory, must still rank
    exactly like text_bm25_topk: the merge collapses the replayed rows
    before it sums tf into dl, N and avgdl."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules
    from kinesis_adapter_spark.streaming import pipelines

    load_all_modules()
    sf = "/root/testdata/sf0.01"
    monkeypatch.setattr(pipelines, "ephemeral_dir", lambda prefix: str(tmp_path))
    ref = [tuple(r) for r in QUERIES["text_bm25_topk"](spark, sf).collect()]
    assert [tuple(r) for r in QUERIES["stream_bm25_maintain"](spark, sf).collect()] == ref
    assert len(ref) > 0

    postings = str(tmp_path / "postings")
    tier = spark.read.parquet(postings)
    assert sorted(r.batch_id for r in tier.select("batch_id").distinct().collect()) == [0, 1, 2]
    # simulate the replayed write of an already-committed batch, then
    # rerun the key: the checkpoint says every batch is done, so only
    # the merge runs, over the replayed rows
    tier.filter(F.col("batch_id") == 1).write.mode("append").parquet(postings)
    assert spark.read.parquet(postings).count() > tier.count()
    assert [tuple(r) for r in QUERIES["stream_bm25_maintain"](spark, sf).collect()] == ref


def test_await_done_stops_and_names_a_wedged_query(spark, tmp_path):
    """A query that cannot finish (a rate source under the default
    trigger never runs out of input) makes _await_done stop it and
    raise a TimeoutError naming it, instead of waiting forever."""
    from kinesis_adapter_spark.streaming.pipelines import _await_done

    q = (
        spark.readStream.format("rate")
        .load()
        .writeStream.format("noop")
        .queryName("wedged_rate")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="wedged_rate"):
            _await_done(q, 1)
        assert not q.isActive
    finally:
        q.stop()


def test_cdc_apply_stream_converges_out_of_order(spark):
    """stream_cdc_apply stages the changelog legs tombstones-FIRST
    (seq 9, 3, 2, 1) into single-file micro-batches, so deletes and
    updates fold into state before their inserts exist — the final
    snapshot must still be row-equal to the one-shot batch fold
    (last-writer-wins by seq is arrival-order independent, which is
    the whole point of carrying log offsets). Also pins the audit
    column: every surviving key's n_ops must count ALL its changelog
    rows, not just the ones that arrived after its insert."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    got = [
        tuple(r) for r in QUERIES["stream_cdc_apply"](spark, sf).collect()
    ]
    ref = [
        tuple(r)
        for r in QUERIES["cdc_apply_changelog"](spark, sf).collect()
    ]
    assert got == ref
    assert len(got) > 0
    n_ops = {r[0]: r[4] for r in got}
    assert any(v == 3 for v in n_ops.values())  # I+U1+U2 keys survive whole


def test_semdedup_maintain_converges_to_batch_audit(spark):
    """stream_semdedup_maintain (3 out-of-order arrival micro-batches
    routed against the FROZEN published seed artifact, append-only
    meta tier) must end row-equal to pipeline_semantic_dedup_ivf's
    one-shot audit — only possible if every arriving vector was
    routed exactly once against the same published model and the
    shared _semdedup_audit tail saw the identical meta relation."""
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    got = [
        tuple(r)
        for r in QUERIES["stream_semdedup_maintain"](spark, sf).collect()
    ]
    ref = [
        tuple(r)
        for r in QUERIES["pipeline_semantic_dedup_ivf"](spark, sf).collect()
    ]
    assert got == ref
    assert len(got) > 0
    assert sum(r[2] for r in got) > 0, "vacuous: no drops at all"


def test_semdedup_maintain_kill_resume_with_replayed_batch(spark, tmp_path):
    """The maintain key's exactly-once story end-to-end, driving the
    REAL writer (_semdedup_indexer): paced arrivals KILLED
    mid-backlog, resumed from the checkpoint, then one committed
    batch's meta rows re-appended verbatim (the crash-between-tier-
    write-and-checkpoint-commit case). The replay-collapsed audit
    must equal the one-shot batch key's exactly."""
    from kinesis_adapter_spark.operators.embeddings_ops import (
        _semdedup_audit,
        _semdedup_corpus,
        _semdedup_k,
        _semdedup_quality_docs,
        ivf_seed_table,
    )
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules
    from kinesis_adapter_spark.streaming.pipelines import (
        _dedup_replays,
        _semdedup_indexer,
    )

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    corpus = _semdedup_corpus(spark, sf)
    k, kc = _semdedup_k(corpus.count())
    xframe = corpus.select("vec_id", F.col("emb").alias("x"))
    seed_table = ivf_seed_table(spark, sf, xframe, k, kc)

    src = tmp_path / "src"
    src.mkdir()
    meta_path = str(tmp_path / "meta")
    for b in range(3):
        part_dir = tmp_path / f"part_{b}"
        (
            corpus.filter(F.col("vec_id") % 3 == b)
            .coalesce(1)
            .write.mode("overwrite")
            .json(str(part_dir))
        )
        part = next(Path(part_dir).glob("part-*.json"))
        part.rename(src / f"arrivals_{b}.json")

    docs = _semdedup_quality_docs(spark, sf)
    writer = _semdedup_indexer(docs, k, kc, seed_table, meta_path)

    def run_once():
        return (
            spark.readStream.schema("vec_id bigint, emb array<double>")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = run_once()
    while not any(p["numInputRows"] > 0 for p in q.recentProgress):
        time.sleep(0.05)
    q.stop()  # kill mid-backlog
    q.awaitTermination()
    q2 = run_once()  # resume: only the unprocessed arrivals replay
    q2.awaitTermination()

    tier = spark.read.parquet(meta_path)
    replay_bid = tier.agg(F.min("batch_id")).first()[0]
    # simulate the replayed write of an already-committed batch
    tier.filter(F.col("batch_id") == replay_bid).write.mode(
        "append"
    ).parquet(meta_path)

    meta = _dedup_replays(spark.read.parquet(meta_path), "vec_id").select(
        "vec_id", "emb", "cluster", "lang", "quality", "nrm"
    )
    got = [tuple(r) for r in _semdedup_audit(meta).collect()]
    ref = [
        tuple(r)
        for r in QUERIES["pipeline_semantic_dedup_ivf"](spark, sf).collect()
    ]
    assert got == ref


def test_moto_last_sequence_number_matches_stock():
    """The O(1) sequence lookup ensure_moto_server installs returns the
    number stock moto's ``list(self.records.keys())[-1]`` does, on an
    empty shard and on a shard of N records."""
    from moto.kinesis.models import Shard

    from kinesis_adapter_spark.sources.aws import last_sequence_number

    shard = Shard(0, 0, 2**128)
    assert last_sequence_number(shard) == 0
    for i in range(300):
        seq = shard.put_record(f"k{i % 7}", f"d{i}", None)
        assert last_sequence_number(shard) == list(shard.records.keys())[-1]
        assert last_sequence_number(shard) == int(seq) == i + 1
