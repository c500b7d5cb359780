"""foreachBatch Kinesis sink: the reference adapter's core delivery
stage re-expressed on Structured Streaming (SURVEY.md §2.0, §3.4).

Contract implemented:
- records serialized to JSON, partitioned by a key column (Kinesis
  routes partition-key hash → shard, ordering per shard only);
- PutRecords within the API limits (≤500 records and ≤5 MiB per call,
  ≤1 MiB per record), per-record failure retry with exponential
  backoff (a PutRecords call can succeed while individual records
  throttle — FailedRecordCount): ``aws.put_records_with_retry``;
- batch_id idempotency ledger: foreachBatch is at-least-once across
  restarts; a delivered batch_id is recorded durably next to the
  checkpoint and re-delivery of the same batch is skipped, upgrading
  the sink to effectively-once for whole-batch replays.

Every micro-batch is collected and put from the driver (SURVEY §3.4
step 4), encoded by ``aws.row_records``, through one client the sink
keeps across batches. The ``collect()`` is a JVM-only job. Fanning
the puts out to executors cost a Python-worker job per batch plus a
client per partition, and bought no parallelism against the local
emulator, where puts to one stream serialize on ``aws.moto_put_lock``:
on perfbench's ``kinesis_backfill`` it spent 14–21 s outside the JVM
against under 1 s of task CPU. Concurrent puts against real Kinesis are
left open (ROADMAP direction 2).
"""

from __future__ import annotations

import json
from pathlib import Path

import boto3

from kinesis_adapter_spark.sources import aws
from kinesis_adapter_spark.staging import ephemeral_file


class KinesisForeachBatchSink:
    """Callable for ``writeStream.foreachBatch`` delivering to Kinesis."""

    def __init__(
        self,
        stream: str,
        endpoint: str,
        aws_kw: dict,
        ledger_dir: str,
        partition_key_col: str = "pk",
    ):
        self.stream = stream
        self.endpoint = endpoint
        self.aws_kw = dict(aws_kw)
        self.ledger = Path(ledger_dir)
        self.ledger.mkdir(parents=True, exist_ok=True)
        self.pk_col = partition_key_col
        self._kin = None  # made on first put, kept across batches
        # The put lock opens this file; register it so a run leaves no
        # /tmp residue.
        ephemeral_file(aws.moto_lock_path(stream))

    def __call__(self, batch_df, batch_id: int) -> None:
        mark = self.ledger / f"batch-{batch_id}.done"
        if mark.exists():  # replayed batch after restart → skip (idempotent)
            return
        if self._kin is None:
            self._kin = boto3.client("kinesis", endpoint_url=self.endpoint, **self.aws_kw)
        records = aws.row_records(batch_df.collect(), self.pk_col)
        aws.put_records_with_retry(self._kin, self.stream, records)
        mark.write_text(json.dumps({"batch_id": batch_id}))
