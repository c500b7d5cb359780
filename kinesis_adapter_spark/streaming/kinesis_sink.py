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

Where a micro-batch is put depends on Catalyst's size estimate of its
plan (read without running a job):

- at most ``DRIVER_PUT_MAX_BYTES`` (1 MiB): the batch is collected and
  put from the driver through one client the sink keeps across
  batches. 1 MiB is one shard-second of Kinesis write quota, so such a
  batch gains nothing from parallel writers, while a
  ``foreachPartition`` job would cost it a Python-worker round trip
  per trigger — the dominant cost of a steady trickle;
- larger, or of unknown size (Spark then reports its default maximum):
  writes fan out via ``DataFrame.foreachPartition``, so each executor
  ships its own partitions' chunks — the path that scales past what one
  driver can hold. The closure (``aws.partition_writer``) is pickled by
  value, so executors don't need this package importable.

Both paths encode rows with ``aws.row_records``, so the bytes sent do
not depend on the path.
"""

from __future__ import annotations

import json
from pathlib import Path

import boto3

from kinesis_adapter_spark.sources import aws
from kinesis_adapter_spark.staging import ephemeral_file

DRIVER_PUT_MAX_BYTES = 1 << 20


def plan_size_bytes(df) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan; runs no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


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
        self._kin = None  # the driver path's client, made on first use
        # The put lock opens this file on driver and executors alike;
        # register it here, on the driver, so a run leaves no /tmp residue.
        ephemeral_file(aws.moto_lock_path(stream))

    def __call__(self, batch_df, batch_id: int) -> None:
        mark = self.ledger / f"batch-{batch_id}.done"
        if mark.exists():  # replayed batch after restart → skip (idempotent)
            return
        if plan_size_bytes(batch_df) <= DRIVER_PUT_MAX_BYTES:
            if self._kin is None:
                self._kin = boto3.client(
                    "kinesis", endpoint_url=self.endpoint, **self.aws_kw
                )
            records = aws.row_records(batch_df.collect(), self.pk_col)
            aws.put_records_with_retry(self._kin, self.stream, records)
        else:
            batch_df.foreachPartition(
                aws.partition_writer(self.stream, self.endpoint, self.aws_kw, self.pk_col)
            )
        mark.write_text(json.dumps({"batch_id": batch_id}))
