"""Local AWS emulation plumbing (moto server) for S3/Kinesis paths.

The reference is an S3→Kinesis adapter; this environment has no
network and no hadoop-aws/kinesis JVM connectors (SURVEY.md §0.3), so
AWS APIs are served by a moto ThreadedMotoServer on 127.0.0.1 and all
clients talk to it via ``endpoint_url``.

Why a *server* and not ``mock_aws()``: an in-process mock patches
only the process that enters it, while one emulator on a port serves
every process of the host alike (pytest workers, a benchmark and its
own emulator process). In production the same code runs with the
endpoint_url removed.
"""

from __future__ import annotations

import atexit
import json
import re
import socket
import time

import boto3

_PORT = 5123
_server = None

AWS_KW = dict(
    region_name="us-east-1",
    aws_access_key_id="testing",
    aws_secret_access_key="testing",
)


def endpoint_url() -> str:
    return f"http://127.0.0.1:{_PORT}"


def last_sequence_number(shard) -> int:
    """``moto.kinesis.models.Shard.get_max_sequence_number`` in O(1):
    the last key of the shard's insertion-ordered record dict. Stock
    moto builds ``list(self.records.keys())`` on every put, so a put's
    cost grows with the shard and a long Kinesis pass slows down as
    it goes. Same value as stock, 0 for an empty shard."""
    return next(reversed(shard.records), 0)


def ensure_moto_server() -> str:
    """Start the singleton moto server if not already running."""
    global _server
    if _server is None:
        # Another process (e.g. previous pytest worker) may own the port.
        with socket.socket() as s:
            if s.connect_ex(("127.0.0.1", _PORT)) == 0:
                return endpoint_url()
        import logging

        from moto.kinesis.models import Shard
        from moto.server import ThreadedMotoServer

        logging.getLogger("werkzeug").setLevel(logging.ERROR)  # silence request spam
        Shard.get_max_sequence_number = last_sequence_number
        server = ThreadedMotoServer(ip_address="127.0.0.1", port=_PORT, verbose=False)
        try:
            server.start()
        except OSError:
            # Check-then-start race (ADVICE r01): another process bound
            # the port between our probe and start(). Re-probe and use
            # the winner's instance.
            for _ in range(50):
                with socket.socket() as s:
                    if s.connect_ex(("127.0.0.1", _PORT)) == 0:
                        return endpoint_url()
                time.sleep(0.1)
            raise
        _server = server
        atexit.register(_server.stop)
        time.sleep(0.2)
    return endpoint_url()


def client(service: str):
    ensure_moto_server()
    return boto3.client(service, endpoint_url=endpoint_url(), **AWS_KW)


def create_stream(name: str, shards: int = 4):
    """Idempotently create a Kinesis stream and wait until ACTIVE."""
    kin = client("kinesis")
    try:
        kin.create_stream(StreamName=name, ShardCount=shards)
    except kin.exceptions.ResourceInUseException:
        pass  # stream already exists — idempotent create, fall through to wait
    for _ in range(50):
        desc = kin.describe_stream_summary(StreamName=name)
        if desc["StreamDescriptionSummary"]["StreamStatus"] == "ACTIVE":
            break
        time.sleep(0.1)
    return kin


def read_all_records(stream: str) -> list[dict]:
    """Drain every shard of a stream (TRIM_HORIZON → empty)."""
    kin = client("kinesis")
    out: list[dict] = []
    desc = kin.describe_stream(StreamName=stream)
    for shard in desc["StreamDescription"]["Shards"]:
        it = kin.get_shard_iterator(
            StreamName=stream,
            ShardId=shard["ShardId"],
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        empties = 0
        while it:
            resp = kin.get_records(ShardIterator=it, Limit=10000)
            out.extend(resp["Records"])
            if resp["Records"]:
                empties = 0
            else:
                # An empty page does NOT mean end-of-shard: Kinesis can
                # return no records with a valid NextShardIterator while
                # data remains further along. Only stop once the iterator
                # is caught up (MillisBehindLatest == 0) or after several
                # consecutive empty pages (bounded, for emulators that
                # omit the field).
                if resp.get("MillisBehindLatest", 0) == 0:
                    break
                empties += 1
                if empties >= 5:
                    break
            it = resp.get("NextShardIterator")
    return out


# PutRecords limits (Kinesis API): per call, per record.
PUT_MAX_RECORDS = 500
PUT_MAX_CALL_BYTES = 5 << 20
PUT_MAX_RECORD_BYTES = 1 << 20
PUT_MAX_KEY_CHARS = 256


def moto_lock_path(stream: str) -> str:
    """The put-lock file of one stream (see ``moto_put_lock``). The
    caller that creates the stream registers it for removal; the lock
    itself only opens it."""
    return "/tmp/kas_moto_put.%s.lock" % re.sub(r"[^A-Za-z0-9_.-]", "_", stream)


class moto_put_lock:
    """Cross-process serialization of PutRecords against the LOCAL moto
    emulator: moto's in-memory Kinesis backend drops records under
    concurrent puts (measured: 7998/8000 with 8 writer threads). Real
    Kinesis is concurrent-safe — production runs (no local endpoint)
    skip the lock entirely. Every put of the package runs on the
    driver, but two sinks or processes can still put to one stream at
    once; flock serializes them because they share the host.

    The lock file is keyed by STREAM name (ADVICE r01): moto's drop
    happens on concurrent puts to one in-memory stream, so unrelated
    pipelines writing different streams need not serialize against
    each other."""

    def __init__(self, endpoint: str | None, stream: str = "default"):
        self.local = bool(endpoint) and "127.0.0.1" in (endpoint or "")
        self.stream = stream
        self._fh = None

    def __enter__(self):
        if self.local:
            import fcntl

            self._fh = open(moto_lock_path(self.stream), "w")
            fcntl.flock(self._fh, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        if self._fh is not None:
            import fcntl

            fcntl.flock(self._fh, fcntl.LOCK_UN)
            self._fh.close()
        return False


def _record_bytes(rec: dict) -> int:
    return len(rec["Data"]) + len(rec["PartitionKey"].encode())


def _chunks(records: list[dict], sizes: list[int]):
    """Consecutive runs of at most PUT_MAX_RECORDS records and
    PUT_MAX_CALL_BYTES bytes."""
    chunk: list[dict] = []
    total = 0
    for rec, n in zip(records, sizes):
        if chunk and (len(chunk) == PUT_MAX_RECORDS or total + n > PUT_MAX_CALL_BYTES):
            yield chunk
            chunk, total = [], 0
        chunk.append(rec)
        total += n
    if chunk:
        yield chunk


def put_records_with_retry(
    kin,
    stream: str,
    records: list[dict],
    max_retries: int = 5,
    backoff_s: float = 0.05,
) -> int:
    """PutRecords within the API limits, with per-record failure retry.

    This is the reference adapter's core sink contract (SURVEY.md
    §2.0): a call carries at most 500 records and 5 MiB of Data plus
    PartitionKey; individual records can fail (throttling) while the
    call succeeds — those are re-enqueued with exponential backoff. A
    record over 1 MiB, or whose PartitionKey is empty or longer than
    256 characters, can never be put, so it raises ``ValueError``
    before anything is sent. Returns records delivered.

    Every PutRecords of the package goes through here, from the
    driver."""
    sizes = [_record_bytes(rec) for rec in records]
    for rec, n in zip(records, sizes):
        if n > PUT_MAX_RECORD_BYTES:
            raise ValueError(
                f"Kinesis record of {n} bytes for stream {stream!r} exceeds "
                f"the {PUT_MAX_RECORD_BYTES}-byte PutRecords record limit"
            )
        k = len(rec["PartitionKey"])
        if not 1 <= k <= PUT_MAX_KEY_CHARS:
            raise ValueError(
                f"Kinesis PartitionKey of {k} characters for stream {stream!r} "
                f"is outside the 1-{PUT_MAX_KEY_CHARS} PutRecords key limit"
            )
    delivered = 0
    lock = moto_put_lock(
        getattr(getattr(kin, "meta", None), "endpoint_url", None), stream=stream
    )
    for chunk in _chunks(records, sizes):
        attempt = 0
        while chunk:
            with lock:
                resp = kin.put_records(StreamName=stream, Records=chunk)
            failed = resp.get("FailedRecordCount", 0)
            if not failed:
                delivered += len(chunk)
                break
            errs = [
                (rec, st) for rec, st in zip(chunk, resp["Records"]) if "ErrorCode" in st
            ]
            delivered += len(chunk) - len(errs)
            chunk = [rec for rec, _ in errs]
            attempt += 1
            if attempt > max_retries:
                st = errs[0][1]
                raise RuntimeError(
                    f"{len(chunk)} records to stream {stream!r} still failed after "
                    f"{attempt} PutRecords attempts; first error "
                    f"{st['ErrorCode']}: {st.get('ErrorMessage', '')}"
                )
            time.sleep(backoff_s * (2**attempt))
    return delivered


def row_records(rows, pk_col: str = "pk") -> list[dict]:
    """Kinesis records of Spark Rows: the row without its key column as
    JSON, keyed by ``str`` of the key (a null key is sent as "None")."""
    out = []
    for r in rows:
        d = r.asDict()
        pk = str(d.pop(pk_col))
        out.append({"Data": json.dumps(d).encode(), "PartitionKey": pk})
    return out
