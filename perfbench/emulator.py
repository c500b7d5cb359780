"""Kinesis emulator process owned by the benchmark.

Serves moto on ``127.0.0.1:<port>`` in its own process, so the
program's ``aws.ensure_moto_server()`` finds the port bound and reuses
it, and the emulator's CPU is kept apart from the program's.

Two changes to stock moto, neither visible to a client:

- ``Shard.get_max_sequence_number`` returns the last key of the
  shard's ordered dict in O(1). Stock moto copies the whole key list on
  every put, so a shard's put cost grows with its length and the
  emulator, not the program, sets the pace of a long pass. Both return
  the same sequence number.
- ``KinesisBackend.put_records`` is wrapped to count calls, records and
  failed records.

Protocol: the process prints ``ready`` once the port is bound, then
reads one command per line on stdin and answers each with one JSON line
on stdout:

- ``stats``: ``{"put_calls", "put_records", "put_failed", "put_errors",
  "cpu_s"}`` since start;
- ``stop`` (or end of input): shut the server down and exit.

It exits with code 3, without serving, if the port is already bound.

Run: ``python3 perfbench/emulator.py --port 5123``.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import threading


def o1_max_sequence_number(shard) -> int:
    """The shard's highest sequence number, without copying its keys.

    ``records`` is an insertion-ordered dict whose keys are increasing
    sequence numbers, so its last key is the maximum."""
    if shard.records:
        return next(reversed(shard.records))
    return 0


class PutCounter:
    """Counts PutRecords traffic through the emulator's backend."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.calls = 0
        self.records = 0
        self.failed = 0
        self.errors = 0

    def wrap(self, put_records):
        def counted(backend, stream_arn, stream_name, records):
            try:
                resp = put_records(backend, stream_arn, stream_name, records)
            except Exception:
                with self.lock:
                    self.calls += 1
                    self.errors += 1
                raise
            with self.lock:
                self.calls += 1
                self.records += len(records)
                self.failed += int(resp.get("FailedRecordCount", 0))
            return resp

        return counted

    def snapshot(self) -> dict:
        t = os.times()
        with self.lock:
            return {
                "put_calls": self.calls,
                "put_records": self.records,
                "put_failed": self.failed,
                "put_errors": self.errors,
                "cpu_s": t.user + t.system,
            }


def patch_moto(counter: PutCounter) -> None:
    from moto.kinesis.models import KinesisBackend, Shard

    Shard.get_max_sequence_number = o1_max_sequence_number
    KinesisBackend.put_records = counter.wrap(KinesisBackend.put_records)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    args = ap.parse_args()

    from moto.moto_server.werkzeug_app import (
        DomainDispatcherApplication,
        create_backend_app,
    )
    from werkzeug.serving import make_server

    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    counter = PutCounter()
    patch_moto(counter)
    app = DomainDispatcherApplication(create_backend_app)
    try:
        server = make_server("127.0.0.1", args.port, app, threaded=True)
    except OSError as exc:
        print(f"port {args.port} is already bound: {exc}", file=sys.stderr)
        return 3
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print("ready", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stats":
            print(json.dumps(counter.snapshot()), flush=True)
        elif cmd == "stop":
            break
    server.shutdown()
    thread.join()
    return 0


if __name__ == "__main__":
    sys.exit(main())
