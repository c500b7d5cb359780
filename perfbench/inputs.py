"""Seeded Kinesis inputs, the expected delivery, and the file-log reader.

An event is one NDJSON line ``{event_id, event_type, user_id, payload}``.
The program drops ``error`` events and sends every other event as the
JSON of ``{event_id, event_type, user_id, payload}`` with partition key
``str(user_id % 4)``, so the expected delivery is known before the run.

The seed sets how many distinct users there are (50 to 5,000) and
draws each payload's length log-uniformly between 20 B and 2 KB.
"""

from __future__ import annotations

import json
import math
import os
import random
from collections import Counter
from pathlib import Path

EVENT_SCHEMA = "event_id BIGINT, event_type STRING, user_id BIGINT, payload STRING"
EVENT_TYPES = ("view", "click", "purchase", "error")
EVENT_WEIGHTS = (6, 2, 1, 1)
PAYLOAD_MIN, PAYLOAD_MAX = 20, 2048
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def make_files(seed: int, n_files: int, per_file: int, first_id: int = 0) -> list[list[dict]]:
    """``n_files`` lists of ``per_file`` events, the same for the same
    arguments. Event ids run from ``first_id`` upwards."""
    rng = random.Random(seed)
    users = int(math.exp(rng.uniform(math.log(50), math.log(5000))))
    lo, hi = math.log(PAYLOAD_MIN), math.log(PAYLOAD_MAX)
    blob = "".join(rng.choice(_ALPHABET) for _ in range(4 * PAYLOAD_MAX))
    files, eid = [], first_id
    for _ in range(n_files):
        events = []
        for _ in range(per_file):
            size = int(math.exp(rng.uniform(lo, hi)))
            at = rng.randrange(len(blob) - size)
            events.append({
                "event_id": eid,
                "event_type": rng.choices(EVENT_TYPES, EVENT_WEIGHTS)[0],
                "user_id": rng.randrange(users),
                "payload": blob[at : at + size],
            })
            eid += 1
        files.append(events)
    return files


def write_file(directory: Path, name: str, events: list[dict]) -> Path:
    """Write ``events`` as NDJSON and publish the file with a rename, so
    the file source never lists a half-written file (it skips names
    that start with a dot)."""
    tmp = directory / f".{name}.tmp"
    tmp.write_text("".join(json.dumps(e) + "\n" for e in events))
    final = directory / name
    os.rename(tmp, final)
    return final


def expected_records(files: list[list[dict]]) -> Counter:
    """Multiset of ``(partition key, event)`` the sink must deliver."""
    out: Counter = Counter()
    for events in files:
        for e in events:
            if e["event_type"] != "error":
                out[(str(e["user_id"] % 4), json.dumps(e, sort_keys=True))] += 1
    return out


def delivered_records(records: list[dict]) -> Counter:
    """Multiset of ``(partition key, event)`` read back from the stream."""
    return Counter(
        (r["PartitionKey"], json.dumps(json.loads(r["Data"]), sort_keys=True))
        for r in records
    )


def multiset_errors(expected: Counter, got: Counter) -> int:
    """Records lost plus records duplicated or never generated."""
    lost = sum((expected - got).values())
    extra = sum((got - expected).values())
    return lost + extra


def batch_files(ckpt: Path, batch_id: int) -> list[str]:
    """Names of the files the file source assigned to ``batch_id``.

    The source's log lives at ``<ckpt>/sources/0/<batchId>``; every
    tenth batch is written as ``<batchId>.compact`` and then holds the
    entries of all earlier batches too, so entries are filtered by
    their own ``batchId``. The log is written before the batch runs."""
    log = ckpt / "sources" / "0"
    path = log / str(batch_id)
    if not path.exists():
        path = log / f"{batch_id}.compact"
    lines = path.read_text().splitlines()[1:]  # first line is the version
    out = []
    for line in lines:
        entry = json.loads(line)
        if entry["batchId"] == batch_id:
            out.append(entry["path"].rsplit("/", 1)[-1])
    return out


def delivery_latencies(calls: list[dict], due: dict[str, float]) -> dict[str, float]:
    """Per file: when the sink call that carried it returned, minus when
    the file was due. ``calls`` are ``{"files": [...], "end": t}``; a
    file carried twice counts from its first delivery."""
    out: dict[str, float] = {}
    for call in sorted(calls, key=lambda c: c["end"]):
        for name in call["files"]:
            if name in due and name not in out:
                out[name] = call["end"] - due[name]
    return out
