"""Tests of the benchmark itself.

Run from the root of a checkout:

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke tests start a JVM and the emulator on port 5123 each, so they
take about half a minute apiece and need the port free.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from emulator import o1_max_sequence_number  # noqa: E402
from tests.oracle import SF_FAST  # noqa: E402
from workloads import TRICKLE_FILES_PER_S, TRICKLE_TRIGGER_S, _on_trigger_grid, quantile  # noqa: E402
from inputs import (  # noqa: E402
    batch_files,
    delivered_records,
    delivery_latencies,
    expected_records,
    make_files,
    multiset_errors,
)


def test_o1_max_sequence_number_matches_moto():
    from moto.kinesis.models import Shard

    stock, fast = Shard(0, 0, 2**128), Shard(1, 0, 2**128)
    fast.get_max_sequence_number = types.MethodType(o1_max_sequence_number, fast)
    assert fast.get_max_sequence_number() == stock.get_max_sequence_number() == 0
    for i in range(300):
        seq = stock.put_record(f"k{i % 7}", f"d{i}", None)
        assert fast.put_record(f"k{i % 7}", f"d{i}", None) == seq
        assert fast.get_max_sequence_number() == stock.get_max_sequence_number() == int(seq)


def test_generator_start_sits_on_the_trigger_grid():
    gap = 1 / TRICKLE_FILES_PER_S
    for t in (1_700_000_000.0, 1_700_000_000.7, 1_700_000_001.3, 1_700_000_002.99):
        t0 = _on_trigger_grid(t)
        assert t <= t0 < t + TRICKLE_TRIGGER_S
        # half a publish gap after a trigger, every time
        assert abs((t0 - gap / 2) / TRICKLE_TRIGGER_S - round((t0 - gap / 2) / TRICKLE_TRIGGER_S)) < 1e-6


def test_inputs_are_seeded_and_bounded():
    a = make_files(7, 3, 200)
    assert a == make_files(7, 3, 200)
    assert a != make_files(8, 3, 200)
    sizes = [len(e["payload"]) for f in a for e in f]
    assert 20 <= min(sizes) and max(sizes) <= 2048
    assert [e["event_id"] for f in a for e in f] == list(range(600))


def test_multiset_check_counts_loss_and_duplicates():
    files = make_files(3, 1, 50)
    want = expected_records(files)
    sent = [
        {"PartitionKey": pk, "Data": body.encode()}
        for (pk, body), n in want.items()
        for _ in range(n)
    ]
    assert multiset_errors(want, delivered_records(sent)) == 0
    assert multiset_errors(want, delivered_records(sent[1:])) == 1
    assert multiset_errors(want, delivered_records(sent + sent[:2])) == 2
    assert multiset_errors(want, Counter()) == sum(want.values())


def _write_log(log: Path, name: str, entries: list[tuple[str, int]]) -> None:
    lines = ["v1"] + [
        json.dumps({"path": f"file:///in/{f}", "timestamp": 0, "batchId": b})
        for f, b in entries
    ]
    (log / name).write_text("\n".join(lines))


def test_quantile_interpolates_between_ranks():
    assert quantile([], 0.5) == 0.0
    assert quantile([3.0], 0.9) == 3.0
    assert quantile([4.0, 1.0, 2.0], 0.5) == 2.0
    assert quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert quantile(list(range(11)), 0.9) == pytest.approx(9.0)


def test_due_time_latency_from_a_synthetic_file_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # batches 0..8 are plain files; batch 9 is compacted and repeats 0..8
    entries = [(f"f{b}.json", b) for b in range(10)]
    for f, b in entries[:9]:
        _write_log(log, str(b), [(f, b)])
    _write_log(log, "9.compact", entries)
    _write_log(log, "10", [("f10a.json", 10), ("f10b.json", 10)])

    assert batch_files(tmp_path, 3) == ["f3.json"]
    assert batch_files(tmp_path, 9) == ["f9.json"]
    assert batch_files(tmp_path, 10) == ["f10a.json", "f10b.json"]

    due = {"f3.json": 100.0, "f10a.json": 101.0, "f10b.json": 101.5}
    calls = [
        {"files": batch_files(tmp_path, 10), "end": 103.0},
        {"files": batch_files(tmp_path, 3), "end": 100.25},
        {"files": batch_files(tmp_path, 3), "end": 109.0},  # a replay
    ]
    assert delivery_latencies(calls, due) == {
        "f3.json": 0.25,
        "f10a.json": 2.0,
        "f10b.json": 1.5,
    }


# A small input for each workload: constants are patched before main(),
# and the sweep reads the smallest tables.
SMOKE = {
    "kinesis_backfill": "workloads.BACKFILL_FILES = 6; workloads.BACKFILL_PER_FILE = 100",
    "kinesis_trickle": "workloads.TRICKLE_MIN_FILES = 20; workloads.TRICKLE_PER_FILE = 10",
    "registry_sweep": "pass",
}


@pytest.mark.parametrize("workload", sorted(SMOKE))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    code = (
        f"import sys; sys.path.insert(0, {str(HERE)!r}); import workloads; "
        f"{SMOKE[workload]}; import run; sys.exit(run.main(sys.argv[1:]))"
    )
    env = {"SPARK_GRAFT_SF_DIR": SF_FAST}
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        env={**os.environ, **env},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(out["metrics"]) == sorted(names)
    if not trace:
        assert all(out["metrics"][n]["value"] > 0 for n in names)


def test_refuses_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "kinesis_backfill",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
