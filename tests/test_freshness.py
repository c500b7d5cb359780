"""Mechanical freshness gates (VERDICT r8 items #1/#2).

Two consecutive rounds ended with keys added AFTER the committed
replica artifact was generated, and with README counts written
mid-round — prose rules ("replica is the LAST act of the round")
didn't hold, so the discipline is now a failing test:

- the highest-round ``REPLICA_r{N}.json`` in the repo must cover
  EXACTLY the live registry's key set (and carry zero failures);
- README.md's registry/oracle counts must equal ``len(QUERIES)`` /
  ``len(ORACLES)``.

Adding a key without regenerating the replica — or without updating
the README — is now a red suite, not a judge finding.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _registry():
    from kinesis_adapter_spark.plans.registry import (
        ORACLES,
        QUERIES,
        load_all_modules,
    )

    load_all_modules()
    return QUERIES, ORACLES


def _latest_replica() -> Path:
    # two-digit round files only: the sf0.1 sweep artifacts
    # (REPLICA_r{N}_sf01.json) are a separate, heavier evidence tier
    # with their own gate below — they must not shadow the per-round
    # sf0.01 replica the key-set/leak gates bind to
    arts = sorted(REPO.glob("REPLICA_r[0-9][0-9].json"))
    assert arts, "no REPLICA_r{N}.json artifact committed"
    return arts[-1]


def test_replica_artifact_covers_live_registry():
    """Every registry key has a row in the newest committed replica —
    the same-day-replica rule as a gate instead of a directive."""
    queries, _ = _registry()
    art = json.loads(_latest_replica().read_text())
    replica_keys = set(art["keys"])
    missing = sorted(set(queries) - replica_keys)
    extra = sorted(replica_keys - set(queries))
    assert not missing and not extra, (
        f"{_latest_replica().name} is stale: missing rows for {missing}, "
        f"orphan rows for {extra} — rerun tools/replica_check.py at HEAD"
    )


def test_replica_artifact_is_all_green():
    """The committed replica may not carry a failing key: a red row
    means the round shipped a known-broken declaration."""
    art = json.loads(_latest_replica().read_text())
    red = sorted(
        k for k, r in art["keys"].items() if r.get("status") == "fail"
    )
    assert art["fail"] == 0 and not red, red


def test_replica_artifact_has_zero_persist_leaks():
    """The committed replica must carry the per-key persist sweep and it
    must be empty (VERDICT r9 item #1): two rounds of judge-found leaks
    plus one builder-found leak proved the 'no returned lazy frame owns
    a persist' rule needs a registry-wide mechanical gate, not two point
    tests. A replica generated by a pre-r10 tool (no field) fails too —
    the evidence must exist, not merely not be red."""
    art = json.loads(_latest_replica().read_text())
    assert "leaked_persists" in art, (
        f"{_latest_replica().name} predates the persist sweep — rerun "
        "tools/replica_check.py at HEAD"
    )
    assert art["leaked_persists"] == {}, art["leaked_persists"]


def test_sf01_replica_artifact_is_green_when_present():
    """The sf0.1 replica sweep (VERDICT r9 item #4: percentile ties,
    rounding boundaries, and window tie-breaks are the bug class that
    only appears at larger cardinality) is a per-evidence-round
    artifact, not a per-key gate — regenerating a ~25-minute sweep on
    every key addition would be disproportionate, so key-set equality
    is NOT required here. What IS required: the newest committed sf0.1
    artifact carries zero failures and zero persist leaks."""
    arts = sorted(REPO.glob("REPLICA_r[0-9][0-9]_sf01.json"))
    assert arts, "no sf0.1 replica artifact committed (r10 evidence tier)"
    art = json.loads(arts[-1].read_text())
    assert art["sf_dir"].endswith("sf0.1"), art["sf_dir"]
    red = sorted(
        k for k, r in art["keys"].items() if r.get("status") == "fail"
    )
    assert art["fail"] == 0 and not red, red
    assert art.get("leaked_persists") == {}, art.get("leaked_persists")


def test_readme_counts_match_registry():
    """README.md's '(N operator keys)' / '(M DuckDB-checkable)' claims
    are derived from the live registry, never hand-maintained."""
    queries, oracles = _registry()
    text = (REPO / "README.md").read_text()
    m = re.search(
        r"`queries\(\)` \((\d+) operator\s+keys\), and `oracle_sql\(\)` "
        r"\((\d+) DuckDB-checkable\)",
        text,
    )
    assert m, "README.md no longer carries the registry-count sentence"
    assert int(m.group(1)) == len(queries), (
        f"README says {m.group(1)} keys, registry has {len(queries)}"
    )
    assert int(m.group(2)) == len(oracles), (
        f"README says {m.group(2)} oracled, registry has {len(oracles)}"
    )


def test_smoke_and_bench_reference_live_registry_keys():
    """Every key named by the scale-smoke table and the bench harness
    must exist in the live registry, and every bench entry must carry
    an anchor — a renamed/removed key must not silently orphan its
    evidence (same drift class as the replica gate)."""
    queries, _ = _registry()
    from tools.scale_smoke import SMOKE_OPS

    missing = sorted(set(SMOKE_OPS) - set(queries))
    assert not missing, f"smoke ops not in registry: {missing}"

    import bench

    for name, key in {**bench.HEADLINE, **bench.EXTRAS}.items():
        assert key in queries, f"bench entry {name} -> unknown key {key}"
    unanchored = [
        n
        for n in {**bench.HEADLINE, **bench.EXTRAS}
        if n not in bench.ANCHORS
    ]
    assert not unanchored, f"bench entries without anchors: {unanchored}"


def test_bench_stdout_line_stays_compact():
    """The driver records only a bounded tail (~2000 chars) of bench
    stdout; r9/r10's inline-everything line overflowed it and left
    BENCH_r{09,10}.json unparsed. Build the compact contract line with
    worst-case-width dummy values for every bench entry and assert it
    stays under the guard — so ADDING a bench entry that would overflow
    the driver capture is a red suite, not a silently lost artifact."""
    import json as _json

    import bench

    names = {**bench.HEADLINE, **bench.EXTRAS}
    out = {
        "metric": "headline_total_warm_median",
        "value": 99.9999,
        "unit": "sec",
        "queries": {n: 99.9999 for n in names},
        "sf": 0.1,
        "ratio_worst": 9.999,
        "ratio_median": 9.999,
        "probe_worst_x": 99.99,
        "par_worst_x": 99.99,
        "bench_discards": 999,
    }
    line = _json.dumps(out, separators=(",", ":"))
    assert len(line) < 1900, (
        f"compact bench line would be {len(line)} chars with "
        f"{len(names)} entries — trim entry names or drop a field"
    )


def test_replica_artifact_has_zero_orphan_staging():
    """The committed replica must carry the /tmp staging audit and it
    must be empty (VERDICT r11 item #2): the r11 adjudication removed
    8,266 leaked per-run staging dirs — the host-IO drift mechanism
    the bench's IO-heavy keys are exposed to — so per-invocation
    staging is now atexit-registered (kinesis_adapter_spark.staging)
    and the sweep-level zero-orphan audit is a gate, not a directive.
    A replica generated by a pre-r12 tool (no field) fails too."""
    art = json.loads(_latest_replica().read_text())
    assert "orphan_staging_dirs" in art, (
        f"{_latest_replica().name} predates the staging audit — rerun "
        "tools/replica_check.py at HEAD"
    )
    assert art["orphan_staging_dirs"] == [], art["orphan_staging_dirs"]


def test_sf01_replica_has_no_vacuous_keys_or_sf_bound_residue():
    """VERDICT r11 items #3/#4 as gates, bound to sf0.1 artifacts from
    r12 on: (a) no registry key may return zero rows at sf0.1 (a
    hash-match of two empty results verifies nothing — the r6
    join_range_bucketed lesson), and (b) the artifact-reading oracle
    family (multimodal/PCA/PQ) is fully oracle-checked at sf0.1 via
    per-sf staged artifacts (tests.oracle.oracle_sql_for), so the
    oracle_sf_bound downgrade must be gone."""
    arts = sorted(REPO.glob("REPLICA_r[0-9][0-9]_sf01.json"))
    assert arts, "no sf0.1 replica artifact committed"
    art = json.loads(arts[-1].read_text())
    if art["round"] < 12:
        return  # archived pre-r12 evidence tier; the gates bind ahead
    assert art["zero_row_keys"] == [], art["zero_row_keys"]
    assert art["oracle_sf_bound"] == 0, (
        "sf-bound residue should be impossible since oracle_sql_for"
    )
    assert art["orphan_staging_dirs"] == [], art["orphan_staging_dirs"]


def test_bench_detail_artifact_is_fresh_and_consistent():
    """BENCH_DETAIL.json is the bench artifact of record (VERDICT r11
    item #7 — the driver tail is bounded and already ate r9/r10's
    per-query detail): the committed detail must cover exactly the
    live bench entry set, its headline total must equal the sum of
    the six headline medians it reports, and every ratio key must be
    a bench entry."""
    import bench

    detail = json.loads((REPO / "BENCH_DETAIL.json").read_text())
    names = set(bench.HEADLINE) | set(bench.EXTRAS)
    assert set(detail["queries"]) == names, (
        "BENCH_DETAIL.json key set drifted from bench.py — rerun "
        "python bench.py at HEAD"
    )
    assert set(detail["ratio_vs_anchor"]) <= names
    headline_sum = sum(detail["queries"][n] for n in bench.HEADLINE)
    assert abs(detail["value"] - headline_sum) < 0.05, (
        detail["value"],
        headline_sum,
    )


def test_staging_module_cleans_registered_paths(tmp_path):
    """End-to-end contract of kinesis_adapter_spark.staging: ephemeral
    dirs, process-lifetime staged tables, the per-run kas_run_<pid>
    root itself, and registered files are all removed when the
    registering interpreter EXITS (the real atexit path, probed in a
    subprocess — calling cleanup_now() in-process here would drain
    this pytest session's own live registrations, wiping caches other
    tests still reuse). r13 additions: both dir flavors must live
    UNDER the run root (the dead-pid reaping convention); ephemeral
    dirs and files are recorded in its MANIFEST, staged tables are
    covered by the root itself."""
    import os
    import subprocess
    import sys

    out = tmp_path / "paths.txt"
    code = (
        "import os, sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from kinesis_adapter_spark import staging\n"
        "root = staging.run_root()\n"
        "assert root.endswith(f'kas_run_{os.getpid()}')\n"
        "d1 = staging.ephemeral_dir('kas_test_eph_')\n"
        "from pathlib import Path\n"
        "d2 = str(staging.staged(Path(root) / 'kas_test_pid', [], Path.mkdir))\n"
        "assert d1.startswith(root + os.sep) and d2.startswith(root + os.sep)\n"
        f"f1 = staging.ephemeral_file(os.path.join({str(tmp_path)!r}, 'kas_test.lock'))\n"
        "open(f1, 'w').close()\n"
        "manifest = open(os.path.join(root, 'MANIFEST')).read().splitlines()\n"
        "assert {d1, f1} <= set(manifest), manifest\n"
        "assert {root, d1, f1} <= staging.registered_paths()\n"
        "for p in (root, d1, d2, f1):\n"
        "    assert os.path.exists(p)\n"
        f"open({str(out)!r}, 'w').write('\\n'.join([root, d1, d2, f1]))\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120)
    paths = out.read_text().splitlines()
    assert len(paths) == 4
    for p in paths:
        assert not os.path.exists(p), f"atexit left {p} behind"


def test_staging_reaps_dead_pid_residue(tmp_path):
    """VERDICT r12 item #1: a harness killed WITHOUT running atexit
    (SIGKILL — the driver-context failure that leaked 16 dirs) must
    still be cleaned, by convention, by the NEXT process that runs
    the audit. Probed with a real subprocess that registers staging
    dirs and is SIGKILLed; reap_dead_runs() must remove its run root
    (and a legacy r12-style pid-suffixed dir), leave live-pid and
    persistent-cache entries alone, and live_foreign_runs() must
    attribute the live ones."""
    import os
    import signal
    import subprocess
    import sys
    import time

    from kinesis_adapter_spark import staging

    # a victim process that stages dirs then sleeps (never reaches atexit)
    code = (
        "import os, sys, time\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "import tempfile\n"
        f"tempfile.tempdir = {str(tmp_path)!r}\n"
        "from kinesis_adapter_spark import staging\n"
        "staging.ephemeral_dir('kas_test_eph_')\n"
        "from pathlib import Path\n"
        "staging.staged(Path(staging.run_root()) / 'kas_test_pid', [], Path.mkdir)\n"
        "print('ready', flush=True)\n"
        "time.sleep(300)\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", code], stdout=subprocess.PIPE, text=True
    )
    assert proc.stdout.readline().strip() == "ready"
    victim_root = tmp_path / f"kas_run_{proc.pid}"
    assert victim_root.is_dir()
    # legacy r12-era pid-suffixed dir owned by the (soon dead) victim
    legacy = tmp_path / f"kas_buckets_sf0_01_{proc.pid}"
    legacy.mkdir()
    # NON-pid trailing digits (ADVICE r13): an sf-fragment suffix
    # (leading zero) and an implausibly small number must parse as
    # no-owner — never reaped (pid 1 is always alive, so the old
    # pattern ALSO reported them as a live concurrent run forever),
    # never attributed as foreign
    nonpid_sf = tmp_path / "kas_buckets_sf0_01"
    nonpid_sf.mkdir()
    nonpid_small = tmp_path / "kas_x_7"
    nonpid_small.mkdir()
    # entries that must survive: persistent caches, and a live owner
    (tmp_path / "kas_derived").mkdir()
    (tmp_path / "kas_scale_x32").mkdir()
    live = tmp_path / f"kas_run_{os.getpid()}"
    live.mkdir(exist_ok=True)

    # while the victim is ALIVE its dirs are concurrent, not reapable
    assert staging.reap_dead_runs(str(tmp_path)) == []
    foreign = staging.live_foreign_runs(str(tmp_path))
    assert victim_root.name in foreign and legacy.name in foreign
    assert nonpid_sf.name not in foreign and nonpid_small.name not in foreign

    proc.send_signal(signal.SIGKILL)
    proc.wait()
    time.sleep(0.1)
    reaped = staging.reap_dead_runs(str(tmp_path))
    assert victim_root.name in reaped and legacy.name in reaped
    assert not victim_root.exists() and not legacy.exists()
    for survivor in (
        "kas_derived",
        "kas_scale_x32",
        live.name,
        nonpid_sf.name,
        nonpid_small.name,
    ):
        assert (tmp_path / survivor).exists(), survivor
    assert staging.live_foreign_runs(str(tmp_path)) == []


def test_oracle_sql_for_repoints_staged_artifact_paths():
    """tests.oracle.oracle_sql_for (VERDICT r11 item #4) must rewrite
    every DERIVED_ROOT/sf0.01 artifact path to the requested sf's
    staging dir — and stay a no-op at sf0.01 (the driver's verbatim
    gate) and for oracles with no staged paths. Tracks DERIVED_ROOT so
    a DERIVED_VERSION bump cannot silently strand the rewrite."""
    from kinesis_adapter_spark.sources.scans import DERIVED_ROOT
    from tests.oracle import oracle_sql_for

    _registry()
    from kinesis_adapter_spark.plans.registry import ORACLES

    staged = [k for k, sql in ORACLES.items() if str(DERIVED_ROOT) in sql]
    assert staged, "no artifact-reading oracles found?"
    for key in staged:
        raw = ORACLES[key]
        assert f"{DERIVED_ROOT}/sf0.01/" in raw, key
        re01 = oracle_sql_for(key, "/root/testdata/sf0.01")
        assert re01 == raw, key  # verbatim at the driver's scale
        re1 = oracle_sql_for(key, "/root/testdata/sf0.1/")
        assert f"{DERIVED_ROOT}/sf0.1/" in re1, key
        assert f"{DERIVED_ROOT}/sf0.01/" not in re1, key
    # a plain-view oracle is untouched at any sf
    plain = oracle_sql_for("agg_sum_group", "/root/testdata/sf0.1")
    assert plain == ORACLES["agg_sum_group"]
