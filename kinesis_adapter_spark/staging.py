"""Self-cleaning per-run staging directories (VERDICT r11 item #2,
hardened r13 per VERDICT r12 item #1).

Per-invocation staging (streaming checkpoints, arrival-batch work
dirs) and per-process artifact caches (pid-keyed layout stagings)
used to leak one /tmp directory per process forever — the r11
adjudication's hygiene pass removed 8,266 of them, and that
accumulation is exactly the host-IO drift the bench's IO-heavy keys
(bm25_maintain / rag_retrieval / ivfpq) are exposed to.

The r12 design registered each path in-process and removed it at
interpreter exit (atexit). The driver's r12 end-of-round sweep proved
that is NOT sufficient: a sibling harness process that is killed
without running atexit (SIGKILL / os._exit — outside this repo's
control) leaves its registered dirs on disk, and a concurrently
running audit then records them as orphans it cannot clean
(REPLICA_r12.json: 16 orphan dirs, all owned by the dead pid 28034
or by random-suffix mkdtemp dirs with no owner encoded at all).

r13 therefore makes cleanup CONVENTION-BASED, not registration-based:

- every ephemeral path this process creates lives under ONE
  per-process root, ``/tmp/kas_run_<pid>/`` — so the owning pid is
  machine-readable from the top-level /tmp name alone;
- a registration MANIFEST file inside the run root records every
  path handed out, so a post-mortem can distinguish "registered but
  not cleaned" (cleanup bug) from "never registered" (caller bug);
- :func:`reap_dead_runs` removes any top-level ``kas_*`` entry whose
  encoded owner pid is dead — regardless of which process created it
  and whether that process ever ran its atexit hooks. The audit in
  tools/replica_check.py calls it, so one surviving process is
  enough to keep /tmp clean;
- entries owned by a LIVE foreign pid are left alone (they belong to
  a concurrently running sweep/bench and will be reaped once that
  pid dies) and are reported separately by
  :func:`live_foreign_runs` so the audit can record them without
  counting them as orphans.

Deliberately NOT parented under the run root (intentional cross-run
caches, bounded to one dir per scale tag, each guarded by a source
fingerprint): /tmp/kas_derived (staged fixtures + oracle artifacts)
and /tmp/kas_scale_x<N> (scale-smoke materializations).

Every cached artifact, cross-run or per-process, is made by ONE
primitive, :func:`staged`. The caller picks the lifetime by the
parent it passes: ``derived_dir(sf_dir)/<name>`` survives the run,
``run_root()/<name>`` goes with this process's root. Beside the
stable ``<name>`` sit the builds ``<name>@<fp16>`` (``fp16`` hashes
the :func:`source_fingerprint` of the artifact's sources), a
``.<name>.lock`` flock that serializes builders, and pid-tagged
``.<name>@<fp16>.tmp-<pid>`` build dirs; ``<name>`` is a symlink
re-pointed atomically at the newest build. A build is never deleted
or renamed over while it can be current, so a reader holding a
returned path cannot FileNotFound when another process rebuilds for
a changed source, and two first builders build once.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import re
import shutil
import tempfile
import threading
import time
from collections.abc import Callable, Iterable
from pathlib import Path

_LOCK = threading.Lock()
_REGISTERED: dict[str, None] = {}  # insertion-ordered set of paths

#: top-level /tmp names that are cross-run caches, never reaped
PERSISTENT_CACHES = ("kas_derived", "kas_scale_x")

#: kas_run_<pid> — the r13 per-process root convention
_RUN_ROOT_RE = re.compile(r"^kas_run_(\d+)$")
#: legacy r12-era pid-suffixed staging dirs (kas_buckets_sf0_01_28034).
#: ADVICE r13: the old ``^kas_.*_(\d+)$`` read ANY trailing digit run
#: as an owner pid — an sf-fragment name like kas_buckets_sf0_01
#: parsed as pid 1 (always alive ⇒ reported as a live concurrent run
#: forever and excluded from every audit), and a coincidental small
#: number could get a foreign dir rmtree'd. A plausible pid is 3-8
#: digits with no leading zero — real r12-era staging pids were all
#: ≥ 4 digits; sf fragments (01, 1, 001) never match.
_LEGACY_PID_RE = re.compile(r"^kas_.*_([1-9]\d{2,7})$")


def run_root() -> str:
    """This process's staging root, ``/tmp/kas_run_<pid>`` (created on
    first use). Everything :func:`ephemeral_dir` hands out and every
    process-lifetime :func:`staged` table lives under it, so the
    owning pid is readable from the /tmp listing and a later process
    can reap the whole root once this pid is dead."""
    root = Path(tempfile.gettempdir()) / f"kas_run_{os.getpid()}"
    root.mkdir(exist_ok=True)
    return _register(str(root))


def _manifest_note(path: str) -> None:
    """Append the handed-out path to the run root's MANIFEST so a
    post-mortem on a dead run can see what WAS registered (cleanup
    bug) vs what never was (caller bypassed staging)."""
    try:
        root = Path(tempfile.gettempdir()) / f"kas_run_{os.getpid()}"
        if path != str(root):
            with open(root / "MANIFEST", "a") as fh:
                fh.write(path + "\n")
    except OSError:
        pass  # manifest is diagnostics, never a failure path


def _register(path: str) -> str:
    with _LOCK:
        _REGISTERED[path] = None
    return path


def ephemeral_dir(prefix: str) -> str:
    """A fresh per-invocation staging dir (mkdtemp under this
    process's run root), removed at interpreter exit — and reapable
    by ANY later process once this pid is dead, even if exit hooks
    never ran. Drop-in for ``tempfile.mkdtemp(prefix=...)``."""
    d = _register(tempfile.mkdtemp(prefix=prefix, dir=run_root()))
    _manifest_note(d)
    return d


def ephemeral_file(path: str) -> str:
    """Register an ephemeral FILE (e.g. a moto put lock) for removal
    at interpreter exit."""
    p = _register(path)
    _manifest_note(p)
    return p


def registered_paths() -> set[str]:
    with _LOCK:
        return set(_REGISTERED)


def cleanup_now() -> list[str]:
    """Remove everything registered so far (including this process's
    run root); return what was removed. Idempotent — atexit calls it
    again harmlessly. replica_check calls it explicitly before
    computing its orphan audit (atexit would fire only after the
    artifact is written)."""
    with _LOCK:
        paths = list(_REGISTERED)
        _REGISTERED.clear()
    # children first, run root last, so the root rmtree is the backstop
    root = str(Path(tempfile.gettempdir()) / f"kas_run_{os.getpid()}")
    paths.sort(key=lambda p: p == root)
    removed = []
    for p in paths:
        try:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
            elif os.path.exists(p):
                os.unlink(p)
                removed.append(p)
        except OSError:
            pass  # a vanished or busy path must not break exit
    return removed


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def _owner_pid(name: str) -> int | None:
    """The pid encoded in a top-level kas_ entry name, if any:
    ``kas_run_<pid>`` (r13 convention) or the legacy r12
    ``kas_<...>_<pid>`` suffix. Persistent caches never match
    (kas_derived has no digit suffix; kas_scale_x32's digits are not
    underscore-separated)."""
    m = _RUN_ROOT_RE.match(name) or _LEGACY_PID_RE.match(name)
    return int(m.group(1)) if m else None


def reap_dead_runs(tmp_root: str | None = None) -> list[str]:
    """Remove every top-level ``kas_*`` entry owned by a DEAD pid —
    the convention-based cleanup that holds even when the creating
    process was killed without running atexit (the r12 driver-context
    failure). Live foreign pids are left alone (concurrent run);
    persistent caches are never touched. Returns the reaped names."""
    root = tmp_root or tempfile.gettempdir()
    reaped = []
    for name in sorted(os.listdir(root)):
        if not name.startswith("kas_") or name.startswith(PERSISTENT_CACHES):
            continue
        pid = _owner_pid(name)
        if pid is None or pid == os.getpid() or _pid_alive(pid):
            continue
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        reaped.append(name)
    return reaped


def live_foreign_runs(tmp_root: str | None = None) -> list[str]:
    """Top-level ``kas_*`` entries owned by a LIVE pid other than this
    process — a concurrently running sweep/bench. The audit records
    them for attribution but must not count them as orphans (they are
    reaped by convention once their owner dies)."""
    root = tmp_root or tempfile.gettempdir()
    me = os.getpid()
    out = []
    for name in sorted(os.listdir(root)):
        if not name.startswith("kas_") or name.startswith(PERSISTENT_CACHES):
            continue
        pid = _owner_pid(name)
        if pid is not None and pid != me and _pid_alive(pid):
            out.append(name)
    return out


#: a stale build younger than this is kept: a reader in another
#: process may still hold it
REAP_GRACE_SEC = 1800.0


def source_fingerprint(sources: Iterable[Path]) -> str:
    """Identity of an artifact's SOURCE data: names, sizes and mtimes
    of every file under each source path (a file or a directory).
    Artifact names key by sf basename, so a rebuilt source at the same
    path (regenerated test tables, or scale_smoke re-materializing
    /tmp/kas_scale_xN) must change this value or every later run is
    served stale data (the ADVICE-r4 drift class)."""
    parts = []
    for src in map(Path, sources):
        files = [src] if src.is_file() else sorted(src.rglob("*"))
        files = [p for p in files if p.is_file()]
        for p in files:
            st = p.stat()
            parts.append(f"{p.name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _remove(p: Path) -> None:
    if p.is_dir() and not p.is_symlink():
        shutil.rmtree(p, ignore_errors=True)
    else:
        p.unlink(missing_ok=True)


def _link_target(link: Path) -> str | None:
    try:
        return os.readlink(link)
    except OSError:
        return None


def staged(
    path: Path, sources: Iterable[Path], build: Callable[[Path], object]
) -> Path:
    """The build of artifact ``path`` for the current ``sources``,
    built by ``build(tmp)`` if there is none yet; returns the resolved
    ``<name>@<fp16>`` path, never the ``<name>`` symlink, so a frame
    read from it cannot re-resolve to another build after a swap.
    ``build`` must create the artifact (a file or a directory) at
    exactly ``tmp``; its content must follow from the sources alone.

    A hit is one lock-free readlink compare. On a miss, under a flock
    on ``.<name>.lock``: build into ``.<name>@<fp16>.tmp-<pid>``
    unless another process already did, rename it to ``<name>@<fp16>``,
    re-point the ``<name>`` symlink at it (``os.replace`` of a fresh
    link), then reap stale builds of the name.

    Reaping deletes a stale ``<name>@*`` build, or the tmp of a dead
    builder, only once it is older than :data:`REAP_GRACE_SEC` and no
    other live kas run exists on this host. A frame THIS process still
    holds on a build older than the grace is NOT protected (pinned by
    tests/test_catalog.py::test_reap_same_process_window_is_documented_behavior):
    a build only goes stale when the bytes under its sources change,
    which for the test tables and scale_smoke dirs never happens during
    an engine run. A deployment with in-run-mutable sources must tie
    the grace to its own run root's liveness."""
    path = Path(path)
    tag = hashlib.md5(source_fingerprint(sources).encode()).hexdigest()[:16]
    final = path.with_name(f"{path.name}@{tag}")
    if _link_target(path) == final.name:
        return final
    with open(path.with_name(f".{path.name}.lock"), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not final.exists():
            tmp = path.with_name(f".{final.name}.tmp-{os.getpid()}")
            try:
                build(tmp)
                os.rename(tmp, final)
            except OSError:
                _remove(tmp)
                if not final.exists():  # not a builder that ignored the lock
                    raise
            except BaseException:
                _remove(tmp)
                raise
        if _link_target(path) != final.name:
            link = path.with_name(f".{path.name}@link.tmp-{os.getpid()}")
            link.unlink(missing_ok=True)
            os.symlink(final.name, link)
            os.replace(link, path)
        _reap(path, keep=final)
    return final


def _reap(path: Path, keep: Path) -> None:
    """Delete stale builds of ``path`` and tmps of dead builders under
    the grace rules of :func:`staged`."""
    stem = glob.escape(path.name)
    candidates = [p for p in path.parent.glob(f"{stem}@*") if p != keep]
    for p in path.parent.glob(f".{stem}@*.tmp-*"):
        owner = p.name.rsplit("-", 1)[-1]
        if owner.isdigit() and not _pid_alive(int(owner)):
            candidates.append(p)
    now = time.time()
    old = []
    for p in candidates:
        try:
            if now - p.lstat().st_mtime >= REAP_GRACE_SEC:
                old.append(p)
        except OSError:
            continue  # raced another reaper
    if old and not live_foreign_runs():
        for p in old:
            _remove(p)


atexit.register(cleanup_now)
