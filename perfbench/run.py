"""Benchmark of the S3 → Structured Streaming → Kinesis path and the registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kinesis_backfill --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object ``{correct, attempted,
failed, metrics}``. With ``--trace 0`` the metrics are the end-to-end
ones of ``BENCHMARK.json``; with ``--trace 1`` they are the per-layer
ones, and the spans are written to ``.perfbench/traces/``. See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
PORT = 5123  # kinesis_adapter_spark.sources.aws._PORT
TABLES_ENV = "SPARK_GRAFT_SF_DIR"
MB = 2**20
# A bounded heap keeps the container small and the peak memory steady;
# the default (16g) lets the heap grow by a different amount each run.
DRIVER_MEM = "2g"


def since_process_start() -> float:
    """Seconds since this process started, by the kernel's clock."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(b")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


class Emulator:
    """The moto process of ``emulator.py``, driven over its stdin/stdout."""

    def __init__(self, port: int):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "emulator.py"), "--port", str(port)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def wait_ready(self) -> None:
        if self.proc.stdout.readline().strip() != "ready":
            self.proc.wait(timeout=30)
            raise RuntimeError(f"emulator did not start (exit {self.proc.returncode})")

    def stats(self) -> dict:
        self.proc.stdin.write("stats\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.close()
            except BrokenPipeError:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class Bench:
    """State one run shares with its workload."""

    def __init__(self, args, root: Path):
        self.root = root
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_id = f"{os.getpid()}-{int(time.time() * 1000) % 10**8}"
        self.work = root / ".perfbench" / "runs" / self.run_id
        from tests.oracle import SF_BENCH  # the repository's sf0.1 tables

        self.tables_src = Path(os.environ.get(TABLES_ENV, SF_BENCH))
        self.tables_dir: Path | None = None
        self.streams: list[str] = []
        self.extra_layers: dict[str, float] = {}
        self.setup_s: float | None = None
        self.spark = None
        self.emulator: Emulator | None = None
        self.progress = None
        self.store = None
        self.tracer = None

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    # -- set-up -----------------------------------------------------------

    def prepare_env(self) -> None:
        """Pin cores, point workers at the checkout and keep temporary files
        inside the run directory."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        cpus = str(len(os.sched_getaffinity(0)))
        path = [str(self.root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update({
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(path),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(self.work / "spark-local"),
        })
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def start(self) -> None:
        from spans import StageStore, Tracer

        t_emu = time.time()
        self.emulator = Emulator(PORT)
        t0 = time.time()
        from kinesis_adapter_spark.session import build_spark

        self.spark = build_spark(app_name=f"perfbench-{self.workload}")
        t1 = time.time()
        self.extra_layers["session.build_s"] = t1 - t0
        self.emulator.wait_ready()  # it started while the JVM did
        self.store = StageStore(self.spark) if self.trace else None
        self.tracer = Tracer(False, self.store)
        if self.trace:
            self.tracer.add("session.build", None, t0, t1)
            self.tracer.add("emulator.start", None, t_emu, time.time())

    def setup_done(self) -> None:
        self.setup_s = since_process_start()
        self.log(f"set-up done after {self.setup_s:.2f} s")

    def set_tracing(self, on: bool) -> None:
        """Record spans and streaming progress, or stop recording them."""
        from spans import Progress

        if on and self.progress is None:
            self.progress = Progress()
            self.spark.streams.addListener(self.progress)
        elif not on and self.progress is not None:
            self.spark.streams.removeListener(self.progress)
            self.progress = None
        self.tracer.enabled = on

    def flush_listeners(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    # -- measuring ----------------------------------------------------------

    def measure(self, one_pass):
        """Run ``one_pass`` and add to the stats it returns the CPU and peak
        memory of the program's process tree while it ran."""
        from proctree import PeakPss, cpu_s, tree

        exclude = frozenset({self.emulator.proc.pid})
        me = os.getpid()
        cpu0 = cpu_s(tree(me, exclude))
        mem = PeakPss(me, exclude).start()
        try:
            stats = one_pass()
        finally:
            peak = mem.stop()
        stats.cpu_s = cpu_s(tree(me, exclude)) - cpu0
        stats.peak_pss = peak
        return stats

    # -- tear-down ----------------------------------------------------------

    def close(self) -> None:
        """Stop every query, the JVM and its workers and the emulator, and
        remove what the run left behind."""
        from proctree import alive, descendants

        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        started = descendants(os.getpid())
        if self.spark is not None:
            try:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
            except Exception:
                # a run interrupted inside a py4j call leaves the gateway
                # unusable; the JVM is ended below all the same
                traceback.print_exc()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    gw.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait()
        if self.emulator is not None:
            self.emulator.stop()
        _wait_gone(started, alive)
        shutil.rmtree(self.work, ignore_errors=True)
        if self.tables_dir is not None:
            from kinesis_adapter_spark.sources.scans import DERIVED_ROOT

            shutil.rmtree(DERIVED_ROOT / self.tables_dir.name, ignore_errors=True)
        for stream in self.streams:
            Path(f"/tmp/kas_moto_put.{stream}.lock").unlink(missing_ok=True)


def _wait_gone(pids: set[int], alive, timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; kill what is left at the deadline."""
    deadline = time.time() + timeout_s
    while pids and time.time() < deadline:
        pids = {p for p in pids if alive(p)}
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------------ metrics


def end_to_end(bench: Bench, outcome) -> dict:
    from workloads import median, quantile

    passes = outcome.passes
    lat = [x for p in passes for x in p.latencies]
    return {
        "setup_s": (bench.setup_s, "s"),
        "pass_s": (median(p.wall_s for p in passes), "s"),
        "records_per_s": (median(p.records / p.wall_s for p in passes), "records/s"),
        "delivery_p50_s": (quantile(lat, 0.5), "s"),
        "delivery_p90_s": (quantile(lat, 0.9), "s"),
        "cpu_s": (median(p.cpu_s for p in passes), "s"),
        "peak_pss_mb": (median(p.peak_pss for p in passes) / MB, "MB"),
    }


def per_layer(bench: Bench, outcome) -> dict:
    from workloads import median

    spans = bench.tracer.spans
    stages: dict[int, dict] = {}
    for p in outcome.passes:
        sp = spans[p.span]
        stages.update(bench.store.stages(sp["stages_from"], sp["stages_to"]))
    bench.tracer.attach_stages(stages)

    rows = []
    for p in outcome.passes:
        sp = spans[p.span]
        agg = sp["stage_sums"]
        trig = [s for s in spans if s["name"] == "streaming.trigger" and s.get("pass_span") == sp["id"]]
        dur = lambda key: sum(t["duration_ms"].get(key, 0) for t in trig) / 1e3  # noqa: E731
        row = dict(p.layers)
        row.update({
            "spark.jobs": sp["jobs"],
            "spark.stages": agg["stages"],
            "spark.tasks": agg["tasks"],
            "spark.task_run_s": agg["task_run_s"],
            "spark.task_cpu_s": agg["task_cpu_s"],
            "spark.task_deser_s": agg["task_deser_s"],
            "spark.gc_s": agg["gc_s"],
            "spark.shuffle_write_mb": agg["shuffle_write_mb"],
            "spark.spill_mb": agg["spill_mb"],
            "spark.outside_jvm_s": agg["task_run_s"] - agg["task_cpu_s"],
            "streaming.triggers": len(trig),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.trigger_overhead_s": dur("triggerExecution") - dur("addBatch"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.wal_commit_s": dur("walCommit") + dur("commitOffsets"),
        })
        for key, kspan in p.key_spans.items():
            row[f"registry.{key}.stages"] = spans[kspan]["stage_sums"]["stages"]
            row[f"registry.{key}.tasks"] = spans[kspan]["stage_sums"]["tasks"]
        rows.append(row)

    units = layer_metrics()
    out = {}
    for name, unit in units.items():
        out[name] = (median(r[name] for r in rows if name in r), unit)
    for name, value in bench.extra_layers.items():
        out[name] = (value, units[name])
    out["failed_frac"] = (outcome.failed / outcome.attempted, "ratio")
    return out


def layer_metrics() -> dict[str, str]:
    from workloads import SWEEP_KEYS

    names = {
        "session.build_s": "s",
        "staging.cold_extra_s": "s",
        "kinesis_sink.calls": "count",
        "kinesis_sink.busy_s": "s",
        "kinesis_sink.us_per_record": "us",
        "kinesis_sink.call_p50_s": "s",
        "kinesis_sink.growth": "ratio",
        "aws.create_stream_s": "s",
        "aws.put_calls": "count",
        "aws.put_records": "count",
        "aws.put_retried_frac": "ratio",
        "aws.emulator_cpu_s": "s",
        "aws.drain_s": "s",
        "streaming.triggers": "count",
        "streaming.add_batch_s": "s",
        "streaming.trigger_overhead_s": "s",
        "streaming.latest_offset_s": "s",
        "streaming.wal_commit_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_run_s": "s",
        "spark.task_cpu_s": "s",
        "spark.task_deser_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.outside_jvm_s": "s",
        "gen.files": "count",
        "gen.late_p90_s": "s",
        "failed_frac": "ratio",
        "trace.overhead_s": "s",
    }
    for key in SWEEP_KEYS:
        names[f"staging.{key}.cold_extra_s"] = "s"
        names[f"registry.{key}.build_s"] = "s"
        names[f"registry.{key}.action_s"] = "s"
        names[f"registry.{key}.stages"] = "count"
        names[f"registry.{key}.tasks"] = "count"
    return names


# --------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "kinesis_adapter_spark" / "__init__.py").is_file():
        print(f"no kinesis_adapter_spark package under {root}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(root)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench = Bench(args, root)
    if args.workload == "registry_sweep" and not bench.tables_src.is_dir():
        print(f"tables not found at {bench.tables_src}; set {TABLES_ENV}", file=sys.stderr)
        return 2
    bench.prepare_env()
    # SIGTERM exits through the finally below, so the JVM, the emulator
    # and the run directory do not outlive the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench.start()
        outcome = WORKLOADS[args.workload](bench)
        if args.trace:
            metrics = per_layer(bench, outcome)
            bench.tracer.write(root / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json")
        else:
            metrics = end_to_end(bench, outcome)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t0 = time.perf_counter()
        bench.close()
        bench.log(f"tear-down took {time.perf_counter() - t0:.2f} s")
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
