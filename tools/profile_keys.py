"""Optimization profiler: targeted timing and plan dumps. (Not named
``profile.py``: in ``tools/`` that name shadows the stdlib ``profile``
module, which pyspark imports through cProfile, for every script here.)

Usage:
    python tools/profile_keys.py KEY [KEY...] [--runs N] [--plan TAG] [--round N]
    python tools/profile_keys.py --sf /root/testdata/sf0.01 ...

Times each registry key exactly the way bench.py does (one warm-up
then median of N timed ``collect()`` runs on the bench session confs),
so A/B numbers are directly comparable to BENCH_*.json entries.
``--runs 0`` skips the timing (and the warm-up).

``--plan TAG --round N`` additionally writes
``plans/r<N>/<key>_<TAG>.txt`` with the ``explain('formatted')`` output
of the declared frame (the before/after evidence of round N). That
frame is built with ``KAS_ITER_PLAN_DUMP`` set to the directory (not
the timed ones), so graph_pagerank /
graph_label_propagation also dump their PRE-materialization loop plans
(the staged-result read the key returns hides them).

Special key: ``lsh_pair_agg`` is the shipped dedup_lsh_tuning
aggregation path — ``_lsh_tuning_pair_agg`` over the staged
capped-shingle artifact read, exactly what that key collects from.
"""

from __future__ import annotations

import argparse
import io
import os
import statistics
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules  # noqa: E402
from kinesis_adapter_spark.session import build_spark  # noqa: E402


def frame(spark, key: str, sf: str):
    if key == "lsh_pair_agg":
        from kinesis_adapter_spark.operators.llmops import (
            _lsh_tuning_pair_agg,
            capped_shingle_table,
        )

        sh = spark.read.parquet(capped_shingle_table(spark, sf))
        return _lsh_tuning_pair_agg(spark, sf, shingles=sh)
    return QUERIES[key](spark, sf)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plan", default=None, help="dump plans/r<N>/<key>_<TAG>.txt")
    ap.add_argument("--round", type=int, default=None, help="N of plans/r<N>/")
    args = ap.parse_args()
    if args.plan and args.round is None:
        ap.error("--plan needs --round")

    spark = build_spark(app_name="kas-profile", shuffle_partitions=8)
    load_all_modules()
    plan_dir = ROOT / "plans" / f"r{args.round}"

    for key in args.keys:
        spark.sparkContext.setJobDescription(f"profile:{key}")
        if args.runs > 0:
            t0 = time.perf_counter()
            frame(spark, key, args.sf).collect()  # warm-up (staging, code paths)
            warm = time.perf_counter() - t0
            samples = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                frame(spark, key, args.sf).collect()
                samples.append(time.perf_counter() - t0)
            print(
                f"{key}: median {statistics.median(samples):.4f}s  "
                f"(warm-up {warm:.4f}s, runs {[round(s, 4) for s in samples]})",
                flush=True,
            )
        if args.plan:
            plan_dir.mkdir(parents=True, exist_ok=True)
            os.environ["KAS_ITER_PLAN_DUMP"] = str(plan_dir)
            buf = io.StringIO()
            try:
                with redirect_stdout(buf):
                    frame(spark, key, args.sf).explain("formatted")
            finally:
                del os.environ["KAS_ITER_PLAN_DUMP"]
            dest = plan_dir / f"{key}_{args.plan}.txt"
            dest.write_text(buf.getvalue())
            print(f"  plan -> {dest.relative_to(ROOT)}", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
