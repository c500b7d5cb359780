"""Quality gates for approximate operators (SURVEY.md §5.5): the
oracle can't hash-check approximations, so pytest bounds their error
against the exact implementations.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules
from tests.oracle import SF_TEST

load_all_modules()


def test_approx_distinct_within_tolerance(spark):
    """Raw HLL++ estimate within ±5% of truth (via the private frame —
    the registered key now emits the bound CHECK, r15), and the
    registered surface's within_bound must read all-true with exacts
    matching the independent exact key."""
    from kinesis_adapter_spark.operators.aggregates import (
        _approx_distinct_frame,
    )

    raw = {
        r["event_type"]: (r["approx_users"], r["exact_users"])
        for r in _approx_distinct_frame(spark, SF_TEST).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in QUERIES["agg_count_distinct"](spark, SF_TEST).collect()
    }
    assert raw.keys() == exact.keys()
    for k in exact:
        a, e = raw[k]
        assert e == exact[k]
        assert abs(a - e) / e <= 0.05, (k, a, e)
    for r in QUERIES["agg_approx_distinct"](spark, SF_TEST).collect():
        assert r["within_bound"] is True and r["rel_err_bound"] == 0.05
        assert r["exact_users"] == exact[r["event_type"]]


def test_approx_percentile_within_tolerance(spark):
    """Raw sketch p50/p90/p99 must sit within 2% relative error of
    exact quantiles (via the private frame — the registered key now
    emits the rank-error bracket CHECK, r15), and the registered
    surface's *_ok booleans must read all-true."""
    import duckdb

    from kinesis_adapter_spark.operators.aggregates import (
        _approx_percentile_frame,
    )

    approx = {
        r["o_orderstatus"]: (r["p50"], r["p90"], r["p99"])
        for r in _approx_percentile_frame(spark, SF_TEST).collect()
    }
    con = duckdb.connect()
    exact = {
        s: (p50, p90, p99)
        for s, p50, p90, p99 in con.execute(
            "SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5),"
            " quantile_cont(o_totalprice, 0.9), quantile_cont(o_totalprice, 0.99)"
            f" FROM read_parquet('{SF_TEST}/orders.parquet') GROUP BY o_orderstatus"
        ).fetchall()
    }
    assert approx.keys() == exact.keys()
    for s in exact:
        for a, e in zip(approx[s], exact[s]):
            assert abs(a - e) / e <= 0.02, (s, a, e)
    for r in QUERIES["agg_approx_percentile"](spark, SF_TEST).collect():
        assert r["p50_ok"] and r["p90_ok"] and r["p99_ok"], r
        assert r["p50_lo"] <= r["p50_hi"] <= r["p90_lo"] <= r["p99_hi"]


def test_minhash_recall_vs_exact(spark):
    """MinHash+LSH (8×4 bands) must recover ≥90% of the true ≥0.6-
    Jaccard pairs and report the identical exact-verified scores."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_near_ngram"](spark, SF_TEST).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_near_minhash"](spark, SF_TEST).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    assert lsh.keys() <= exact.keys(), "LSH pairs are exact-verified — no false positives"
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f} ({len(lsh)}/{len(exact)})"
    for pair, j in lsh.items():
        assert j == exact[pair]


def test_simhash_finds_mutated_neardups(spark):
    """Every mutated doc (id+2e6) should be hamming-close to its
    source; simhash-with-blocking must surface a decent fraction."""
    pairs = QUERIES["dedup_simhash"](spark, SF_TEST).collect()
    hits = {
        (r["doc_a"], r["doc_b"]) for r in pairs if r["doc_b"] - r["doc_a"] == 2_000_000
    }
    n_mutated = len([p for p in pairs]) and None  # noqa: F841 (readability)
    import pyarrow.parquet as pq

    n_sources = len(
        [d for d in pq.read_table(f"{SF_TEST}/documents.parquet").column("doc_id").to_pylist() if d % 7 == 0]
    )
    assert len(hits) / n_sources >= 0.5, f"{len(hits)}/{n_sources} mutated pairs found"


def test_ann_ivf_recall_vs_brute_force(spark):
    """nprobe=4 of 10 Voronoi cells currently recovers 7/10 exact
    neighbors on this corpus (random 64-d vectors are a worst case for
    coarse quantization — real embedding corpora cluster far better)."""
    exact = [r["vec_id"] for r in QUERIES["sim_topk"](spark, SF_TEST).collect()]
    approx = [r["vec_id"] for r in QUERIES["ann_ivf_topk"](spark, SF_TEST).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.7, f"IVF recall@10 = {recall}"


def test_hll_mergeable_estimates_within_tolerance(spark):
    """agg_hll_mergeable: every per-type estimate within ±5% of its
    exact count, and the UNIONED global estimate within ±5% of the
    true global distinct — the union must not double-count users
    active in several event types. Raw estimates come from the
    private frame (the registered key now emits the bound CHECK,
    r15); the registered surface must read all-true."""
    from kinesis_adapter_spark.operators.aggregates import (
        _hll_mergeable_frame,
    )

    rows = {
        r["event_type"]: r
        for r in _hll_mergeable_frame(spark, SF_TEST).collect()
    }
    for et, r in rows.items():
        assert abs(r["estimate"] - r["exact"]) <= 0.05 * r["exact"], r
    truth = (
        spark.read.parquet(f"{SF_TEST}/events.parquet")
        .select(F.count_distinct("user_id").alias("n"))
        .collect()[0]["n"]
    )
    assert rows["__all__"]["exact"] == truth
    glob = rows["__all__"]["estimate"]
    # union ≪ sum of per-type counts (users overlap across types)
    assert glob < sum(r["exact"] for et, r in rows.items() if et != "__all__")
    for r in QUERIES["agg_hll_mergeable"](spark, SF_TEST).collect():
        assert r["within_bound"] is True and r["rel_err_bound"] == 0.05, r


def test_observe_metrics_match_data(spark):
    """observed_quality_gate: the observe() metrics collected during
    the single pass must equal independently-computed ground truth —
    rows_seen = full table count, chars_seen = full char sum."""
    from kinesis_adapter_spark.operators.projections import observed_quality_gate

    QUERIES["observed_quality_gate"](spark, SF_TEST).collect()
    obs = observed_quality_gate.last_observation.get
    truth = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
            F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("nulls"),
        )
        .collect()[0]
    )
    assert obs["rows_seen"] == truth["n"]
    assert obs["chars_seen"] == truth["chars"]
    assert obs["null_lang"] == truth["nulls"]


def test_ivf_partitioned_probe_matches_inflight_ivf(spark):
    """The written-layout probe (ann_ivf_partitioned) and the in-flight
    probe (ann_ivf_topk) share the Lloyd assignment, so they must
    return the identical top-10 — the layout changes WHERE the cells
    live, never what the probe returns."""
    a = sorted(map(tuple, QUERIES["ann_ivf_topk"](spark, SF_TEST).collect()))
    b = sorted(map(tuple, QUERIES["ann_ivf_partitioned"](spark, SF_TEST).collect()))
    assert a == b


def test_embedding_cosine_blocking_agrees_at_high_threshold(spark):
    """Sign-bit blocking at threshold 0.9: every injected scaled copy
    (vec_id+1M, cosine ≈ 1.0 with its source) must be found — blocking
    cannot miss them since scaling preserves the sign pattern — and no
    symmetric/duplicate/false pairs may appear."""
    rows = QUERIES["dedup_embedding_cosine"](spark, SF_TEST).collect()
    seen = set()
    for r in rows:
        assert r["sim"] >= 0.9
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) not in seen
        seen.add((r["id_a"], r["id_b"]))
    import pyarrow.parquet as pq

    sources = [
        v
        for v in pq.read_table(f"{SF_TEST}/embeddings.parquet")
        .column("vec_id")
        .to_pylist()
        if v % 10 == 0
    ]
    assert sources, "fixture must inject near-dups"
    for v in sources:
        assert (v, v + 1_000_000) in seen, f"injected pair for {v} missed"


def test_pandas_cosine_matches_hof_cosine(spark):
    """The Arrow/numpy cosine and the JVM HOF cosine must agree to
    1e-9 on every vector (two independent implementations)."""
    hof = QUERIES["sim_topk"](spark, SF_TEST)
    pd_udf = QUERIES["udf_pandas_vectorized"](spark, SF_TEST)
    joined = (
        pd_udf.alias("p")
        .join(hof.alias("h"), F.col("p.vec_id") == F.col("h.vec_id"))
        .select(F.abs(F.col("p.sim") - F.col("h.sim")).alias("d"))
        .agg(F.max("d"))
        .collect()[0][0]
    )
    assert joined <= 1e-9


def test_greedy_packing_invariants(spark):
    """The greedy packer has no SQL oracle (sequential reset), so pin
    its contract directly: every doc packed exactly once; no pack
    exceeds the budget unless it holds a single oversized doc; pack
    ids per language are contiguous from 0; and packing is greedy —
    the first doc of pack k+1 would NOT have fit into pack k."""
    from kinesis_adapter_spark.operators.curation import BUDGET

    rows = QUERIES["pack_sequences_greedy"](spark, SF_TEST).collect()
    docs = QUERIES["pack_sequences_window"](spark, SF_TEST).collect()
    assert len(rows) == len(docs)  # every doc exactly once
    assert len({r["doc_id"] for r in rows}) == len(rows)

    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["doc_id"])
        packs: dict[int, int] = {}
        for r in rs:
            packs[r["pack_id"]] = packs.get(r["pack_id"], 0) + r["tokens"]
        assert sorted(packs) == list(range(len(packs))), lang  # contiguous
        counts: dict[int, int] = {}
        for r in rs:
            counts[r["pack_id"]] = counts.get(r["pack_id"], 0) + 1
        for pid, total in packs.items():
            assert total <= BUDGET or counts[pid] == 1, (lang, pid, total)
        # greedy: first doc of each later pack overflows the previous
        prev_totals = packs
        for i, r in enumerate(rs[1:], 1):
            if r["pack_id"] != rs[i - 1]["pack_id"]:
                assert prev_totals[rs[i - 1]["pack_id"]] + r["tokens"] > BUDGET, (
                    lang, r["doc_id"],
                )



def test_stream_hll_rollup_matches_exact_distincts(spark):
    """stream_hll_rollup: per-type and global estimates from the
    incrementally-maintained sketch tier must sit within ±5% of the
    exact distinct counts, with multiple sketches actually merged per
    type (several micro-batches) and no double-counting of users
    active in many batches/types."""
    from kinesis_adapter_spark.streaming.pipelines import (
        _stream_hll_rollup_frame,
    )

    rows = {
        r["event_type"]: r
        for r in _stream_hll_rollup_frame(spark, SF_TEST).collect()
    }
    ev = spark.read.parquet(f"{SF_TEST}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = ev.select(F.count_distinct("user_id")).collect()[0][0]
    assert set(rows) == set(exact) | {"__all__"}
    for et, truth in exact.items():
        est = rows[et]["est_users"]
        assert abs(est - truth) <= 0.05 * truth, (et, est, truth)
    assert rows["__all__"]["n_sketches"] > len(exact) - 1  # >1 batch per type merged
    # registered surface (bound-checked as of r15): all-true, exacts match
    for r in QUERIES["stream_hll_rollup"](spark, SF_TEST).collect():
        assert r["within_bound"] is True and r["rel_err_bound"] == 0.05, r
        assert r["exact_users"] == exact[r["event_type"]]


def test_ann_range_threshold_off_rounding_boundary(spark):
    """ADVICE r4: ann_range_search filters on a 6-decimal-rounded
    cosine computed independently on Spark and DuckDB; a raw similarity
    within ~1e-6 of the 0.3 threshold could round differently across
    the two float paths and flip a row in/out of the result. Pin the
    data property the oracle parity relies on: at oracle SF no raw
    similarity lands within 5e-6 of the boundary. If the fixtures
    regenerate and violate this, fail HERE with a name, not as an
    opaque driver hash mismatch."""
    from kinesis_adapter_spark.catalog import load
    from kinesis_adapter_spark.operators.embeddings_ops import cosine

    e = load(spark, SF_TEST, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    gap = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.abs(cosine(F.col("embedding"), F.col("qv")) - F.lit(0.3)).alias("g")
        )
        .agg(F.min("g").alias("min_gap"))
        .first()
    )
    assert gap.min_gap > 5e-6, (
        f"a similarity sits {gap.min_gap} from the 0.3 threshold — "
        "rounding may disagree across engines; move the threshold or "
        "regenerate fixtures"
    )


def test_contamination_lsh_recall_complete_on_fixture(spark):
    """ADVICE r5: contamination_minhash's oracle equality rests on LSH
    recall being ~1 for every true pair; at exactly j=0.6 a 16-band ×
    2-row family misses with p ≈ 8e-4, so a regenerated fixture with a
    borderline pair could diverge from the oracle with no code change.

    Rather than a probability argument, verify recall DIRECTLY (the
    advice's alternative): the banded candidate set must be a superset
    of the brute-force true-pair set on the current fixture. If
    regenerated fixtures ever produce a pair the band family misses,
    THIS test fails with the pair named instead of surfacing as an
    opaque driver hash mismatch. False positives can't occur (every
    candidate is verified with exact Jaccard before emission), so
    superset-recall here + the exact filter = oracle equality.

    Also documents the current margin: min true-pair Jaccard is ~0.70
    (miss p ≈ 0.51¹⁶ ≈ 2e-5/pair) — comfortably recallable but worth
    tracking, hence the ≥ 0.65 floor."""
    from kinesis_adapter_spark.operators.llmops import (
        CAPPED_SHINGLE_CTES,
        MUTATED_SQL,
        banded_signatures,
        minhash_signature_table,
    )
    from tests.oracle import duck_connect

    con = duck_connect(SF_TEST)
    try:
        true_rows = con.execute(
            f"""
            WITH docs AS ({MUTATED_SQL}),
            {CAPPED_SHINGLE_CTES},
            inter AS (
              SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS c
              FROM shing a JOIN shing b ON a.s = b.s
              WHERE a.doc_id < 2000000 AND b.doc_id >= 2000000
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT i.doc_id, i.bench_id,
                   CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) AS j
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_id
            JOIN sizes sb ON sb.doc_id = i.bench_id
            WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.6
            """
        ).fetchall()
    finally:
        con.close()
    assert true_rows, "fixture no longer produces any true contamination pair"
    min_true_j = min(r[2] for r in true_rows)
    assert min_true_j >= 0.65, (
        f"a true pair sits at Jaccard {min_true_j} — too close to the "
        "0.6 LSH recall cliff; raise the band count or fix the fixture"
    )

    sig = spark.read.parquet(minhash_signature_table(spark, SF_TEST))
    cand = (
        banded_signatures(sig.filter(F.col("doc_id") < 2_000_000))
        .join(
            banded_signatures(sig.filter(F.col("doc_id") >= 2_000_000)).select(
                F.col("doc_id").alias("bench_id"), "band", "sig"
            ),
            ["band", "sig"],
        )
        .select("doc_id", "bench_id")
        .distinct()
        .collect()
    )
    cand_set = {(r.doc_id, r.bench_id) for r in cand}
    missed = [(a, b, j) for a, b, j in true_rows if (a, b) not in cand_set]
    assert not missed, f"LSH missed true pairs: {missed}"


def test_quantile_gate_keeps_singleton_language(spark):
    """r5 review: percent_rank of a 1-row partition is 0, which would
    silently delete any language with a single document — the exact
    failure the per-stratum gate exists to prevent. cume_dist gives
    the singleton 1.0; pin that a 1-doc language always survives."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(1, "en", 100), (2, "en", 50), (3, "rare", 10)],
        "doc_id long, lang string, quality long",
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    kept = (
        df.withColumn("cd", F.cume_dist().over(w))
        .filter(F.col("cd") > 0.5)
        .select("doc_id")
    )
    ids = {r.doc_id for r in kept.collect()}
    assert 3 in ids, "singleton language was dropped by the gate"
    assert 1 in ids and 2 not in ids  # top half of 'en' only


def test_interpolation_semantics(spark):
    """Behavioral contract for ts_interpolate_linear beyond the hash:
    observed hours echo their own (rounded) hourly mean; interpolated
    hours lie strictly between their surrounding observations' values
    (linear fill can't overshoot its endpoints) and form an arithmetic
    progression inside each gap (constant slope)."""
    rows = QUERIES["ts_interpolate_linear"](spark, SF_TEST).collect()
    assert rows and any(not r["observed"] for r in rows)
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for seq in by_user.values():
        # grid contract: dense hourly, first/last observed
        assert seq[0]["observed"] and seq[-1]["observed"]
        gap: list = []
        prev_obs = None
        for r in seq:
            if r["observed"]:
                if gap and prev_obs is not None:
                    lo = min(prev_obs, r["v_interp"])
                    hi = max(prev_obs, r["v_interp"])
                    vals = [g["v_interp"] for g in gap]
                    assert all(lo - 1e-6 <= v <= hi + 1e-6 for v in vals)
                    steps = [b - a for a, b in zip(
                        [prev_obs, *vals], [*vals, r["v_interp"]])]
                    assert max(steps) - min(steps) < 1e-4, steps
                gap = []
                prev_obs = r["v_interp"]
            else:
                gap.append(r)


def test_welch_ttest_matches_reference_formula(spark):
    """Recompute Welch's t and the Satterthwaite dof in plain Python
    from the raw fixture values; the operator must agree to 1e-4 —
    guards the algebraic expansion against sign/ordering regressions
    that a self-consistent oracle (same expansion text) can't catch."""
    import duckdb

    [r] = QUERIES["agg_ttest_welch"](spark, SF_TEST).collect()
    con = duckdb.connect()
    vals = {
        t: [v for (v,) in con.execute(
            "SELECT value FROM read_parquet("
            f"'{SF_TEST}/events.parquet') WHERE event_type = '{t}'"
        ).fetchall()]
        for t in ("click", "purchase")
    }
    import statistics

    n1, n2 = len(vals["click"]), len(vals["purchase"])
    m1, m2 = statistics.fmean(vals["click"]), statistics.fmean(vals["purchase"])
    se1 = statistics.variance(vals["click"]) / n1
    se2 = statistics.variance(vals["purchase"]) / n2
    t_ref = (m1 - m2) / (se1 + se2) ** 0.5
    dof_ref = (se1 + se2) ** 2 / (se1**2 / (n1 - 1) + se2**2 / (n2 - 1))
    assert r["n_click"] == n1 and r["n_purchase"] == n2
    assert abs(r["t_stat"] - t_ref) < 1e-4, (r["t_stat"], t_ref)
    assert abs(r["welch_dof"] - dof_ref) < 1e-4, (r["welch_dof"], dof_ref)


def test_entropy_gini_bounds(spark):
    """Entropy in [0, ln(n_langs)]; Gini in [0, 1-1/n_langs]; both 0
    iff monolingual — the closed-form bounds of the two diversity
    measures."""
    import math

    rows = QUERIES["agg_entropy_gini"](spark, SF_TEST).collect()
    assert rows
    for r in rows:
        k = r["n_langs"]
        assert -1e-9 <= r["entropy_nats"] <= math.log(k) + 1e-9, r
        assert -1e-9 <= r["gini_impurity"] <= 1 - 1 / k + 1e-9, r
        if k == 1:
            assert r["entropy_nats"] == 0 and r["gini_impurity"] == 0


def test_mann_whitney_matches_reference(spark):
    """Recompute U and z from raw values with a plain-Python midrank
    implementation; the compressed-domain aggregate must agree to
    1e-6 (U is integer-valued up to ties) / 1e-4 (z)."""
    import duckdb

    [r] = QUERIES["agg_mann_whitney"](spark, SF_TEST).collect()
    con = duckdb.connect()
    pooled = con.execute(
        "SELECT value, event_type FROM read_parquet("
        f"'{SF_TEST}/events.parquet') WHERE event_type IN ('click','purchase')"
    ).fetchall()
    vals = sorted(v for v, _ in pooled)
    # midrank per value (1-based)
    first = {}
    cnt = {}
    for i, v in enumerate(vals):
        first.setdefault(v, i + 1)
        cnt[v] = cnt.get(v, 0) + 1
    mid = {v: first[v] + (cnt[v] - 1) / 2 for v in cnt}
    r1 = sum(mid[v] for v, t in pooled if t == "click")
    n1 = sum(1 for _, t in pooled if t == "click")
    n2 = len(pooled) - n1
    u1 = r1 - n1 * (n1 + 1) / 2
    z = (u1 - n1 * n2 / 2) / (n1 * n2 * (n1 + n2 + 1) / 12) ** 0.5
    assert r["n_click"] == n1 and r["n_purchase"] == n2
    assert abs(r["u_click"] - u1) < 1e-6, (r["u_click"], u1)
    assert abs(r["u_click"] + r["u_purchase"] - n1 * n2) < 1e-6
    assert abs(r["z_stat"] - z) < 1e-4, (r["z_stat"], z)


def test_ks_test_matches_reference(spark):
    """Recompute the two-sample KS D from raw values in plain Python;
    the compressed-domain windows must agree to 1e-6."""
    import duckdb

    [r] = QUERIES["agg_ks_test"](spark, SF_TEST).collect()
    con = duckdb.connect()
    pooled = con.execute(
        "SELECT value, event_type FROM read_parquet("
        f"'{SF_TEST}/events.parquet') WHERE event_type IN ('click','purchase')"
    ).fetchall()
    a = sorted(v for v, t in pooled if t == "click")
    b = sorted(v for v, t in pooled if t == "purchase")
    import bisect

    d = max(
        abs(bisect.bisect_right(a, v) / len(a) - bisect.bisect_right(b, v) / len(b))
        for v in set(a) | set(b)
    )
    assert r["n_click"] == len(a) and r["n_purchase"] == len(b)
    assert abs(r["d_stat"] - d) < 1e-6, (r["d_stat"], d)
    lam = d * (len(a) * len(b) / (len(a) + len(b))) ** 0.5
    assert abs(r["ks_lambda"] - lam) < 1e-4


def test_autocorr_matches_reference(spark):
    """Recompute lag-1 Pearson r from the rounded hourly means in
    plain Python; the power-sum expansion must agree to 1e-6, and
    every r must be a valid correlation (|r| <= 1)."""
    import duckdb
    import statistics

    rows = {
        r["event_type"]: r
        for r in QUERIES["ts_autocorr_lag1"](spark, SF_TEST).collect()
    }
    con = duckdb.connect()
    hourly = con.execute(
        "SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,"
        " ROUND(AVG(value), 6) FROM read_parquet("
        f"'{SF_TEST}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict = {}
    for t, _, v in hourly:
        series.setdefault(t, []).append(v)
    for t, vs in series.items():
        x, y = vs[1:], vs[:-1]
        r_ref = statistics.correlation(x, y)
        r = rows[t]
        assert r["n_pairs"] == len(x)
        assert abs(r["autocorr_lag1"]) <= 1.0 + 1e-9
        assert abs(r["autocorr_lag1"] - r_ref) < 1e-6, (t, r["autocorr_lag1"], r_ref)


def test_gini_matches_reference_and_lorenz(spark):
    """Recompute the Gini coefficient from raw per-customer revenues
    in plain Python (rank formula); must agree to 1e-6, sit in [0,1),
    and be consistent with pareto_concentration's Lorenz deciles
    (G from decile cum-shares approximates it from below within the
    decile discretization error)."""
    import duckdb

    [r] = QUERIES["agg_gini_coefficient"](spark, SF_TEST).collect()
    con = duckdb.connect()
    revs = sorted(
        v
        for (v,) in con.execute(
            "SELECT SUM(o_totalprice) FROM read_parquet("
            f"'{SF_TEST}/orders.parquet') GROUP BY o_custkey"
        ).fetchall()
    )
    n = len(revs)
    g_ref = 2 * sum((i + 1) * x for i, x in enumerate(revs)) / (
        n * sum(revs)
    ) - (n + 1) / n
    assert r["n_custs"] == n
    assert 0 <= r["gini"] < 1
    assert abs(r["gini"] - g_ref) < 1e-6, (r["gini"], g_ref)


def test_benford_shares_form_distribution(spark):
    """Digits 1..9 all present; observed and Benford shares each sum
    to 1 (within rounding); chi2 terms non-negative."""
    rows = QUERIES["agg_benford_digits"](spark, SF_TEST).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1) < 1e-4
    assert abs(sum(r["benford_share"] for r in rows) - 1) < 1e-4
    assert all(r["chi2_term"] >= 0 for r in rows)


def test_runs_test_matches_reference(spark):
    """Recompute run counts and the z statistic from the rounded
    hourly means in plain Python; exact integers must match and z
    must agree to 1e-6."""
    import duckdb

    rows = {
        r["event_type"]: r
        for r in QUERIES["agg_runs_test"](spark, SF_TEST).collect()
    }
    con = duckdb.connect()
    hourly = con.execute(
        "SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,"
        " ROUND(AVG(value), 6) FROM read_parquet("
        f"'{SF_TEST}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict = {}
    for t, _, v in hourly:
        series.setdefault(t, []).append(v)
    for t, vs in series.items():
        mu = sum(vs) / len(vs)
        s = [1 if v > mu else 0 for v in vs]
        runs = 1 + sum(a != b for a, b in zip(s, s[1:]))
        n, n1 = len(s), sum(s)
        n2 = n - n1
        mean_r = 1 + 2 * n1 * n2 / n
        var_r = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
        z = (runs - mean_r) / var_r**0.5
        r = rows[t]
        assert (r["n_hours"], r["n_above"], r["n_below"], r["n_runs"]) == (
            n, n1, n2, runs,
        ), t
        assert abs(r["z_stat"] - z) < 1e-6, (t, r["z_stat"], z)


def test_stop_shingle_cap_bounds_adversarial_universal_shingle(spark):
    """VERDICT r5 item #5a: the sub-linear scaling of every shingle-
    blocked dedup op (containment 8.5x at 32x, ngram, minhash verify)
    rests ENTIRELY on the stop-shingle df cap. Adversarial fixture: a
    3-gram present in EVERY one of 300 docs. Without the cap the
    inverted-index join would emit C(300,2) = 44 850 candidate pairs
    from that one bucket; with it the universal shingle must be
    dropped (df 300 > cap 5 at this corpus size) and every surviving
    bucket obeys df <= cap, so worst-case candidates <= C(cap,2) *
    n_buckets. A regression in the cap formula fails here fast instead
    of surfacing as a scale-smoke blowup next round."""
    from kinesis_adapter_spark.operators.llmops import (
        STOP_SHINGLE_ABS,
        capped_shingles,
    )

    docs = spark.createDataFrame(
        [(i, f"common shared phrase u{i}x u{i}y u{i}z") for i in range(300)],
        "doc_id long, text string",
    )
    surv = capped_shingles(docs)
    df_by_shingle = surv.groupBy("s").count()
    max_df = df_by_shingle.agg(F.max("count")).first()[0]
    assert max_df <= STOP_SHINGLE_ABS, f"a bucket survived with df={max_df}"
    assert (
        df_by_shingle.filter(F.col("s") == "common shared phrase").count() == 0
    ), "the universal shingle must be stop-listed"
    # end-to-end: the candidate join over surviving shingles stays tiny
    a = surv.select(F.col("doc_id").alias("da"), "s")
    b = surv.select(F.col("doc_id").alias("db"), "s")
    n_cand = a.join(b, "s").filter(F.col("da") < F.col("db")).count()
    assert n_cand == 0, f"{n_cand} candidate pairs from unique-tail shingles"


def test_fuzzy_blocking_bounded_on_duplicate_name_group(spark):
    """VERDICT r5 item #5b: fuzzy_match_names' 28x output-linearity
    claim rests on (1) array_distinct collapsing repeated-character
    deletion variants and (2) the candidate distinct running on narrow
    id pairs BEFORE verify. Adversarial roster: ONE name (with a
    6-zero run, the real fixture's worst shape) shared by 100
    customers plus 50 distinct tails. The duplicate group's TRUE match
    count is C(100,2) = 4 950 — quadratic in the group is the correct
    OUTPUT — but the candidate table must be exactly that set, not
    multiplied by the ~13 shared variants per pair (x13 work
    amplification into levenshtein) nor by repeated-zero deletion
    multiplicity."""
    from kinesis_adapter_spark.operators.curation import (
        deletion_variants,
        variant_candidate_pairs,
    )

    dup = [(i, "Customer#000000016") for i in range(100)]
    tails = [(1000 + i, f"Customer#9{i:08d}") for i in range(50)]
    c = spark.createDataFrame(dup + tails, "id long, name string")

    variants = deletion_variants(c)
    name_len = len("Customer#000000016")
    per_id = variants.groupBy("id").count()
    max_variants = per_id.agg(F.max("count")).first()[0]
    # 18-char name with a 6-zero run: <= len+1 raw, strictly fewer
    # after array_distinct (the run collapses); a regression that
    # re-multiplies deletions fails this bound
    assert max_variants <= name_len + 1 - 5, max_variants

    pairs = variant_candidate_pairs(variants)
    # the duplicate group (ids < 1000) must produce EXACTLY C(100,2)
    # candidate rows — one per id pair, though each pair shares ~13
    # variants; a multiplicity leak would show up as a 13x inflation
    # feeding levenshtein (tail names may legitimately add a bounded
    # number of distance-2 candidate collisions; verify rejects those)
    n_dup_pairs = pairs.filter((F.col("id_a") < 1000) & (F.col("id_b") < 1000)).count()
    n_true = 100 * 99 // 2
    assert n_dup_pairs == n_true, (
        f"dup-group candidates {n_dup_pairs} != C(100,2) {n_true} — "
        "blocking is inflating (multiplicity leak) or missing true dups"
    )
    n_pairs = pairs.count()
    assert pairs.distinct().count() == n_pairs
    assert n_pairs <= n_true + 1000, f"tail collisions unbounded: {n_pairs}"


def test_mutual_information_within_entropy_bounds(spark):
    """Information-theoretic sanity: 0 <= I(X;Y) <= min(H(X), H(Y)),
    with the entropies computed independently here from the same
    binning — a sign error or marginal/joint mixup violates one of the
    bounds immediately."""
    import math

    mi = QUERIES["agg_mutual_information"](spark, SF_TEST).first()["mi_nats"]
    rows = (
        spark.read.parquet(f"{SF_TEST}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("x"),
            F.floor(F.col("value") / 50).cast("long").alias("y"),
        )
        .collect()
    )
    from collections import Counter

    n = len(rows)

    def entropy(vals):
        c = Counter(vals)
        return -sum((k / n) * math.log(k / n) for k in c.values())

    hx = entropy([r.x for r in rows])
    hy = entropy([r.y for r in rows])
    assert -1e-9 <= mi <= min(hx, hy) + 1e-9, (mi, hx, hy)


def test_survival_km_invariants(spark):
    """Kaplan-Meier structure over session durations: survival is in
    [0, 1] and NON-INCREASING, the risk set is non-increasing in
    duration, d ≥ 1 on every emitted row, the first risk set equals
    the TOTAL subject count minus nothing (every session has duration
    ≥ the smallest bucket), and S matches an independently-computed
    product at every step."""
    rows = QUERIES["survival_km"](spark, SF_TEST).collect()
    assert rows
    prev_s, prev_risk = 1.0 + 1e-9, float("inf")
    s_running = 1.0
    for r in rows:
        assert r["n_risk"] <= prev_risk, r
        assert 0.0 <= r["survival"] <= prev_s + 1e-9, r
        assert r["d"] >= 1
        s_running *= 1.0 - r["d"] / r["n_risk"]
        assert abs(r["survival"] - round(s_running, 6)) <= 2e-6, (
            r,
            s_running,
        )
        prev_s, prev_risk = r["survival"], r["n_risk"]


def test_dp_counts_reproducible_and_noisy(spark):
    """Seeded DP noise must be identical across executions (keyed PRF,
    not rand()) while actually perturbing: at least one group's
    released value differs from its true count."""
    a = {r["event_type"]: r["dp_n"]
         for r in QUERIES["anonymize_dp_counts"](spark, SF_TEST).collect()}
    b = {r["event_type"]: r["dp_n"]
         for r in QUERIES["anonymize_dp_counts"](spark, SF_TEST).collect()}
    assert a == b, "noise must be deterministic per released statistic"
    true = {r["event_type"]: r["true_n"]
            for r in QUERIES["anonymize_dp_counts"](spark, SF_TEST).collect()}
    assert any(abs(a[k] - true[k]) > 1e-9 for k in a)


def test_pca_projection_matches_numpy_reference(spark):
    """emb_pca_project (fully oracled since r7 via the published
    rounded-component artifact) against a from-scratch numpy PCA
    computed here on the collected corpus: projections must agree to
    1e-4 (the artifact rounds μ and the components to 6 dp before
    projecting, perturbing a 64-term dot product by up to
    ~d·5e-7·(Σ|w|+Σ|x−μ|) ≈ 5e-5; the reference here is unrounded),
    per-component variances must be non-increasing (top of the
    spectrum first), and two runs must be identical (unique
    partition-id-sorted partial combination makes the float sums
    deterministic — r6 advisory)."""
    import numpy as np

    def run():
        return {
            r["vec_id"]: [r[f"p{j}"] for j in range(8)]
            for r in QUERIES["emb_pca_project"](spark, SF_TEST).collect()
        }

    out1 = run()
    out2 = run()
    assert out1 == out2, "PCA must be run-deterministic"

    rows = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r["vec_id"] for r in rows]
    X = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    Xc = X - X.mean(axis=0)
    cov = (X.T @ X) / len(X) - np.outer(X.mean(axis=0), X.mean(axis=0))
    w, v = np.linalg.eigh(cov)
    comps = v[:, ::-1][:, :8]
    for j in range(8):
        k = int(np.abs(comps[:, j]).argmax())
        if comps[k, j] < 0:
            comps[:, j] = -comps[:, j]
    ref = Xc @ comps
    got = np.array([out1[i] for i in ids])
    assert np.abs(got - ref).max() < 1e-4, np.abs(got - ref).max()
    # orthonormal components => projected covariance is diagonal with
    # non-increasing variances
    var = got.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(7)), var


def test_gram_ops_survive_short_documents(spark):
    """r6 review: greatest(n-k, 0) does NOT guard Spark's sequence() —
    sequence(1, 0) yields the DESCENDING [1, 0] and element_at(tk, 0)
    raises under ANSI, so a document shorter than the gram width
    crashed the engine while DuckDB returned zero grams. Drive the
    exact expressions the two gram ops use over 0/1/4-token docs and
    require zero grams, not an exception."""
    short = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a b c d"), (4, "a b c d e f")],
        "doc_id long, text string",
    )
    from kinesis_adapter_spark.operators.llmops import (
        BIGRAM_WINDOW_EXPR,
        KGRAM5_WINDOW_EXPR,
    )

    tk = short.select("doc_id", F.split("text", " ").alias("tk"))
    kgrams = tk.select(
        "doc_id", F.explode(F.expr(KGRAM5_WINDOW_EXPR)).alias("g")
    ).collect()
    assert {r.doc_id for r in kgrams} == {4}, kgrams
    bigrams = tk.select(
        "doc_id", F.explode(F.expr(BIGRAM_WINDOW_EXPR)).alias("b")
    ).collect()
    assert {r.doc_id for r in bigrams} == {3, 4}  # "" splits to [""] (size 1)


def test_bootstrap_ci_brackets_true_mean(spark):
    """The 95% bootstrap CI must bracket the true per-type mean (with
    32 replicates over thousands of rows, a miss means the weighting
    or replicate aggregation is wrong, not bad luck), be strictly
    ordered lo < mean-ish < hi, and have nonzero width."""
    rows = {r["event_type"]: r
            for r in QUERIES["agg_bootstrap_ci"](spark, SF_TEST).collect()}
    truth = {
        r["event_type"]: r["m"]
        for r in spark.read.parquet(f"{SF_TEST}/events.parquet")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"))
        .collect()
    }
    assert rows.keys() == truth.keys()
    for et, r in rows.items():
        assert r["ci_lo"] < r["ci_hi"], r
        assert r["ci_lo"] <= truth[et] <= r["ci_hi"], (r, truth[et])
        assert abs(r["boot_mean"] - truth[et]) < (r["ci_hi"] - r["ci_lo"]), r


def test_bpe_train_matches_pure_python_reference(spark):
    """vocab_bpe_train against a from-scratch pure-Python BPE trained
    here on the collected word-frequency table (independent code: dict
    of symbol tuples, explicit adjacent-pair counting, greedy
    left-to-right merge application) — every round's chosen pair AND
    its weighted count must agree, which pins the argmax tiebreak, the
    greedy merge semantics, and the type-weighted counting all at
    once."""
    from collections import Counter

    from kinesis_adapter_spark.operators.llmops import BPE_MERGES

    got = [
        (r["merge_rank"], r["sym_a"], r["sym_b"], r["pair_freq"])
        for r in QUERIES["vocab_bpe_train"](spark, SF_TEST).collect()
    ]
    assert len(got) == BPE_MERGES

    import re

    docs = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("text")
        .collect()
    )
    freq = Counter()
    for r in docs:
        for w in re.split(r"[^a-z]+", r["text"].lower()):
            if re.fullmatch(r"[a-z]+", w):
                freq[tuple(w)] += 1

    ref = []
    words = dict(freq)
    for k in range(1, BPE_MERGES + 1):
        pc = Counter()
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((k, a, b, n))
        merged = {}
        for syms, cnt in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            merged[t] = merged.get(t, 0) + cnt
        words = merged
    assert got == ref, (got[:4], ref[:4])

    # the encode key must tokenize every doc to exactly the reference
    # token counts under the same merge table
    tok_len = {"".join(syms): len(syms) for syms in words}
    enc = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in QUERIES["vocab_bpe_encode"](spark, SF_TEST).collect()
    }
    docs2 = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    for r in docs2:
        ws = [
            w
            for w in re.split(r"[^a-z]+", r["text"].lower())
            if re.fullmatch(r"[a-z]+", w)
        ]
        if not ws:
            assert r["doc_id"] not in enc
            continue
        assert enc[r["doc_id"]] == (len(ws), sum(tok_len[w] for w in ws)), r[
            "doc_id"
        ]


def test_unigram_train_matches_pure_python_reference(spark):
    """vocab_unigram_train against a STRUCTURALLY INDEPENDENT
    pure-Python hard-EM trainer (ADVICE r10: the first cut's
    viterbi()/r6() replicated _uni_viterbi/_rnd6_half_away, so a
    shared DP or rounding bug would have passed) — the segmenter here
    ENUMERATES every segmentation of each word into vocab pieces
    (lengths 1..UNI_PIECE_MAX; ≤ tetranacci(12)=1490 candidates per
    word) and picks the argmax under the documented tie order (score
    DESC, then piece lengths longest-first read from the END of the
    word — the order a backward DP reconstruction realizes), and the
    6-dp rounding goes through decimal.Decimal quantization of the
    exact double (ROUND_HALF_UP) instead of the float
    multiply-floor path. Every output row (piece, weighted usage
    count, rounded log-prob) must agree EXACTLY, which pins the
    seeding cutoff, the Viterbi tiebreak, the frozen-vocab floor, and
    the half-away 6-dp rounding all at once — now against genuinely
    different code paths for all four."""
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from kinesis_adapter_spark.operators.llmops import (
        UNI_EM_ROUNDS,
        UNI_FLOOR,
        UNI_MAX_WLEN,
        UNI_PIECE_MAX,
        UNI_SEED_TOP,
    )

    got = [
        (r["piece"], r["n_used"], r["logprob"])
        for r in QUERIES["vocab_unigram_train"](spark, SF_TEST).collect()
    ]
    assert got, "empty piece table"

    docs = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("text")
        .collect()
    )
    freq: Counter = Counter()
    for r in docs:
        for w in re.split(r"[^a-z]+", r["text"].lower()):
            if re.fullmatch(r"[a-z]+", w) and len(w) <= UNI_MAX_WLEN:
                freq[w] += 1

    sub: Counter = Counter()
    for w, f in freq.items():
        for i in range(len(w)):
            for ln in range(1, UNI_PIECE_MAX + 1):
                if i + ln <= len(w):
                    sub[w[i : i + ln]] += f
    multi = sorted(
        ((p, n) for p, n in sub.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:UNI_SEED_TOP]
    seed = {p: n for p, n in sub.items() if len(p) == 1}
    seed.update(dict(multi))
    total = sum(seed.values())

    def r6(x: float) -> float:
        # exact-decimal half-up quantization of the double's TRUE value
        # (a binary double's decimal expansion never lands exactly on a
        # .5 ulp of 1e-6, so HALF_UP here is plain nearest — the
        # implementation's float-multiply path must agree or it has a
        # boundary bug)
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    lp = {p: r6(math.log(n / total)) for p, n in seed.items()}

    def _all_segs(w: str) -> list:
        """Every segmentation of ``w`` into in-vocab pieces of length
        1..UNI_PIECE_MAX (plain recursion — no DP, no backpointers)."""
        if not w:
            return [[]]
        segs = []
        for ln in range(1, min(UNI_PIECE_MAX, len(w)) + 1):
            if w[:ln] in lp:
                segs.extend([w[:ln]] + rest for rest in _all_segs(w[ln:]))
        return segs

    def viterbi(w: str) -> list:
        # argmax by brute-force enumeration: score is the left-to-right
        # float accumulation (the order any sequential scorer uses);
        # ties go to the segmentation whose piece lengths, read from
        # the END of the word, are lexicographically longest — the
        # documented tiebreak (a backward reconstruction keeps the
        # longest final piece, then recurses on the prefix)
        best, best_key = None, None
        for seg in _all_segs(w):
            s = 0.0
            for pc in seg:
                s = s + lp[pc]
            key = (s, tuple(len(pc) for pc in reversed(seg)))
            if best_key is None or key > best_key:
                best, best_key = seg, key
        assert best is not None, w  # total: every single char is seeded
        return best

    cnt: Counter = Counter()
    for _ in range(UNI_EM_ROUNDS):
        cnt = Counter()
        for w, f in freq.items():
            for pc in viterbi(w):
                cnt[pc] += f
        total = sum(cnt.values())
        lp = {
            p: (r6(math.log(cnt[p] / total)) if cnt.get(p) else UNI_FLOOR)
            for p in lp
        }

    ref = sorted(
        ((p, int(n), r6(math.log(n / total))) for p, n in cnt.items() if n),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == ref, (got[:5], ref[:5])
    # structural sanity: log-probs are proper (negative, exp-sum ≈ 1 —
    # exactly 1 before the 6-dp rounding, so the tolerance is the
    # rounding budget |pieces| * 5e-7 with slack)
    assert all(n > 0 and l < 0 for _, n, l in got)
    assert abs(sum(math.exp(l) for _, _, l in got) - 1.0) < 1e-4

    # the encode key must segment every doc to exactly the reference
    # token counts under the FINAL lp (one more E-step, no M-step) —
    # the vocab_bpe_encode consumer-half check
    tok_len = {}
    enc = {
        r["doc_id"]: (r["n_words"], r["n_unigram_tokens"])
        for r in QUERIES["vocab_unigram_encode"](spark, SF_TEST).collect()
    }
    docs2 = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    for r in docs2:
        ws = [
            w
            for w in re.split(r"[^a-z]+", r["text"].lower())
            if re.fullmatch(r"[a-z]+", w) and len(w) <= UNI_MAX_WLEN
        ]
        if not ws:
            assert r["doc_id"] not in enc
            continue
        for w in set(ws) - set(tok_len):
            tok_len[w] = len(viterbi(w))
        assert enc[r["doc_id"]] == (
            len(ws),
            sum(tok_len[w] for w in ws),
        ), r["doc_id"]


def test_semantic_dedup_drops_exactly_the_injected_copies(spark):
    """Fixture-level recall for pipeline_semantic_dedup: the corpus is
    base vectors ∪ 1.001-scaled copies of every 10th vector, and random
    64-d pairs sit far below the 0.9 cosine gate — so the drop set must
    be EXACTLY the injected copies: each copy shares its source's
    cluster (same direction ⇒ same Voronoi cell on this fixture) and
    loses the quality tie on the higher id. Totals are checked per the
    audit's own arithmetic."""
    rows = QUERIES["pipeline_semantic_dedup"](spark, SF_TEST).collect()
    assert rows
    e = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    n_base = e.count()
    n_injected = e.filter("vec_id % 10 = 0").count()
    assert sum(r["n_vecs"] for r in rows) == n_base + n_injected
    assert sum(r["n_dropped"] for r in rows) == n_injected
    for r in rows:
        assert r["n_kept"] == r["n_vecs"] - r["n_dropped"], r


def test_semantic_dedup_ivf_drops_exactly_the_injected_copies(spark):
    """Fixture-level recall for the IVF-routed variant: a 1.001-scaled
    copy makes the same two-level routing decisions as its source
    (same direction ⇒ same coarse cell, then same cell-local fine
    seed on this fixture's margins), so the drop set must again be
    EXACTLY the injected copies — the nprobe=1 approximation loses no
    recall here, which is the fixture-level form of the SemDeDup
    claim that routing approximations only reshuffle cluster
    boundaries, not near-dup co-membership."""
    rows = QUERIES["pipeline_semantic_dedup_ivf"](spark, SF_TEST).collect()
    assert rows
    e = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    n_base = e.count()
    n_injected = e.filter("vec_id % 10 = 0").count()
    assert sum(r["n_vecs"] for r in rows) == n_base + n_injected
    assert sum(r["n_dropped"] for r in rows) == n_injected
    for r in rows:
        assert r["n_kept"] == r["n_vecs"] - r["n_dropped"], r


def test_ivf_two_level_assign_matches_bruteforce_reference(spark):
    """Independent reference for _ivf_two_level_assign: a pure-python
    double loop (no numpy broadcasting, no shared helpers) replays the
    two-level routing — coarse argmin over 6-dp-rounded distances with
    lowest-id ties, then fine argmin restricted to the winner cell's
    routed seeds — on a small deterministic frame, and every Spark
    assignment row must match it exactly."""
    from kinesis_adapter_spark.operators.embeddings_ops import (
        _ivf_two_level_assign,
    )

    # deterministic synthetic vectors: no randomness, varied geometry
    vecs = {
        i: [((i * 7 + j * 13) % 29) / 7.0 - 2.0 for j in range(8)]
        for i in range(40)
    }
    k, kc = 9, 3

    def d2(a, b):
        return round(sum((x - y) ** 2 for x, y in zip(a, b)), 6)

    seeds = {i: [round(x, 6) for x in vecs[i]] for i in range(k)}
    coarse = {i: seeds[i] for i in range(kc)}
    froute = {}
    for f in seeds:
        best = min(coarse, key=lambda c: (d2(seeds[f], coarse[c]), c))
        froute[f] = best
    expected = {}
    for vid, v in vecs.items():
        cell = min(coarse, key=lambda c: (d2(v, coarse[c]), c))
        members = [f for f in seeds if froute[f] == cell]
        expected[vid] = min(members, key=lambda f: (d2(v, seeds[f]), f))

    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, x array<double>"
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in _ivf_two_level_assign(df, k=k, kc=kc).collect()
    }
    assert got == expected


def test_bleu_corpus_matches_pure_python_reference(spark):
    """Independent reference for eval_bleu_corpus: a pure-python
    Counter-based corpus BLEU over the same pair fixture — per-pair
    clipped n-gram overlaps (n=1..4), corpus-summed precisions,
    brevity penalty, uniform-weight geometric mean — replicating the
    engines' IEEE expression order, Decimal-half-up rounded, must
    reproduce every published column exactly."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    rows = QUERIES["eval_bleu_corpus"](spark, SF_TEST).collect()
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").select(
        "doc_id", "lang", "text"
    ).collect()

    def grams(ws, n):
        return Counter(
            tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)
        )

    agg: dict[str, dict] = {}
    for d in docs:
        if d["doc_id"] % 7 != 0:
            continue
        rt = d["text"].split(" ")
        ct = rt[: max(len(rt) - 2, 0)] + [rt[0]]
        a = agg.setdefault(
            d["lang"],
            {"n": 0, "lr": 0, "lc": 0, "o": [0] * 5, "t": [0] * 5},
        )
        a["n"] += 1
        a["lr"] += len(rt)
        a["lc"] += len(ct)
        for n in range(1, 5):
            gr, gc = grams(rt, n), grams(ct, n)
            a["o"][n] += sum(min(c, gr.get(g, 0)) for g, c in gc.items())
            a["t"][n] += max(len(ct) - n + 1, 0)

    assert {r["lang"] for r in rows} == set(agg) and rows
    for r in rows:
        a = agg[r["lang"]]
        assert (r["n_pairs"], r["ref_len"], r["cand_len"]) == (
            a["n"],
            a["lr"],
            a["lc"],
        ), r
        ps = [
            (a["o"][n] / a["t"][n]) if a["t"][n] > 0 else 0.0
            for n in range(1, 5)
        ]
        for n in range(1, 5):
            assert r[f"p{n}"] == r6(ps[n - 1]), (r, n)
        bp = (
            1.0
            if a["lc"] > a["lr"]
            else math.exp(1.0 - a["lr"] / a["lc"])
        )
        assert r["brevity_penalty"] == r6(bp), r
        if min(ps) > 0:
            gm = math.exp(
                0.25 * math.log(ps[0])
                + 0.25 * math.log(ps[1])
                + 0.25 * math.log(ps[2])
                + 0.25 * math.log(ps[3])
            )
            assert r["bleu"] == r6(bp * gm), r
        else:
            assert r["bleu"] == 0.0, r


def test_pass_at_k_matches_combinatorial_reference(spark):
    """Independent reference for eval_pass_at_k: recompute every task's
    n/c by pure-python counting over the raw events, then check the
    published pass@10 two ways — (a) STRUCTURALLY against the exact
    combinatorial estimator 1 - C(n-c,10)/C(n,10) via math.comb and
    Fraction (a completely different formula path; agreement within
    1e-9 of the float product), and (b) EXACTLY against a python
    replication of the same left-associated IEEE product the key's
    shared expression runs, rounded Decimal-half-up. pass@1 must be
    exactly round(c/n, 6)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    rows = QUERIES["eval_pass_at_k"](spark, SF_TEST).collect()
    ev = spark.read.parquet(f"{SF_TEST}/events.parquet").select(
        "event_type", "user_id", "value"
    ).collect()
    n_of: dict[tuple, int] = {}
    c_of: dict[tuple, int] = {}
    for e in ev:
        key = (e["event_type"], e["user_id"] % 10)
        n_of[key] = n_of.get(key, 0) + 1
        if e["value"] >= 60.0:
            c_of[key] = c_of.get(key, 0) + 1
    assert len(rows) == len(n_of) and rows
    for r in rows:
        key = (r["event_type"], r["task_bucket"])
        n, c = n_of[key], c_of.get(key, 0)
        assert (r["n_samples"], r["n_correct"]) == (n, c), r
        assert r["pass_at_1"] == r6(c / n), r
        if n < 10:
            assert r["pass_at_10"] is None, r
            continue
        if n - c < 10:
            assert r["pass_at_10"] == 1.0, r
            continue
        # (a) exact combinatorial estimator, different formula path —
        # the published value is 6-dp rounded, so agreement is within
        # one grid step of the exact ratio
        exact = 1 - Fraction(math.comb(n - c, 10), math.comb(n, 10))
        assert abs(r["pass_at_10"] - float(exact)) < 1.1e-6, (r, exact)
        # (b) bit-exact replication of the shared IEEE product
        prod = 1.0
        for i in range(10):
            prod = prod * ((n - c - i) / (n - i))
        assert r["pass_at_10"] == r6(1.0 - prod), r


def test_cosine_pair_chunks_matches_bruteforce_reference():
    """Independent reference for _cosine_pair_chunks — the ONE shared
    core behind every per-group vectorized pair stage
    (dedup_embedding_cosine + both SemDeDup keys): a pure-python
    double loop over a deterministic synthetic block must produce the
    identical (i, j, sim) set for several tau values. ids are
    deliberately NOT in row order, so the ids[i] < ids[j] orientation
    is exercised independently of matrix position."""
    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import (
        _cosine_pair_chunks,
    )

    rng_free = [
        [((i * 13 + j * 7) % 23) / 5.0 - 2.0 for j in range(16)]
        for i in range(60)
    ]
    m = np.array(rng_free)
    ids = np.array([i * 3 % 61 for i in range(60)], dtype=np.int64)
    nr = np.sqrt((m * m).sum(axis=1))

    for tau in (0.5, 0.8, 0.95):
        got = set()
        for gi, jj, sims in _cosine_pair_chunks(m, ids, nr, tau):
            for a, b, s in zip(gi, jj, sims):
                got.add((int(ids[a]), int(ids[b]), float(s)))
        expected = set()
        for i in range(60):
            for j in range(60):
                s = round(
                    float(np.dot(m[i], m[j]) / (nr[i] * nr[j])), 6
                )
                if s >= tau and ids[i] < ids[j]:
                    expected.add((int(ids[i]), int(ids[j]), s))
        assert got == expected, tau


def test_dsir_importance_matches_pure_python_reference(spark):
    """Independent reference for sample_dsir_importance: a pure-python
    reimplementation (hashlib.md5, dict counters, Decimal
    ROUND_HALF_UP for the engines' half-away-from-zero ROUND) of the
    whole estimator — hashed-bucket counts, smoothed log-ratios in
    6-dp micro-units, integer per-doc weights, the exact-count
    top-n//5 draw with md5 tie-break — must reproduce the key's
    per-lang audit exactly. Plus the estimator sanity check: the
    target lang ('en') must take the highest selection rate, and the
    selected counts must total exactly n_docs // 5."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from hashlib import md5 as pymd5

    rows = QUERIES["sample_dsir_importance"](spark, SF_TEST).collect()
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").select(
        "doc_id", "lang", "text"
    ).collect()

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    cr: dict[str, int] = {}
    ct: dict[str, int] = {}
    per_doc: dict[int, list[str]] = {}
    lang_of: dict[int, str] = {}
    for d in docs:
        fs = [
            pymd5(t.encode()).hexdigest()[:2]
            for t in d["text"].lower().split(" ")
            if t != ""
        ]
        per_doc[d["doc_id"]] = fs
        lang_of[d["doc_id"]] = d["lang"]
        for f in fs:
            cr[f] = cr.get(f, 0) + 1
            if d["lang"] == "en":
                ct[f] = ct.get(f, 0) + 1
    tr, tt = sum(cr.values()), sum(ct.values())
    lr6 = {
        f: int(
            Decimal(
                repr(
                    r6(
                        math.log((ct.get(f, 0) + 1.0) / (tt + 256.0))
                        - math.log((cr[f] + 1.0) / (tr + 256.0))
                    )
                    * 1000000
                )
            ).quantize(Decimal("1"), ROUND_HALF_UP)
        )
        for f in cr
    }
    w6 = {did: sum(lr6[f] for f in fs) for did, fs in per_doc.items()}
    n_sel = len(w6) // 5
    order = sorted(
        w6,
        key=lambda d: (-w6[d], pymd5(f"dsir-{d}".encode()).hexdigest(), d),
    )
    selected = set(order[:n_sel])

    assert sum(r["n_selected"] for r in rows) == n_sel
    rates = {r["lang"]: r["n_selected"] / r["n_docs"] for r in rows}
    assert max(rates, key=rates.get) == "en", rates
    for r in rows:
        lang_docs = [d for d in w6 if lang_of[d] == r["lang"]]
        lang_sel = [d for d in lang_docs if d in selected]
        assert r["n_docs"] == len(lang_docs), r
        assert r["n_selected"] == len(lang_sel), r
        assert r["mean_w"] == r6(
            sum(w6[d] for d in lang_docs) / len(lang_docs) / 1000000.0
        ), r
        if lang_sel:
            assert r["mean_w_sel"] == r6(
                sum(w6[d] for d in lang_sel) / len(lang_sel) / 1000000.0
            ), r


def test_tokenizer_fertility_cross_family_comparison(spark):
    """The tokenizer-selection readout: BPE vs unigram fertility per
    language, joined from the two registry keys. Both families must
    agree on the word universe (the unigram 12-char cap is vacuous on
    this corpus — max word length 8), report proper fertility
    (>= 1 token per word, and exactly tokens/words to 6 dp), and stay
    below the per-word character count (a piece/symbol is at least one
    char, so tokens <= chars is the sanity ceiling)."""
    bpe = {
        r["lang"]: r
        for r in QUERIES["vocab_tokenizer_fertility"](
            spark, SF_TEST
        ).collect()
    }
    uni = {
        r["lang"]: r
        for r in QUERIES["vocab_unigram_fertility"](spark, SF_TEST).collect()
    }
    assert set(bpe) == set(uni) and bpe
    for lang in bpe:
        b, u = bpe[lang], uni[lang]
        assert b["n_words"] == u["n_words"], lang
        for r, col in ((b, "n_bpe_tokens"), (u, "n_unigram_tokens")):
            assert r[col] >= r["n_words"], (lang, col)
            assert r["fertility"] == round(r[col] / r["n_words"], 6), lang
        # 3 EM rounds over a 226-piece seed vocab reliably beat
        # 12 BPE merges on this corpus; what the assertion pins is
        # that both families produce comparable, same-universe numbers
        assert u["fertility"] <= b["fertility"] * 1.5, lang


def test_kmv_estimate_error_and_merge_law(spark):
    """agg_kmv_distinct: (1) estimate within 4σ (σ≈1/√(k−2)) of the
    exact distinct count it reports alongside; (2) the MERGE law the
    docstring claims — the k smallest of the union of per-group k-min
    sets equals the k smallest of the global distinct set, so the
    merged estimate equals the directly-computed global estimate —
    verified here with the engine's own keyed hash recomputed from
    scratch in Python."""
    import hashlib

    from kinesis_adapter_spark.operators.aggregates import KMV_K

    rows = QUERIES["agg_kmv_distinct"](spark, SF_TEST).collect()
    assert rows
    sigma = (KMV_K - 2) ** -0.5
    for r in rows:
        assert abs(r["kmv_estimate"] - r["exact"]) / r["exact"] <= 4 * sigma, r

    def u(uid: int) -> float:
        h = hashlib.md5(f"kmv-{uid}".encode()).hexdigest()[:12]
        return (int(h, 16) + 0.5) / 281474976710656.0

    pairs = (
        spark.read.parquet(f"{SF_TEST}/events.parquet")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    per_group: dict[str, list[float]] = {}
    all_users: set[int] = set()
    for r in pairs:
        per_group.setdefault(r["event_type"], []).append(u(r["user_id"]))
        all_users.add(r["user_id"])
    kmin_sets = [sorted(v)[:KMV_K] for v in per_group.values()]
    merged = sorted(x for s in kmin_sets for x in s)
    merged_kmin = sorted(set(merged))[:KMV_K]
    direct_kmin = sorted(u(x) for x in all_users)[:KMV_K]
    assert merged_kmin == direct_kmin, "k-min union law violated"


def test_kmeans_matches_pure_numpy_reference(spark):
    """emb_kmeans_lloyd against a from-scratch numpy Lloyd's with the
    same conventions (seed at vec_id<k, centroids and distances
    rounded 6dp, ties to lowest cluster): assignments must be
    IDENTICAL, and the clustering objective under the final centroids
    must not exceed the round-0 objective (Lloyd's descent survives
    the rounding)."""
    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import KM_ITERS, KM_K

    rows = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    cents = {int(i): np.round(X[ids == i][0], 6) for i in range(KM_K)}

    def assign(c):
        cid = sorted(c)
        mat = np.stack([c[i] for i in cid])
        d2 = ((X[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
        return np.array([cid[j] for j in np.round(d2, 6).argmin(axis=1)]), d2

    _, d2_0 = assign(cents)
    obj0 = d2_0.min(axis=1).sum()
    for _ in range(KM_ITERS):
        a, _ = assign(cents)
        cents = {
            int(c): np.round(X[a == c].mean(axis=0), 6) for c in np.unique(a)
        }
    ref, d2_f = assign(cents)
    objf = d2_f.min(axis=1).sum()
    assert objf <= obj0, (objf, obj0)

    got = {
        r["vec_id"]: r["cluster"]
        for r in QUERIES["emb_kmeans_lloyd"](spark, SF_TEST).collect()
    }
    assert got == {int(i): int(c) for i, c in zip(ids, ref)}


def test_bm25_matches_pure_python_reference(spark):
    """text_bm25_topk against a from-scratch pure-Python Okapi BM25
    (independent code: Counter-based tf/df/dl, explicit idf formula) —
    pins the statistic definitions (df counts DOCS not occurrences,
    avgdl divides the exact integer token sum, n counts docs with ≥1
    alpha token) and the (k1, b) plumbing, which the SQL oracle can't
    distinguish from the Spark side since both share the CTE text."""
    import math
    import re
    from collections import Counter

    from kinesis_adapter_spark.operators.llmops import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )

    docs = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    toks = {
        r["doc_id"]: [
            w
            for w in re.split(r"[^a-z]+", r["text"].lower())
            if re.fullmatch(r"[a-z]+", w)
        ]
        for r in docs
    }
    toks = {d: ws for d, ws in toks.items() if ws}
    n = len(toks)
    avgdl = sum(len(ws) for ws in toks.values()) / n
    df = Counter(t for ws in toks.values() for t in set(ws) if t in BM25_TERMS)
    scores = {}
    for d, ws in toks.items():
        tf = Counter(w for w in ws if w in BM25_TERMS)
        if not tf:
            continue
        s = 0.0
        for t, f in tf.items():
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += (
                idf
                * f
                * (BM25_K1 + 1.0)
                / (f + BM25_K1 * (1.0 - BM25_B + BM25_B * len(ws) / avgdl))
            )
        scores[d] = s
    ref = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:20]
    got = [
        (r["doc_id"], r["score"])
        for r in QUERIES["text_bm25_topk"](spark, SF_TEST).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (gd, gs), (rd, rs) in zip(got, ref):
        assert abs(gs - rs) < 1e-6, (gd, gs, rs)


def test_rrf_fusion_matches_pure_python_reference(spark):
    """search_rrf_fusion against an independently fused reference: the
    dense top-50 recomputed with numpy cosine, the lexical top-50 from
    the key's own bm25_scores (already reference-checked above), fused
    as sum of 1/(60+rank) — pins the fusion formula, the top-50 list
    bound on BOTH sides, the null handling for single-list docs, and
    the (score desc, doc_id) tiebreaks, end to end."""
    import numpy as np

    from kinesis_adapter_spark.operators.llmops import bm25_scores

    emb = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}
    q = vecs[0]
    sims = {
        vid: round(
            float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6
        )
        for vid, v in vecs.items()
        if vid != 0
    }
    dense = [
        vid
        for vid, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    ]
    lex_rows = bm25_scores(spark, SF_TEST).filter(F.col("doc_id") != 0).collect()
    lex = [
        d
        for d, _ in sorted(
            ((r["doc_id"], r["score"]) for r in lex_rows),
            key=lambda kv: (-kv[1], kv[0]),
        )[:50]
    ]
    lex_rank = {d: i + 1 for i, d in enumerate(lex)}
    dense_rank = {d: i + 1 for i, d in enumerate(dense)}
    fused = {
        d: round(
            (1.0 / (60 + lex_rank[d]) if d in lex_rank else 0.0)
            + (1.0 / (60 + dense_rank[d]) if d in dense_rank else 0.0),
            6,
        )
        for d in set(lex) | set(dense)
    }
    ref = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = QUERIES["search_rrf_fusion"](spark, SF_TEST).collect()
    assert [(r["doc_id"], r["rrf_score"]) for r in got] == ref
    for r in got:
        assert r["lex_rank"] == lex_rank.get(r["doc_id"]), r
        assert r["dense_rank"] == dense_rank.get(r["doc_id"]), r


def test_target_encode_no_leakage(spark, tmp_path):
    """The leakage property itself, by perturbation: massively change
    ONE order's target (o_totalprice += 10^7) and re-encode. The
    perturbed row's own (cat, fold) encoding must NOT move — its fold
    is excluded from its own encoding by construction — while every
    OTHER fold of that category must move (they all now include the
    perturbed target in their leave-fold-out mean). A mean that
    included the row's own fold would fail the first assert."""
    import hashlib
    import shutil

    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001/orders.parquet"
    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir(), b_dir.mkdir()
    shutil.copy(src, a_dir / "orders.parquet")

    tbl = pq.read_table(src)
    pdf = tbl.to_pandas()
    okey = int(pdf.loc[0, "o_orderkey"])
    cat = pdf.loc[0, "o_orderpriority"]
    fold = int(hashlib.md5(str(okey).encode()).hexdigest()[:4], 16) % 5
    pdf.loc[0, "o_totalprice"] = float(pdf.loc[0, "o_totalprice"]) + 1e7
    pdf.to_parquet(b_dir / "orders.parquet")

    def enc_map(d):
        return {
            (r["cat"], r["fold"]): r["enc"]
            for r in QUERIES["mlprep_target_encode_kfold"](
                spark, str(d)
            ).collect()
        }

    enc_a, enc_b = enc_map(a_dir), enc_map(b_dir)
    assert enc_a.keys() == enc_b.keys()
    assert enc_a[(cat, fold)] == enc_b[(cat, fold)], "own-fold leakage"
    for f in range(5):
        if f != fold and (cat, f) in enc_a:
            assert enc_a[(cat, f)] != enc_b[(cat, f)], (cat, f)
    # and no other category moved at all
    for k in enc_a:
        if k[0] != cat:
            assert enc_a[k] == enc_b[k], k


def test_pq_codes_match_pure_numpy_reference(spark):
    """emb_pq_encode against a from-scratch numpy quantizer reading the
    SAME published codebook artifact: per subspace, argmin of 6-dp-
    rounded squared distance with lowest-id tiebreak. Pins the
    subspace slicing, the rounding boundary, and the tie rule."""
    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import (
        PQ_M,
        PQ_SUBDIM,
        _pq_books,
    )

    books = _pq_books(spark, SF_TEST)
    got = {
        r["vec_id"]: tuple(r[f"c{s}"] for s in range(PQ_M))
        for r in QUERIES["emb_pq_encode"](spark, SF_TEST).collect()
    }
    vecs = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    assert len(got) == len(vecs)
    for r in vecs:
        v = np.asarray(r["embedding"], dtype=np.float64)
        ref = []
        for s in range(PQ_M):
            vs = v[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
            d2 = np.round(((vs[None, :] - books[s]) ** 2).sum(axis=1), 6)
            ref.append(int(d2.argmin()))
        assert got[r["vec_id"]] == tuple(ref), r["vec_id"]


def test_pq_adc_reasonable_vs_exact(spark):
    """The compressed index must stay USEFUL: eval_ann_recall's own
    metrics (already hash-oracled) gate the quality floor — every
    recall/mrr in [0, 1], and the probe-set MEAN recall@10 must beat
    random (10/499 ~ 0.02) by a wide margin. 4x16 codebooks on 64-d
    synthetic data won't hit 1.0; the gate is 'compression did not
    destroy the neighborhood structure'."""
    rows = QUERIES["eval_ann_recall"](spark, SF_TEST).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0.0 <= r["recall_at_10"] <= 1.0, r
        assert 0.0 <= r["mrr"] <= 1.0, r
    mean_rec = sum(r["recall_at_10"] for r in rows) / len(rows)
    assert mean_rec >= 0.15, mean_rec


def test_mmr_matches_pure_python_greedy(spark):
    """search_mmr_rerank against a from-scratch greedy MMR on the
    collected candidate pool (numpy cosine, explicit argmax loop) —
    pins the pool cut, the lambda weighting, the max-to-selected
    penalty, and every step's tiebreak."""
    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import (
        MMR_K,
        MMR_LAMBDA,
        MMR_POOL,
    )

    emb = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}

    def cos(a, b):
        return round(
            float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    q = vecs[0]
    rel = {vid: cos(v, q) for vid, v in vecs.items() if vid != 0}
    pool = [
        vid
        for vid, _ in sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))[
            :MMR_POOL
        ]
    ]
    sel = [min(pool, key=lambda v: (-rel[v], v))]
    while len(sel) < MMR_K:
        best = None
        for c in pool:
            if c in sel:
                continue
            ms = max(cos(vecs[c], vecs[s]) for s in sel)
            score = round(MMR_LAMBDA * rel[c] - (1 - MMR_LAMBDA) * ms, 6)
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c)
        sel.append(best[1])
    got = [
        (r["mmr_rank"], r["vec_id"])
        for r in QUERIES["search_mmr_rerank"](spark, SF_TEST).collect()
    ]
    assert got == [(i + 1, v) for i, v in enumerate(sel)], (got, sel)


def test_ivfpq_equals_adc_restricted_to_probed_cells(spark):
    """ann_ivfpq_topk's exact semantics: its top-10 must equal the
    full-corpus ADC ranking RESTRICTED to vectors assigned to the
    nprobe best cells — pinning that cell pruning loses nothing within
    the probed cells and that the two ADC paths (full-corpus codes vs
    pruned-layout encode) score identically."""
    from pyspark.sql import functions as SF

    from kinesis_adapter_spark.operators.embeddings_ops import (
        _adc_scored,
        _ivf_best_cells,
        _ivf_centroids,
        ivf_layout_path,
        pq_codes,
    )

    spark_ = spark
    from kinesis_adapter_spark.catalog import load

    e = load(spark_, SF_TEST, "embeddings")
    q = e.filter(SF.col("vec_id") == 0).select(
        SF.col("embedding").alias("qv")
    )
    cells = {
        r["cell"]
        for r in _ivf_best_cells(_ivf_centroids(e), q).collect()
    }
    member = {
        r["vec_id"]
        for r in spark_.read.parquet(ivf_layout_path(spark_, SF_TEST))
        .filter(SF.col("cell").isin(list(cells)))
        .select("vec_id")
        .collect()
    }
    full = _adc_scored(
        spark_, SF_TEST, pq_codes(spark_, SF_TEST).filter(SF.col("vec_id") != 0)
    ).collect()
    ref = sorted(
        ((r["adc_dist"], r["vec_id"]) for r in full if r["vec_id"] in member),
    )[:10]
    got = [
        (r["adc_dist"], r["vec_id"])
        for r in QUERIES["ann_ivfpq_topk"](spark_, SF_TEST).collect()
    ]
    assert got == ref, (got, ref)
    for _, vid in got:
        assert vid in member


def test_rag_pipeline_matches_python_composition(spark):
    """pipeline_rag_retrieval against an independent composition: take
    the (already reference-checked) RRF top-10, min-max normalize, run
    pure-python greedy MMR with numpy cosines, and demand the same 5
    picks in the same order with the same carried rrf_scores."""
    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import (
        MMR_LAMBDA,
        PIPE_MMR_K,
    )

    fused = {
        r["doc_id"]: r["rrf_score"]
        for r in QUERIES["search_rrf_fusion"](spark, SF_TEST).collect()
    }
    emb = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    mx, mn = max(fused.values()), min(fused.values())
    rel = {
        d: 1.0 if mx == mn else round((s - mn) / (mx - mn), 6)
        for d, s in fused.items()
    }
    pool = sorted(fused)
    sel = [min(pool, key=lambda v: (-rel[v], v))]
    while len(sel) < PIPE_MMR_K:
        best = None
        for c in pool:
            if c in sel:
                continue
            ms = max(cos(vecs[c], vecs[s]) for s in sel)
            score = round(MMR_LAMBDA * rel[c] - (1 - MMR_LAMBDA) * ms, 6)
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c)
        sel.append(best[1])
    def persistent_ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        it = m.keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = persistent_ids()
    got = [
        (r["mmr_rank"], r["doc_id"], r["rrf_score"])
        for r in QUERIES["pipeline_rag_retrieval"](spark, SF_TEST).collect()
    ]
    assert got == [(i + 1, d, fused[d]) for i, d in enumerate(sel)], (got, sel)
    # VERDICT r8 item #5: a long-lived session must not accumulate
    # cached blocks across invocations — mmr_select releases its pool
    # and pair caches in a finally, and the fused list is localized
    # (bounded collect) instead of persisted. The check is DELTA-based
    # (no new ids after the call): earlier tests' localCheckpoint
    # entries legitimately linger until driver GC, and the async
    # ContextCleaner may remove them mid-test, so absolute counts and
    # size-equality are both flaky.
    leaked = persistent_ids() - before
    assert not leaked, f"pipeline_rag_retrieval leaked RDD ids {leaked}"


def test_kmv_intersect_error_bound_and_small_range(spark):
    """agg_kmv_intersect: pairs whose union is below k must return the
    EXACT intersection (small-range rule — checked at sf0.001 where
    every union is 15 < 64), and estimable pairs must sit within the
    KMV 4-sigma band 4/sqrt(k-2) of truth (sf0.01)."""
    import math

    from kinesis_adapter_spark.operators.aggregates import KMV_K

    tol = 4.0 / math.sqrt(KMV_K - 2)
    small = QUERIES["agg_kmv_intersect"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert small
    for r in small:
        assert r["kmv_intersect_est"] == float(r["exact_intersect"]), r

    big = QUERIES["agg_kmv_intersect"](spark, SF_TEST).collect()
    assert big
    for r in big:
        if r["exact_intersect"] >= KMV_K:
            err = abs(r["kmv_intersect_est"] - r["exact_intersect"]) / r[
                "exact_intersect"
            ]
            assert err <= tol, (r, err, tol)


def test_sampled_quantile_within_rank_band(spark):
    """agg_sampled_quantile: a bottom-k=256 hash sample's p50/p90 must
    land within the ~3-sigma quantile-rank band of the population
    (sigma ~ sqrt(q(1-q)/k): p50 within [p40, p60], p90 within
    [p84, p96]) — the sample is uniform because the hash key is
    independent of value."""
    rows = QUERIES["agg_sampled_quantile"](spark, SF_TEST).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_TEST}/events.parquet")
    bands = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile_approx(value, 0.40, 2147483647)").alias("p40"),
            F.expr("percentile_approx(value, 0.60, 2147483647)").alias("p60"),
            F.expr("percentile_approx(value, 0.84, 2147483647)").alias("p84"),
            F.expr("percentile_approx(value, 0.96, 2147483647)").alias("p96"),
        )
        .collect()
    }
    for r in rows:
        b = bands[r["event_type"]]
        assert b["p40"] <= r["p50_est"] <= b["p60"], (r, dict(b.asDict()))
        assert b["p84"] <= r["p90_est"] <= b["p96"], (r, dict(b.asDict()))


def test_label_propagation_matches_pure_python(spark):
    """graph_label_propagation against a from-scratch python LP on the
    collected sf0.001 graph: dict-of-neighbors, Counter majority vote
    with (count desc, label asc) ties, clamped seeds, 4 synchronized
    rounds — pins the vote, the tiebreak, the clamping, and the
    synchronized (not in-place) update order."""
    from collections import Counter, defaultdict

    from kinesis_adapter_spark.operators.insights import LP_ROUNDS

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    pairs = {
        (f"c{r['o_custkey']}", f"s{r['l_suppkey']}")
        for r in li.join(o, li["l_orderkey"] == o["o_orderkey"]).collect()
    }
    nbrs = defaultdict(set)
    for c, s in pairs:
        nbrs[c].add(s)
        nbrs[s].add(c)
    seeds = {
        f"c{r['c_custkey']}": int(r["c_nationkey"])
        for r in spark.read.parquet(f"{sf}/customer.parquet")
        .filter(F.col("c_custkey") % 20 == 0)
        .collect()
    }
    lab = dict(seeds)
    for _ in range(LP_ROUNDS):
        nxt = {}
        for node, ns in nbrs.items():
            votes = Counter(lab[n] for n in ns if n in lab)
            if votes:
                nxt[node] = min(votes, key=lambda v: (-votes[v], v))
        nxt.update(seeds)  # clamp
        lab = nxt
    got = {
        r["node"]: r["label"]
        for r in QUERIES["graph_label_propagation"](spark, sf).collect()
    }
    assert got == lab


def test_ndcg_matches_pure_python_reference(spark):
    """eval_retrieval_ndcg against a from-scratch NDCG on the two
    collected rank lists (math.log2, explicit per-probe loops) — pins
    the graded-gain formula (rel = 11 - rn), the log2(position + 1)
    discount at the APPROX position, and the data-derived IDCG
    (discount over the exact ordering). Also gates the range: every
    ndcg in [0, 1], and dcg <= idcg by construction."""
    import math

    from kinesis_adapter_spark.operators.embeddings_ops import (
        _eval_rank_lists,
    )

    exact, approx = _eval_rank_lists(spark, SF_TEST)
    ex = [(r["pid"], r["vec_id"], r["rn"]) for r in exact.collect()]
    ap = {(r["pid"], r["vec_id"]): r["arn"] for r in approx.collect()}

    ref = {}
    for pid in sorted({p for p, _, _ in ex}):
        dcg = idcg = 0.0
        for p, vid, rn in ex:
            if p != pid:
                continue
            rel = float(11 - rn)
            idcg += rel / math.log2(rn + 1)
            arn = ap.get((pid, vid))
            if arn is not None:
                dcg += rel / math.log2(arn + 1)
        ref[pid] = (round(dcg, 6), round(dcg / idcg, 6))

    got = {
        r["probe_id"]: (r["dcg_at_10"], r["ndcg_at_10"])
        for r in QUERIES["eval_retrieval_ndcg"](spark, SF_TEST).collect()
    }
    assert got == ref
    assert len(got) == 8
    for dcg, ndcg in got.values():
        assert 0.0 <= ndcg <= 1.0
        assert dcg >= 0.0


def test_link_prediction_matches_pure_python(spark):
    """graph_link_prediction against a from-scratch common-neighbor /
    Jaccard ranker on the collected edge set (python sets, explicit
    loops) — pins the two-hop candidate generation, the existing-edge
    screen, the cn/(d_src + d_dst - cn) formula, and the
    (jaccard, cn, dst) tiebreak."""
    from collections import defaultdict

    from kinesis_adapter_spark.operators.insights import (
        LP_QUERY_MAX,
        _copurchase_edges,
    )

    edges = {
        (r["u"], r["v"])
        for r in _copurchase_edges(spark, SF_TEST).collect()
    }
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)

    ref = []
    for src in sorted(n for n in nbrs if n <= LP_QUERY_MAX):
        cands = []
        for dst in {c for h in nbrs[src] for c in nbrs[h]}:
            if dst == src or dst in nbrs[src]:
                continue
            cn = len(nbrs[src] & nbrs[dst])
            jac = round(cn / (len(nbrs[src]) + len(nbrs[dst]) - cn), 6)
            cands.append((-jac, -cn, dst))
        for rank, (nj, ncn, dst) in enumerate(sorted(cands)[:5], 1):
            ref.append((src, dst, -ncn, -nj, rank))

    got = [
        (r["src"], r["dst"], r["common_nbrs"], r["jaccard"], r["rank"])
        for r in QUERIES["graph_link_prediction"](spark, SF_TEST).collect()
    ]
    assert got == ref
    assert len(got) > 0


def test_l_diversity_release_properties(spark):
    """anonymize_l_diversity against a from-scratch reference over the
    collected customer rows (python dict grouping) — pins the QI
    generalization, both release thresholds (n >= 5 AND l_distinct >=
    3), and the '*' row's base-row re-aggregation (distinct counts
    don't add across suppressed groups). Then the privacy property
    itself: every released row isolates >= 5 people spanning >= 3
    sensitive values, and released + suppressed mass equals the
    population."""
    import math
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_TEST}/customer.parquet")
        .select("c_mktsegment", "c_acctbal", "c_nationkey")
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        qi = (r["c_mktsegment"], math.floor(r["c_acctbal"] / 2000))
        groups[qi].append(r["c_nationkey"])
    ref, sup_n, sup_nations = [], 0, set()
    for (seg, bucket), nations in groups.items():
        if len(nations) >= 5 and len(set(nations)) >= 3:
            ref.append((seg, str(bucket), len(nations), len(set(nations))))
        else:
            sup_n += len(nations)
            sup_nations |= set(nations)
    ref.append(("*", "*", sup_n, len(sup_nations)))

    got = [
        (r["c_mktsegment"], r["bal_bucket"], r["n"], r["l_distinct"])
        for r in QUERIES["anonymize_l_diversity"](spark, SF_TEST).collect()
    ]
    assert sorted(got) == sorted(ref)
    for seg, bucket, n, ldiv in got:
        if seg != "*":
            assert n >= 5 and ldiv >= 3
    assert sum(n for _, _, n, _ in got) == len(rows)


def test_calibration_bins_matches_pure_python(spark):
    """eval_calibration_bins against a from-scratch reference over the
    collected orders (math.exp, explicit binning) — pins the 6-dp
    pre-round before binning, the LEAST(...,9) top-edge clamp, and
    every per-bin statistic. Population must be conserved across
    bins."""
    import math
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_TEST}/orders.parquet")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    )
    bins = defaultdict(list)
    for r in rows:
        s = round(1.0 / (1.0 + math.exp(-(r["o_totalprice"] - 150000.0) / 50000.0)), 6)
        y = 1 if r["o_orderpriority"] in ("1-URGENT", "2-HIGH") else 0
        bins[min(int(s * 10), 9)].append((s, y))
    ref = {}
    for b, sy in bins.items():
        ms = sum(s for s, _ in sy) / len(sy)
        pr = sum(y for _, y in sy) / len(sy)
        ref[b] = (len(sy), round(ms, 6), round(pr, 6), round(abs(ms - pr), 6))

    got = {
        r["bin"]: (r["n"], r["mean_score"], r["pos_rate"], r["calib_gap"])
        for r in QUERIES["eval_calibration_bins"](spark, SF_TEST).collect()
    }
    assert got == ref
    assert sum(v[0] for v in got.values()) == len(rows)


def test_kcore_matches_run_to_convergence_reference(spark):
    """graph_k_core against a from-scratch python peel run TO
    CONVERGENCE (not to KCORE_ROUNDS) — proves the fixed round count
    reaches the true k-core fixpoint at this SF, and that the
    monotone single-reference round (nodes with >= k alive neighbors)
    computes the same core and within-core degrees."""
    import collections

    from kinesis_adapter_spark.operators.insights import (
        KCORE_K,
        _repeat_sym_edges,
    )

    adj = collections.defaultdict(set)
    for r in _repeat_sym_edges(spark, SF_TEST).collect():
        adj[r["node"]].add(r["nbr"])
    alive = set(adj)
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    ref = sorted((n, len(adj[n] & alive)) for n in alive)
    got = [
        (r["part"], r["core_deg"])
        for r in QUERIES["graph_k_core"](spark, SF_TEST).collect()
    ]
    assert got == ref, (len(got), len(ref))
    assert alive, "degenerate fixture: empty core proves nothing"


def test_bfs_distance_matches_python_bfs(spark):
    """graph_bfs_distance against a queue BFS on the collected trade
    graph — pins the frontier/level recombination (group-min over
    expansion levels) to textbook BFS, and that BFS_ROUNDS covers the
    whole reachable set at this SF."""
    import collections

    from kinesis_adapter_spark.operators.insights import (
        BFS_ROUNDS,
        _trade_edges,
    )

    adj = collections.defaultdict(set)
    for r in _trade_edges(spark, SF_TEST).collect():
        adj[r["src"]].add(r["dst"])
    src = {
        f"c{r['c_custkey']}"
        for r in spark.read.parquet(f"{SF_TEST}/customer.parquet")
        .select("c_custkey")
        .collect()
        if r["c_custkey"] % 50 == 0
    }
    dist = {s: 0 for s in src}
    frontier = set(src)
    d = 0
    while frontier:
        d += 1
        frontier = {
            v for u in frontier for v in adj[u] if v not in dist
        }
        for v in frontier:
            dist[v] = d
    assert d - 1 <= BFS_ROUNDS, "BFS_ROUNDS no longer spans the graph"
    got = {
        r["node"]: r["dist"]
        for r in QUERIES["graph_bfs_distance"](spark, SF_TEST).collect()
    }
    assert got == dist


def test_auc_roc_matches_python_rank_formula(spark):
    """eval_auc_roc against a pure-python average-rank AUC on the
    collected (score, label) frame — pins the doubled-rank integer
    arithmetic and the tie handling to the textbook Mann-Whitney
    identity."""
    from kinesis_adapter_spark.operators.mlprep import _eval_scored

    rows = [(r["score"], r["label"]) for r in _eval_scored(spark, SF_TEST).collect()]
    rows.sort()
    # average rank per tie group (1-based)
    ranks = {}
    i = 0
    while i < len(rows):
        j = i
        while j < len(rows) and rows[j][0] == rows[i][0]:
            j += 1
        avg = (i + 1 + j) / 2  # mean of ranks i+1 .. j
        ranks[rows[i][0]] = avg
        i = j
    p = sum(lb for _, lb in rows)
    n = len(rows) - p
    r_pos = sum(ranks[s] for s, lb in rows if lb == 1)
    auc = (r_pos - p * (p + 1) / 2) / (p * n)
    got = QUERIES["eval_auc_roc"](spark, SF_TEST).collect()[0]
    assert got["n_pos"] == p and got["n_neg"] == n
    assert got["auc_roc"] == round(auc, 6)
    assert got["gini"] == round(2 * auc - 1, 6)


def test_pr_auc_matches_python_threshold_blocks(spark):
    """eval_pr_auc against a pure-python threshold-block average
    precision (ties form one block; AP = sum block_recall *
    cumulative precision) on the collected frame."""
    import collections

    from kinesis_adapter_spark.operators.mlprep import _eval_scored

    agg = collections.Counter()
    pos = collections.Counter()
    for r in _eval_scored(spark, SF_TEST).collect():
        agg[r["score"]] += 1
        pos[r["score"]] += r["label"]
    p = sum(pos.values())
    cum_n = cum_pos = 0
    ap = 0.0
    for s in sorted(agg, reverse=True):
        cum_n += agg[s]
        cum_pos += pos[s]
        ap += (pos[s] / p) * (cum_pos / cum_n)
    got = QUERIES["eval_pr_auc"](spark, SF_TEST).collect()[0]
    assert got["n_pos"] == p
    assert abs(got["pr_auc"] - ap) < 2e-6, (got["pr_auc"], ap)


def test_t_closeness_matches_dense_python_tvd(spark):
    """anonymize_t_closeness against the DENSE-grid python TVD
    (0.5 * sum over ALL categories of |p_group - p_global|, absent
    categories included) — proves the present-categories-only
    complement trick computes the same distance."""
    import collections

    from kinesis_adapter_spark.operators.insights import (
        T_CLOSE_K,
        T_CLOSE_T,
    )

    rows = (
        spark.read.parquet(f"{SF_TEST}/customer.parquet")
        .select("c_mktsegment", "c_acctbal", "c_nationkey")
        .collect()
    )
    total = collections.Counter()
    groups = collections.defaultdict(collections.Counter)
    for r in rows:
        g = (r["c_mktsegment"], int(r["c_acctbal"] // 2000))
        total[r["c_nationkey"]] += 1
        groups[g][r["c_nationkey"]] += 1
    nt = sum(total.values())
    ref = {}
    for g, cnt in groups.items():
        ng = sum(cnt.values())
        tvd = 0.5 * sum(
            abs(cnt.get(v, 0) / ng - c / nt) for v, c in total.items()
        )
        ref[g] = (ng, round(tvd, 6), ng >= T_CLOSE_K and tvd <= T_CLOSE_T)
    got = {
        (r["c_mktsegment"], r["bal_bucket"]): (
            r["n"],
            r["tvd"],
            r["releasable"],
        )
        for r in QUERIES["anonymize_t_closeness"](spark, SF_TEST).collect()
    }
    assert set(got) == set(ref)
    for g in ref:
        assert got[g][0] == ref[g][0], g
        assert abs(got[g][1] - ref[g][1]) <= 1e-6, (g, got[g], ref[g])
        assert got[g][2] == ref[g][2], g
    assert any(v[2] for v in ref.values()) and not all(
        v[2] for v in ref.values()
    ), "threshold no longer splits the groups: fixture degenerate"


def test_seasonal_decompose_matches_python_reference(spark):
    """ts_seasonal_decompose against a from-scratch python
    decomposition (centered 25-hour moving average on the rounded
    hourly means, hour-of-day seasonal index over complete windows,
    residual from the rounded components) — and the additive identity
    hourly_mean == trend + seasonal + resid within rounding wherever
    trend is defined."""
    import collections

    from kinesis_adapter_spark.operators.insights import SD_HALF

    got = QUERIES["ts_seasonal_decompose"](spark, SF_TEST).collect()
    series = collections.defaultdict(dict)
    for r in got:
        series[r["event_type"]][r["hour_idx"]] = r
    for et, hs in series.items():
        idxs = sorted(hs)
        vals = [hs[i]["hourly_mean"] for i in idxs]
        trend = {}
        for k, i in enumerate(idxs):
            if k >= SD_HALF and k + SD_HALF < len(idxs):
                win = vals[k - SD_HALF : k + SD_HALF + 1]
                trend[i] = round(sum(win) / len(win), 6)
        season_acc = collections.defaultdict(list)
        for i in idxs:
            if i in trend:
                season_acc[i % 24].append(hs[i]["hourly_mean"] - trend[i])
        seasonal = {
            h: round(sum(v) / len(v), 6) for h, v in season_acc.items()
        }
        for i in idxs:
            r = hs[i]
            if i in trend:
                assert abs(r["trend"] - trend[i]) <= 1e-6, (et, i)
                assert abs(r["seasonal"] - seasonal[i % 24]) <= 1e-6
                assert (
                    abs(
                        r["hourly_mean"]
                        - (r["trend"] + r["seasonal"] + r["resid"])
                    )
                    <= 3e-6
                ), (et, i)
            else:
                assert r["trend"] is None and r["resid"] is None


def test_threshold_confusion_matches_python_counts(spark):
    """eval_threshold_confusion against brute-force python counting at
    each threshold, including every derived metric."""
    from kinesis_adapter_spark.operators.mlprep import (
        EVAL_THRESHOLDS,
        _eval_scored,
    )

    rows = [(r["score"], r["label"]) for r in _eval_scored(spark, SF_TEST).collect()]
    got = {
        r["threshold"]: r
        for r in QUERIES["eval_threshold_confusion"](spark, SF_TEST).collect()
    }
    assert set(got) == set(EVAL_THRESHOLDS)
    for t in EVAL_THRESHOLDS:
        tp = sum(1 for s, lb in rows if s >= t and lb == 1)
        fp = sum(1 for s, lb in rows if s >= t and lb == 0)
        fn = sum(1 for s, lb in rows if s < t and lb == 1)
        tn = sum(1 for s, lb in rows if s < t and lb == 0)
        r = got[t]
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn), t
        assert r["precision"] == round(tp / (tp + fp), 6)
        assert r["recall"] == round(tp / (tp + fn), 6)
        assert r["f1"] == round(2 * tp / (2 * tp + fp + fn), 6)
        assert r["accuracy"] == round((tp + tn) / len(rows), 6)


def test_dim_truncation_recall_matches_numpy(spark):
    """eval_dim_truncation_recall against a numpy re-computation of
    both rank lists per truncation — pins the slice semantics (prefix
    dims), the rounded-cosine tiebreaks, and the recall denominator.
    Also sanity: recall must be monotone non-decreasing in dims and
    below 1 for the shortest prefix (else the fixture shows nothing)."""
    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import (
        EVAL_PROBES,
        MRL_DIMS,
    )

    emb = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}

    def top10(pid, dim=None):
        q = vecs[pid] if dim is None else vecs[pid][:dim]
        sims = []
        for vid, v in vecs.items():
            if vid == pid:
                continue
            x = v if dim is None else v[:dim]
            s = round(float(x @ q / (np.linalg.norm(x) * np.linalg.norm(q))), 6)
            sims.append((-s, vid))
        return {vid for _, vid in sorted(sims)[:10]}

    ref = {}
    for d in MRL_DIMS:
        hits = sum(
            len(top10(p) & top10(p, d)) for p in range(EVAL_PROBES)
        )
        ref[d] = round(hits / (EVAL_PROBES * 10), 6)
    got = {
        r["trunc_dim"]: r["recall_at_10"]
        for r in QUERIES["eval_dim_truncation_recall"](spark, SF_TEST).collect()
    }
    assert got == ref, (got, ref)
    vals = [got[d] for d in sorted(got)]
    assert vals == sorted(vals), "recall not monotone in prefix length"
    assert vals[0] < 1.0 <= vals[-1] + 1e-9 or vals[0] < vals[-1], (
        "fixture degenerate: truncation shows no effect"
    )


def test_point_in_time_join_matches_python_lookup(spark):
    """join_point_in_time against a per-user python version-history
    walk with bisect lookups — independently re-deriving the SCD2
    intervals AND the containment semantics (so it also re-proves the
    engine's as-of == containment reduction on this data)."""
    import bisect
    import collections

    from kinesis_adapter_spark.catalog import load as cat_load, ts_us_trunc

    ev = (
        cat_load(spark, SF_TEST, "events")
        .withColumn("ts_ns", ts_us_trunc())
        .select("user_id", "event_id", "event_type", "ts_ns")
        .filter("user_id < 50")
        .collect()
    )
    rows = [
        (r["user_id"], r["ts_ns"], r["event_id"], r["event_type"]) for r in ev
    ]
    by_user = collections.defaultdict(list)
    for u, t, eid, et in rows:
        by_user[u].append((t, eid, et))
    versions = collections.defaultdict(list)  # user -> [(from, to, type)]
    for u, evs in by_user.items():
        evs.sort()
        hist = []
        for t, eid, et in evs:
            if not hist or hist[-1][2] != et:
                hist.append([t, None, et])
            # close previous interval at the next CHANGE time
        for i in range(len(hist) - 1):
            hist[i][1] = hist[i + 1][0]
        versions[u] = [(f, to, et) for f, to, et in hist]
    ref = []
    for u, t, eid, et in rows:
        if eid % 7 != 0:
            continue
        pts = t + 1_800_000_000_000
        for f, to, vt in versions[u]:
            if f <= pts and (to is None or pts < to):
                ref.append((u, eid, pts, vt, f))
    ref.sort()
    got = [
        (r["user_id"], r["probe_id"], r["probe_ts"], r["type_at_ts"], r["valid_from"])
        for r in QUERIES["join_point_in_time"](spark, SF_TEST).collect()
    ]
    assert sorted(got) == ref, (len(got), len(ref))
    assert ref, "degenerate fixture: no probes matched"


def test_anova_and_brown_forsythe_match_python(spark):
    """agg_anova_oneway / agg_brown_forsythe against from-scratch
    python F computations (explicit group means / medians, no power
    sums) — pins the power-sum expansion and the median-centered
    deviations to the textbook definitions."""
    import collections

    rows = (
        spark.read.parquet(f"{SF_TEST}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["value"])

    def f_stat(by_group):
        k = len(by_group)
        nn = sum(len(v) for v in by_group.values())
        grand = sum(sum(v) for v in by_group.values()) / nn
        ssb = sum(
            len(v) * (sum(v) / len(v) - grand) ** 2 for v in by_group.values()
        )
        ssw = sum(
            sum((x - sum(v) / len(v)) ** 2 for x in v)
            for v in by_group.values()
        )
        return k, nn, (ssb / (k - 1)) / (ssw / (nn - k))

    k, nn, f = f_stat(groups)
    got = QUERIES["agg_anova_oneway"](spark, SF_TEST).collect()[0]
    assert (got["k_groups"], got["n"]) == (k, nn)
    assert abs(got["f_stat"] - f) < 1e-4, (got["f_stat"], f)

    def median(v):
        s = sorted(v)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    zgroups = {
        g: [abs(x - median(v)) for x in v] for g, v in groups.items()
    }
    k, nn, f = f_stat(zgroups)
    got = QUERIES["agg_brown_forsythe"](spark, SF_TEST).collect()[0]
    assert (got["k_groups"], got["n"]) == (k, nn)
    assert abs(got["f_stat"] - f) < 1e-4, (got["f_stat"], f)


def test_wasserstein_matches_python_cdf_integral(spark):
    """drift_wasserstein_1d against the explicit CDF-integral python
    computation over the pooled sorted support — and the analytic
    relation to agg_ks_test: W1 <= D * range must hold (the integral
    of a function bounded by its max)."""
    a, b = [], []
    for r in (
        spark.read.parquet(f"{SF_TEST}/events.parquet")
        .select("event_type", "value")
        .filter("event_type IN ('click', 'purchase')")
        .collect()
    ):
        (a if r["event_type"] == "click" else b).append(r["value"])
    support = sorted(set(a) | set(b))
    ca = cb = 0.0
    import bisect

    sa, sb = sorted(a), sorted(b)
    w1 = 0.0
    for i in range(len(support) - 1):
        v, nxt = support[i], support[i + 1]
        fa = bisect.bisect_right(sa, v) / len(sa)
        fb = bisect.bisect_right(sb, v) / len(sb)
        w1 += abs(fa - fb) * (nxt - v)
    got = QUERIES["drift_wasserstein_1d"](spark, SF_TEST).collect()[0]
    assert (got["n_click"], got["n_purchase"]) == (len(a), len(b))
    assert abs(got["wasserstein_1"] - w1) < 1e-5, (got["wasserstein_1"], w1)
    d = QUERIES["agg_ks_test"](spark, SF_TEST).collect()[0]["d_stat"]
    rng = support[-1] - support[0]
    assert got["wasserstein_1"] <= d * rng + 1e-9


def test_tokenizer_fertility_consistent_with_encode(spark):
    """vocab_tokenizer_fertility must equal the per-lang aggregation
    of vocab_bpe_encode's (already python-referenced) per-doc counts
    joined to documents.lang — an independent composition check over
    the same published merge artifact."""
    import collections

    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    words = collections.Counter()
    toks = collections.Counter()
    docs = collections.Counter()
    for r in QUERIES["vocab_bpe_encode"](spark, SF_TEST).collect():
        lg = langs[r["doc_id"]]
        words[lg] += r["n_words"]
        toks[lg] += r["n_bpe_tokens"]
        docs[lg] += 1
    got = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_bpe_tokens"], r["fertility"])
        for r in QUERIES["vocab_tokenizer_fertility"](spark, SF_TEST).collect()
    }
    assert set(got) == set(words)
    for lg in got:
        assert got[lg][:3] == (docs[lg], words[lg], toks[lg]), lg
        assert got[lg][3] == round(toks[lg] / words[lg], 6), lg
    assert len(got) > 1 and len({v[3] for v in got.values()}) > 1, (
        "fixture degenerate: fertility identical across languages"
    )


def test_ece_matches_python_rollup_of_bins(spark):
    """eval_expected_calibration_error against the python weighted sum
    over the (already referenced) calibration bins."""
    bins = QUERIES["eval_calibration_bins"](spark, SF_TEST).collect()
    n = sum(b["n"] for b in bins)
    ece = round(sum(b["n"] * b["calib_gap"] for b in bins) / n, 6)
    mce = round(max(b["calib_gap"] for b in bins), 6)
    got = QUERIES["eval_expected_calibration_error"](spark, SF_TEST).collect()[0]
    assert (got["n"], got["ece"], got["mce"]) == (n, ece, mce)
    assert 0.0 <= got["ece"] <= got["mce"] <= 1.0


def test_cuped_matches_python_covariate_adjustment(spark):
    """agg_cuped_variance_reduction against an explicit python CUPED:
    per-user pre/post means split at the µs-truncated integer
    midpoint, θ from covariance over users in both periods, and the
    identity var_cuped == var_y · (1 - ρ²)."""
    import collections

    from kinesis_adapter_spark.catalog import load as cat_load, ts_us_trunc

    rows = (
        cat_load(spark, SF_TEST, "events")
        .select("user_id", ts_us_trunc().alias("t"), "value")
        .collect()
    )
    mid = (min(r["t"] for r in rows) + max(r["t"] for r in rows)) // 2
    pre = collections.defaultdict(list)
    post = collections.defaultdict(list)
    for r in rows:
        (pre if r["t"] < mid else post)[r["user_id"]].append(r["value"])
    xs, ys = [], []
    for u in set(pre) & set(post):
        xs.append(sum(pre[u]) / len(pre[u]))
        ys.append(sum(post[u]) / len(post[u]))
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / n
    vx = sum((a - mx) ** 2 for a in xs) / n
    vy = sum((b - my) ** 2 for b in ys) / n
    got = QUERIES["agg_cuped_variance_reduction"](spark, SF_TEST).collect()[0]
    assert got["n_users"] == n
    assert abs(got["theta"] - cov / vx) < 1e-4
    assert abs(got["var_y"] - vy) < 1e-4
    assert abs(got["var_cuped"] - (vy - cov * cov / vx)) < 1e-4
    assert abs(got["variance_reduction"] - cov * cov / (vx * vy)) < 1e-6
    assert 0.0 <= got["variance_reduction"] < 1.0


def test_negative_pairs_match_python_hash_order(spark):
    """sample_negative_pairs against hashlib md5 ordering — pins the
    per-anchor independent permutation, the label-inequality screen,
    and k; every emitted negative must differ in label from its
    anchor."""
    import hashlib

    from kinesis_adapter_spark.operators.mlprep import (
        NEG_ANCHORS,
        NEG_K,
    )

    emb = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    )
    labels = {r["vec_id"]: r["label"] for r in emb}
    ref = []
    for a in sorted(v for v in labels if v < NEG_ANCHORS):
        cands = [
            (hashlib.md5(f"{a}:{v}".encode()).hexdigest(), v)
            for v in labels
            if labels[v] != labels[a]
        ]
        for rk, (_, v) in enumerate(sorted(cands)[:NEG_K], start=1):
            ref.append((a, v, labels[v], rk))
    got = [
        (r["anchor_id"], r["neg_id"], r["neg_label"], r["rk"])
        for r in QUERIES["sample_negative_pairs"](spark, SF_TEST).collect()
    ]
    assert got == ref, (len(got), len(ref))
    for a, v, lb, _ in got:
        assert lb != labels[a]


def test_seasonal_strength_matches_python_variances(spark):
    """ts_seasonal_strength against python variances computed from the
    (already referenced) decompose output, plus the [0, 1] range
    property for every series."""
    import collections

    dec = QUERIES["ts_seasonal_decompose"](spark, SF_TEST).collect()
    acc = collections.defaultdict(lambda: ([], [], []))
    for r in dec:
        if r["resid"] is None:
            continue
        a = acc[r["event_type"]]
        a[0].append(r["resid"])
        a[1].append(r["seasonal"] + r["resid"])
        a[2].append(r["trend"] + r["resid"])

    def var(v):
        m = sum(v) / len(v)
        return sum((x - m) ** 2 for x in v) / (len(v) - 1)

    got = {
        r["event_type"]: r
        for r in QUERIES["ts_seasonal_strength"](spark, SF_TEST).collect()
    }
    assert set(got) == set(acc)
    for et, (res, sea, tre) in acc.items():
        r = got[et]
        assert r["n_hours"] == len(res)
        assert abs(r["seasonal_strength"] - max(0.0, 1 - var(res) / var(sea))) < 1e-5
        assert abs(r["trend_strength"] - max(0.0, 1 - var(res) / var(tre))) < 1e-5
        assert 0.0 <= r["seasonal_strength"] <= 1.0
        assert 0.0 <= r["trend_strength"] <= 1.0


def test_hard_negatives_match_numpy_ranking(spark):
    """search_hard_negatives against a numpy cosine ranking with the
    label screen — pins the rounded-cosine/vec_id order and that every
    emitted negative differs in label and is genuinely the hardest
    (no same-label vector excluded would have ranked if allowed is NOT
    asserted — the screen is the semantics). Also cross-checks against
    sample_negative_pairs: same anchors, different selection."""
    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import (
        HARDNEG_ANCHORS,
        HARDNEG_K,
    )

    emb = (
        spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}
    labels = {r["vec_id"]: r["label"] for r in emb}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    ref = []
    for a in sorted(v for v in labels if v < HARDNEG_ANCHORS):
        cands = sorted(
            (
                (-cos(vecs[v], vecs[a]), v)
                for v in labels
                if labels[v] != labels[a]
            )
        )[:HARDNEG_K]
        for rk, (negsim, v) in enumerate(cands, start=1):
            ref.append((a, v, labels[v], -negsim, rk))
    got = [
        (r["anchor_id"], r["neg_id"], r["neg_label"], r["sim"], r["rk"])
        for r in QUERIES["search_hard_negatives"](spark, SF_TEST).collect()
    ]
    assert got == ref, (len(got), len(ref))
    rand = {
        (r["anchor_id"], r["neg_id"])
        for r in QUERIES["sample_negative_pairs"](spark, SF_TEST).collect()
    }
    hard = {(a, v) for a, v, *_ in got}
    assert hard != rand, "hard and random negatives identical: degenerate"


def test_ab_report_matches_python_composition(spark):
    """pipeline_ab_test_report against an explicit python composition:
    per-user pre/post means, parity arms, pooled θ, Welch t on raw and
    CUPED-adjusted metrics — and the cross-key consistency that θ
    equals agg_cuped_variance_reduction's θ (same pooled users)."""
    import collections

    from kinesis_adapter_spark.catalog import load as cat_load, ts_us_trunc

    rows = (
        cat_load(spark, SF_TEST, "events")
        .select("user_id", ts_us_trunc().alias("t"), "value")
        .collect()
    )
    mid = (min(r["t"] for r in rows) + max(r["t"] for r in rows)) // 2
    pre = collections.defaultdict(list)
    post = collections.defaultdict(list)
    for r in rows:
        (pre if r["t"] < mid else post)[r["user_id"]].append(r["value"])
    users = sorted(set(pre) & set(post))
    xs = {u: sum(pre[u]) / len(pre[u]) for u in users}
    ys = {u: sum(post[u]) / len(post[u]) for u in users}
    n = len(users)
    mx = sum(xs.values()) / n
    my = sum(ys.values()) / n
    cov = sum((xs[u] - mx) * (ys[u] - my) for u in users) / n
    vx = sum((xs[u] - mx) ** 2 for u in users) / n
    theta = cov / vx

    def arm_stats(vals):
        m = sum(vals) / len(vals)
        v = sum((a - m) ** 2 for a in vals) / (len(vals) - 1)
        return len(vals), m, v

    def welch(tr, ct):
        n1, m1, v1 = arm_stats(tr)
        n0, m0, v0 = arm_stats(ct)
        return m1 - m0, (m1 - m0) / (v1 / n1 + v0 / n0) ** 0.5

    raw_t = [ys[u] for u in users if u % 2 == 1]
    raw_c = [ys[u] for u in users if u % 2 == 0]
    adj_t = [ys[u] - theta * xs[u] for u in users if u % 2 == 1]
    adj_c = [ys[u] - theta * xs[u] for u in users if u % 2 == 0]
    d_raw, t_raw = welch(raw_t, raw_c)
    d_adj, t_adj = welch(adj_t, adj_c)
    got = QUERIES["pipeline_ab_test_report"](spark, SF_TEST).collect()[0]
    assert (got["n_treat"], got["n_ctrl"]) == (len(raw_t), len(raw_c))
    assert abs(got["diff_raw"] - d_raw) < 1e-5
    assert abs(got["t_raw"] - t_raw) < 1e-4
    assert abs(got["theta"] - theta) < 1e-5
    assert abs(got["diff_cuped"] - d_adj) < 1e-5
    assert abs(got["t_cuped"] - t_adj) < 1e-4
    cuped = QUERIES["agg_cuped_variance_reduction"](spark, SF_TEST).collect()[0]
    assert abs(got["theta"] - cuped["theta"]) < 2e-6
    # the adjustment must not inflate the standard error on this data
    assert got["se2_reduction"] >= 0.0


def test_brier_decomposition_matches_python_and_identity(spark):
    """eval_brier_decomposition against python recomputation from the
    scored rows and the bins, plus Murphy's identity: brier ==
    reliability - resolution + uncertainty up to the within-bin
    variance the 6-dp bin rounding and binning residual leave (the
    identity is exact only for the binned forecaster, so assert a
    loose band plus the component ranges)."""
    from kinesis_adapter_spark.operators.mlprep import _eval_scored

    rows = [(r["score"], r["label"]) for r in _eval_scored(spark, SF_TEST).collect()]
    brier = round(sum((s - lb) ** 2 for s, lb in rows) / len(rows), 6)
    bins = QUERIES["eval_calibration_bins"](spark, SF_TEST).collect()
    n = sum(b["n"] for b in bins)
    base = sum(b["n"] * b["pos_rate"] for b in bins) / n
    rel = round(
        sum(b["n"] * (b["mean_score"] - b["pos_rate"]) ** 2 for b in bins) / n, 6
    )
    res = round(
        sum(b["n"] * (b["pos_rate"] - base) ** 2 for b in bins) / n, 6
    )
    unc = round(base * (1 - base), 6)
    got = QUERIES["eval_brier_decomposition"](spark, SF_TEST).collect()[0]
    assert got["n"] == n
    assert got["brier"] == brier
    assert abs(got["reliability"] - rel) <= 1e-6
    assert abs(got["resolution"] - res) <= 1e-6
    assert abs(got["uncertainty"] - unc) <= 1e-6
    # Murphy identity within the binning residual (within-bin score
    # variance): REL - RES + UNC differs from brier by exactly that
    # variance term, which is small but nonzero for a continuous score
    assert abs(got["brier"] - (rel - res + unc)) < 0.02
    assert 0 <= got["reliability"] and 0 <= got["resolution"] <= unc + 1e-9


def test_acf_multi_lag_matches_python_and_lag1_twin(spark):
    """ts_acf_multi_lag against python Pearson r per (type, lag) on
    the rounded hourly grid, and its lag-1 rows must equal
    ts_autocorr_lag1's output exactly (the same computation — a fork
    would be a bug)."""
    import collections

    from kinesis_adapter_spark.operators.insights import ACF_LAGS

    hourly = collections.defaultdict(dict)
    for r in (
        QUERIES["ts_seasonal_decompose"](spark, SF_TEST)
        .select("event_type", "hour_idx", "hourly_mean")
        .collect()
    ):
        hourly[r["event_type"]][r["hour_idx"]] = r["hourly_mean"]

    def pearson(pairs):
        n = len(pairs)
        sx = sum(a for a, _ in pairs)
        sy = sum(b for _, b in pairs)
        sxx = sum(a * a for a, _ in pairs)
        syy = sum(b * b for _, b in pairs)
        sxy = sum(a * b for a, b in pairs)
        return (n * sxy - sx * sy) / (
            ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
        )

    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in QUERIES["ts_acf_multi_lag"](spark, SF_TEST).collect()
    }
    for et, hs in hourly.items():
        idxs = sorted(hs)
        vals = [hs[i] for i in idxs]
        for k in ACF_LAGS:
            pairs = [(vals[i], vals[i - k]) for i in range(k, len(vals))]
            np_, acf = got[(et, k)]
            assert np_ == len(pairs), (et, k)
            assert abs(acf - pearson(pairs)) < 1e-5, (et, k)
    lag1 = {
        r["event_type"]: (r["n_pairs"], r["autocorr_lag1"])
        for r in QUERIES["ts_autocorr_lag1"](spark, SF_TEST).collect()
    }
    for et, (np_, acf) in lag1.items():
        assert got[(et, 1)] == (np_, acf), et


def test_cohens_kappa_matches_python_confusion(spark):
    """eval_cohens_kappa against a from-scratch Counter confusion
    build: the synthetic rater-B cycle, po/pe from marginals, and the
    kappa formula all recomputed independently. Also pins that the
    fixture is non-degenerate (0 < kappa < 1, pe != po): a constant
    rater-B would make kappa identically 0 and leave the marginal
    arithmetic untested (how the first langid-based cut failed)."""
    from collections import Counter

    rows = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    )
    cycle = {"de": "en", "en": "es", "es": "fr", "fr": "zh", "zh": "de"}
    pairs = [
        (
            r["lang"],
            r["lang"] if r["doc_id"] % 10 < 7 else cycle.get(r["lang"], "de"),
        )
        for r in rows
    ]
    n = len(pairs)
    conf = Counter(pairs)
    po = sum(c for (a, b), c in conf.items() if a == b) / n
    ra: Counter = Counter()
    rb: Counter = Counter()
    for (a, b), c in conf.items():
        ra[a] += c
        rb[b] += c
    pe = sum(ra[l] * rb.get(l, 0) for l in ra) / (n * n)
    kappa = (po - pe) / (1 - pe)

    got = QUERIES["eval_cohens_kappa"](spark, SF_TEST).collect()
    assert len(got) == 1
    g = got[0]
    assert g["n_docs"] == n
    assert abs(g["po"] - po) < 5e-7
    assert abs(g["pe"] - pe) < 5e-7
    assert abs(g["kappa"] - kappa) < 5e-7
    # fixture non-degeneracy
    assert abs(po - pe) > 0.01 and 0 < g["kappa"] < 1


def test_cdc_apply_matches_python_fold(spark):
    """cdc_apply_changelog against a plain dict fold of the derived
    changelog (independent code: per-row max-seq tracking, no
    aggregates). Also pins that every op class reaches the OUTPUT:
    insert-only rows, single-update rows, multi-update last-wins rows
    (status U2), and that tombstoned keys are absent even when they
    carried updates."""
    from collections import Counter

    orders = (
        spark.read.parquet(f"{SF_TEST}/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
    )
    best: dict = {}
    n_ops: Counter = Counter()

    def feed(k, seq, op, st, tp):
        n_ops[k] += 1
        if k not in best or seq > best[k][0]:
            best[k] = (seq, op, st, tp)

    for r in orders:
        k, st, tp = r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"]
        feed(k, 1, "I", st, tp)
        if k % 4 == 0:
            feed(k, 2, "U", "U1", tp + 50.0)
        if k % 8 == 0:
            feed(k, 3, "U", "U2", tp + 75.0)
        if k % 6 == 0:
            feed(k, 9, "D", "D", 0.0)
    exp = {
        k: (st, round(tp, 2), seq, n_ops[k])
        for k, (seq, op, st, tp) in best.items()
        if op != "D"
    }

    got = {
        r["o_orderkey"]: (
            r["o_orderstatus"],
            r["o_totalprice"],
            r["last_seq"],
            r["n_ops"],
        )
        for r in QUERIES["cdc_apply_changelog"](spark, SF_TEST).collect()
    }
    assert got == exp
    statuses = {v[0] for v in got.values()}
    assert "U2" in statuses and "U1" in statuses  # last-wins classes
    assert all(k % 6 != 0 for k in got)  # tombstones really gone
    assert any(k % 6 == 0 and k % 4 == 0 for k in n_ops)  # updated+deleted


def test_ngram_overlap_matches_python_rouge(spark):
    """eval_ngram_overlap_f1 against Counter-intersection ROUGE
    (``Counter(a) & Counter(b)`` IS clipped overlap — a genuinely
    different mechanism from the join+LEAST plan). Also pins that the
    fixture exercises clipping asymmetry: at least one doc has
    unigram precision < 1 (the re-appended first word exceeding the
    reference count) and every doc has recall < 1 (the two cut
    words)."""
    from collections import Counter

    docs = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .filter("doc_id % 7 = 0")
        .select("doc_id", "text")
        .collect()
    )
    got = {
        r["doc_id"]: r
        for r in QUERIES["eval_ngram_overlap_f1"](spark, SF_TEST).collect()
    }
    assert set(got) == {r["doc_id"] for r in docs}
    saw_clipped_precision = False
    for d in docs:
        rt = d["text"].split(" ")
        ct = rt[: max(len(rt) - 2, 0)] + [rt[0]]
        g = got[d["doc_id"]]
        assert (g["n_ref_tokens"], g["n_cand_tokens"]) == (len(rt), len(ct))
        for order, (pk, rk, fk) in {
            1: ("rouge1_precision", "rouge1_recall", "rouge1_f1"),
            2: ("rouge2_precision", "rouge2_recall", "rouge2_f1"),
        }.items():
            rg = [" ".join(rt[i : i + order]) for i in range(len(rt) - order + 1)]
            cg = [" ".join(ct[i : i + order]) for i in range(len(ct) - order + 1)]
            ov = sum((Counter(rg) & Counter(cg)).values())
            p = ov / len(cg) if cg else 0.0
            r = ov / len(rg) if rg else 0.0
            f1 = 2 * p * r / (p + r) if p + r > 0 else 0.0
            assert abs(g[pk] - p) < 5e-7, (d["doc_id"], order)
            assert abs(g[rk] - r) < 5e-7, (d["doc_id"], order)
            assert abs(g[fk] - f1) < 5e-7, (d["doc_id"], order)
            if order == 1 and p < 1.0:
                saw_clipped_precision = True
            assert r < 1.0  # the two cut words always cost recall
    assert saw_clipped_precision


def test_lsh_tuning_matches_python_scurve(spark):
    """dedup_lsh_tuning against a from-scratch python pipeline: set
    shingles, dict df counts, inverted-index pairs, exact Jaccard, and
    the S-curve via Decimal-quantized chain multiplication — the whole
    observed-distribution path recomputed without Spark or SQL. Also
    pins the tuning table's MEANING: detection above the verify
    threshold must be monotone DEcreasing in rows_per_band while false
    candidates are monotone INcreasing in bands, and the shipped 16×2
    config must sit at ≥99.9% expected recall with <1% of the
    32×1 config's false-candidate volume (the reason N_BANDS=16)."""
    import math
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from kinesis_adapter_spark.operators.llmops import (
        LSH_TUNING_CONFIGS,
        STOP_SHINGLE_ABS,
        STOP_SHINGLE_FRAC,
        STOP_SHINGLE_MAX,
    )

    rows = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    corpus = {r["doc_id"]: r["text"] for r in rows}
    for r in rows:
        if r["doc_id"] % 7 == 0:
            toks = r["text"].split(" ")
            corpus[r["doc_id"] + 2_000_000] = " ".join(toks[: len(toks) - 2])

    shings = {
        d: {
            " ".join(t.split(" ")[i : i + 3])
            for i in range(max(len(t.split(" ")) - 2, 0))
        }
        for d, t in corpus.items()
    }
    df: Counter = Counter(s for ss in shings.values() for s in ss)
    cap = max(
        STOP_SHINGLE_ABS,
        min(math.ceil(STOP_SHINGLE_FRAC * len(corpus)), STOP_SHINGLE_MAX),
    )
    shings = {d: {s for s in ss if df[s] <= cap} for d, ss in shings.items()}

    inv = defaultdict(list)
    for d, ss in sorted(shings.items()):
        for s in ss:
            inv[s].append(d)
    pair_inter: Counter = Counter()
    for s, ds in inv.items():
        for i in range(len(ds)):
            for jj in range(i + 1, len(ds)):
                pair_inter[(ds[i], ds[jj])] += 1

    def q6(x: float) -> float:
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    js = [
        q6(c / (len(shings[a]) + len(shings[b]) - c))
        for (a, b), c in pair_inter.items()
    ]

    def p6(j: float, b: int, r: int) -> int:
        jr = 1.0
        for _ in range(r):
            jr = jr * j
        q = 1.0 - jr
        qb = 1.0
        for _ in range(b):
            qb = qb * q
        return int(
            (Decimal(1.0 - qb) * 1_000_000).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    got = {
        (r["bands"], r["rows_per_band"]): r
        for r in QUERIES["dedup_lsh_tuning"](spark, SF_TEST).collect()
    }
    assert set(got) == set(LSH_TUNING_CONFIGS)
    above = [j for j in js if j >= 0.6]
    for b, r in LSH_TUNING_CONFIGS:
        g = got[(b, r)]
        assert g["n_pairs"] == len(js)
        assert g["n_pairs_above_06"] == len(above)
        assert abs(g["s50_threshold"] - (1.0 / b) ** (1.0 / r)) < 5e-7
        exp_da = sum(p6(j, b, r) for j in js if j >= 0.6)
        exp_fa = sum(p6(j, b, r) for j in js if j < 0.6)
        assert int(round(g["exp_detected_above_06"] * 1_000_000)) == exp_da, (b, r)
        assert int(round(g["exp_false_candidates"] * 1_000_000)) == exp_fa, (b, r)
    # meaning: the S-curve trade-off and the shipped 16×2 choice
    ordered = [got[c] for c in LSH_TUNING_CONFIGS]  # bands descending
    det = [g["exp_detected_above_06"] for g in ordered]
    fal = [g["exp_false_candidates"] for g in ordered]
    assert det == sorted(det, reverse=True)
    assert fal == sorted(fal, reverse=True)
    g16 = got[(16, 2)]
    assert g16["exp_detected_above_06"] >= 0.999 * g16["n_pairs_above_06"]
    assert g16["exp_false_candidates"] < 0.01 * got[(32, 1)]["exp_false_candidates"]


def test_fleiss_kappa_matches_python_cells(spark):
    """eval_fleiss_kappa against a from-scratch Counter cell table and
    the textbook formula (float means, not the integer-total
    divisions the engine uses). Also pins that the phase-shifted
    rater fixture is genuinely mixed: items with 3/3, 2/3 and 1/3
    majorities must all occur, and 0 < kappa < 1."""
    from collections import Counter

    rows = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    )
    langs = ["de", "en", "es", "fr", "zh"]
    cells: dict = {}
    for row in rows:
        c: Counter = Counter()
        p = langs.index(row["lang"]) if row["lang"] in langs else 0
        for r in range(3):
            ok = (row["doc_id"] + r) % 10 < 7
            c[row["lang"] if ok else langs[(p + r + 1) % 5]] += 1
        cells[row["doc_id"]] = c
    n_items, n = len(cells), 3
    p_i = [
        (sum(v * v for v in c.values()) - n) / (n * (n - 1))
        for c in cells.values()
    ]
    p_bar = sum(p_i) / n_items
    cat: Counter = Counter()
    for c in cells.values():
        cat.update(c)
    p_e = sum((v / (n * n_items)) ** 2 for v in cat.values())
    kappa = (p_bar - p_e) / (1 - p_e)

    got = QUERIES["eval_fleiss_kappa"](spark, SF_TEST).collect()
    assert len(got) == 1
    g = got[0]
    assert (g["n_items"], g["n_raters"]) == (n_items, 3)
    assert abs(g["p_bar"] - p_bar) < 5e-7
    assert abs(g["p_e"] - p_e) < 5e-7
    assert abs(g["kappa"] - kappa) < 5e-7
    majorities = {max(c.values()) for c in cells.values()}
    assert majorities == {1, 2, 3}  # unanimous, majority, three-way split
    assert 0 < g["kappa"] < 1


def test_neyman_allocation_matches_python_survey_math(spark):
    """sample_neyman_allocation against textbook survey math computed
    independently (statistics.stdev over the raw 2-dp values, float
    weight sums — NOT the engine's integer power sums / micro-unit
    totals), plus the draw re-derived per stratum from md5 ranks. Also
    pins the statistic's point: the allocation must differ from
    proportional allocation somewhere (else Neyman buys nothing on
    this fixture) and the total must land within one rounding unit per
    stratum of the budget."""
    import hashlib
    import statistics
    from collections import defaultdict

    from kinesis_adapter_spark.operators.mlprep import NEYMAN_BUDGET

    rows = (
        spark.read.parquet(f"{SF_TEST}/events.parquet")
        .select("event_id", "event_type", "value")
        .collect()
    )
    by_et: dict = defaultdict(list)
    for r in rows:
        by_et[r["event_type"]].append((r["event_id"], round(r["value"] * 100)))
    sd = {
        et: statistics.stdev([v / 100 for _, v in vals]) * 100
        for et, vals in by_et.items()
        if len(vals) > 1
    }
    # engine reports s_h in v100 units? No — it divides by 10000 under
    # the sqrt, so s_h is in VALUE units; convert the reference too
    sd = {et: s / 100 for et, s in sd.items()}
    w = {et: len(by_et[et]) * s for et, s in sd.items()}
    tot = sum(w.values())
    alloc = {et: round(NEYMAN_BUDGET * wv / tot) for et, wv in w.items()}

    got = {
        r["event_type"]: r
        for r in QUERIES["sample_neyman_allocation"](spark, SF_TEST).collect()
    }
    assert set(got) == set(alloc)
    for et, g in got.items():
        assert g["n_pop"] == len(by_et[et])
        assert abs(g["s_h"] - sd[et]) < 5e-6, et
        # float-path reference vs integer-path engine: the micro-unit
        # weight total can differ in the last unit, so allow ±1 on the
        # rounded allocation
        assert abs(g["n_alloc"] - alloc[et]) <= 1, et
        ranked = sorted(
            by_et[et],
            key=lambda t: (
                hashlib.md5(f"ney-{t[0]}".encode()).hexdigest(),
                t[0],
            ),
        )[: g["n_alloc"]]
        assert g["n_kept"] == len(ranked), et
        mean = sum(v for _, v in ranked) / len(ranked) / 100.0
        assert abs(g["mean_kept"] - mean) < 5e-7, et
    total_alloc = sum(g["n_alloc"] for g in got.values())
    assert abs(total_alloc - NEYMAN_BUDGET) <= len(got)
    prop = {
        et: round(NEYMAN_BUDGET * len(by_et[et]) / len(rows)) for et in alloc
    }
    assert any(got[et]["n_alloc"] != prop[et] for et in alloc)


def test_logreg_gd_matches_textbook_reference(spark):
    """model_logreg_train against a pure-python batch-GD reference
    computed independently from the parquet rows: textbook gradient
    (1/n)·Σ(σ(w·x) − y)·x with plain float sums of the rounded
    operands and Decimal ROUND_HALF_UP for every 6-dp compression —
    structurally NOT the engine's integer micro-unit path (the
    vocab_unigram_train reference-test discipline). Each micro-unit
    product ≤ 1e13 and n·1e13 < 2^53 at test scale, so the float
    reference is exact and only exp() ulp noise separates the two —
    hence the 2e-6 band. Also pins the point of the key: the trained
    scorer must genuinely discriminate (pair-counted AUC > 0.99) —
    else the 'quality classifier' is a coin flip."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    from kinesis_adapter_spark.operators.mlprep import (
        _LOGREG_FEATURES,
        LOGREG_ITERS,
        LOGREG_LR,
    )

    def r6(v: float) -> float:
        return float(
            Decimal(repr(float(v))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    pdf = pq.read_table(f"{SF_TEST}/documents.parquet").to_pandas()
    rows = []
    for t in pdf.itertuples():
        toks = t.text.split(" ")
        y = 1 if t.n_chars >= 300 else 0
        rows.append(
            (
                y,
                1.0,
                r6(len(toks) / 100.0),
                r6(len(t.text) * 1.0 / len(toks) / 10.0),
                r6(1.0 - len(set(toks)) * 1.0 / len(toks)),
            )
        )
    n = len(rows)
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(LOGREG_ITERS):
        g = [0.0] * 4
        for y, *x in rows:
            z = r6((((w[0] * x[0]) + w[1] * x[1]) + w[2] * x[2]) + w[3] * x[3])
            p = r6(1.0 / (1.0 + math.exp(-z)))
            for j in range(4):
                g[j] += (p - y) * x[j]
        w = [r6(w[j] - LOGREG_LR * (g[j] / n)) for j in range(4)]
    expect = dict(zip(_LOGREG_FEATURES, w))

    got = {
        r["feature"]: r["weight"]
        for r in QUERIES["model_logreg_train"](spark, SF_TEST).collect()
    }
    assert set(got) == set(expect)
    for name in expect:
        assert abs(got[name] - expect[name]) <= 2e-6, (
            name,
            got[name],
            expect[name],
        )
        assert got[name] != 0.0, name  # GD actually moved every weight

    scored = QUERIES["model_logreg_score"](spark, SF_TEST).collect()
    assert len(scored) == n
    pos = sorted(r["score"] for r in scored if r["label"] == 1)
    neg = sorted(r["score"] for r in scored if r["label"] == 0)
    import bisect

    # AUC by rank counting (ties at 0.5), no quadratic pair loop
    wins = sum(
        bisect.bisect_left(neg, s) + 0.5 * (
            bisect.bisect_right(neg, s) - bisect.bisect_left(neg, s)
        )
        for s in pos
    )
    auc = wins / (len(pos) * len(neg))
    assert auc > 0.99, auc

    # eval_model_auc must equal this independent pair-counted AUC —
    # the closed loop certified from outside the engine's rank algebra
    m = QUERIES["eval_model_auc"](spark, SF_TEST).collect()[0]
    assert m["n_pos"] == len(pos) and m["n_neg"] == len(neg)
    assert abs(m["auc_roc"] - auc) < 1e-6, (m["auc_roc"], auc)
    assert abs(m["gini"] - (2 * auc - 1)) < 2e-6

    # pipeline_quality_filter's audit must match a python recount of
    # the same scored frame at the same threshold
    from collections import defaultdict

    from kinesis_adapter_spark.operators.mlprep import QUALITY_TAU

    by_lang = defaultdict(lambda: [0, 0, 0])  # n_docs, n_kept, sum6
    lang_of = dict(zip(pdf["doc_id"], pdf["lang"]))
    for r in scored:
        cell = by_lang[lang_of[r["doc_id"]]]
        cell[0] += 1
        if r["score"] >= QUALITY_TAU:
            cell[1] += 1
            cell[2] += round(r["score"] * 1_000_000)
    audit = {
        r["lang"]: r
        for r in QUERIES["pipeline_quality_filter"](spark, SF_TEST).collect()
    }
    assert set(audit) == set(by_lang)
    for lang, (nd, nk, s6) in by_lang.items():
        a = audit[lang]
        assert a["n_docs"] == nd and a["n_kept"] == nk, lang
        assert abs(a["kept_rate"] - nk / nd) < 1e-6, lang
        if nk:
            assert abs(a["mean_score_kept"] - s6 / 1e6 / nk) < 1e-6, lang
    # the gate must actually filter (not vacuously keep everything)
    total_docs = sum(c[0] for c in by_lang.values())
    total_kept = sum(c[1] for c in by_lang.values())
    assert 0 < total_kept < total_docs


def test_exact_substring_matches_pure_python_reference(spark):
    """Independent reference for dedup_exact_substring: a pure-python
    dict-of-sets sweep (no Spark, no hashing — raw window STRINGS as
    keys) over the same mutated corpus must reproduce every
    (n_pos, n_dup_pos, dup_fraction) row exactly, and the injected
    truncated copies must read dup_fraction 1.0."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from kinesis_adapter_spark.operators.llmops import SUBSTR_L

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    corpus = dict(docs)
    for d, t in docs.items():
        if d % 7 == 0:
            corpus[d + 2_000_000] = " ".join(t.split(" ")[:-2])

    owners: dict[str, set] = defaultdict(set)
    positions: dict[int, list] = {}
    for d, t in corpus.items():
        toks = t.split(" ")
        grams = [
            " ".join(toks[p : p + SUBSTR_L])
            for p in range(len(toks) - SUBSTR_L + 1)
        ]
        if grams:
            positions[d] = grams
            for g in grams:
                owners[g].add(d)
    expected = {}
    for d, grams in positions.items():
        nd = sum(1 for g in grams if len(owners[g]) >= 2)
        expected[d] = (len(grams), nd, r6(nd / len(grams)))

    got = {
        r["doc_id"]: (r["n_pos"], r["n_dup_pos"], r["dup_fraction"])
        for r in QUERIES["dedup_exact_substring"](spark, SF_TEST).collect()
    }
    assert got == expected
    copies = [d for d in got if d >= 2_000_000]
    assert copies, "fixture produced no truncated copies"
    assert all(got[d][2] == 1.0 for d in copies), "copy not fully covered"
    assert any(v[2] < 1.0 for v in got.values()), "vacuous: everything dup"


def test_iterative_graph_keys_release_every_persist(spark):
    """The r14 _materialize_iterative lifecycle contract: after the
    unrolled-loop graph keys return (and their frame is collected),
    NO persistent RDD and no cache-manager entry may remain — the
    persists that carried the edge/degree/seed relations across the
    iterations must be released inside the call (the r9 leak rule the
    replica sweep enforces registry-wide, pinned here at the unit
    level for the two keys that persist aggressively)."""

    def persist_state():
        ids = frozenset(spark.sparkContext._jsc.getPersistentRDDs().keys())
        empty = bool(
            spark._jsparkSession.sharedState().cacheManager().isEmpty()
        )
        return ids, empty

    for key in ("graph_pagerank", "graph_label_propagation"):
        before = persist_state()
        rows = QUERIES[key](spark, SF_TEST).collect()
        assert rows, f"{key}: vacuous output"
        assert persist_state() == before, f"{key} leaked a persist"


def test_materialize_iterative_per_call_paths(spark, tmp_path):
    """ADVICE r14: _materialize_iterative must stage each call under a
    UNIQUE path — a frame returned by an earlier call stays readable
    after a later call for the same (name, sf-basename), and two
    sf_dirs sharing a basename don't collide."""
    from kinesis_adapter_spark.operators.insights import (
        _materialize_iterative,
    )

    a_dir = tmp_path / "a" / "sfX"
    b_dir = tmp_path / "b" / "sfX"  # same basename, different sf_dir
    a_dir.mkdir(parents=True)
    b_dir.mkdir(parents=True)

    f1 = _materialize_iterative(
        spark, spark.range(3).selectExpr("id AS v"), "itertest",
        str(a_dir), release=(),
    )
    f2 = _materialize_iterative(
        spark, spark.range(5).selectExpr("id AS v"), "itertest",
        str(a_dir), release=(),
    )
    f3 = _materialize_iterative(
        spark, spark.range(7).selectExpr("id AS v"), "itertest",
        str(b_dir), release=(),
    )
    # the earlier frame must still be readable (was: FileNotFound
    # after the later call's overwrite of the shared path)
    assert f1.count() == 3 and f2.count() == 5 and f3.count() == 7


def test_materialize_iterative_dumps_every_loop_plan(
    spark, tmp_path, monkeypatch
):
    """ADVICE r17 #3: with KAS_ITER_PLAN_DUMP set, each call names its
    loop-plan file by its stage sequence number, so a key that loops
    through the helper twice keeps both plans (was: one
    ``<name>_loop.txt`` overwritten by the second call)."""
    from kinesis_adapter_spark.operators.insights import (
        _materialize_iterative,
    )

    dump = tmp_path / "plans"
    monkeypatch.setenv("KAS_ITER_PLAN_DUMP", str(dump))
    for n in (3, 5):
        _materialize_iterative(
            spark, spark.range(n).selectExpr("id AS v"), "iterdump",
            str(tmp_path), release=(),
        )
    plans = sorted(dump.glob("iterdump_loop*.txt"))
    assert len(plans) == 2, plans
    assert all("Range" in p.read_text() for p in plans)


def test_bench_probe_guard_respects_budget():
    """bench._probe returns a sane sub-second reading and
    _wait_until_cool honors its wait budget even when the threshold is
    impossible (hot threshold forced to 0 → every probe reads 'hot' →
    it must return not-cool within the budget rather than spin
    forever), and draws its sleep time from the GLOBAL budget (r16)."""
    import time as _time

    import bench

    p = bench._probe()
    assert 0 < p < 1.0
    old_hot, old_budget = bench._HOT_SEC, bench._WAIT_BUDGET[0]
    try:
        bench._HOT_SEC = 0.0  # unreachably cool
        bench._WAIT_BUDGET[0] = bench.WAIT_BUDGET_TOTAL_SEC
        t0 = _time.perf_counter()
        reading, _par, cool = bench._wait_until_cool(max_wait_sec=0.5)
        assert not cool and reading > 0
        assert _time.perf_counter() - t0 < 30.0
        assert bench._WAIT_BUDGET[0] < bench.WAIT_BUDGET_TOTAL_SEC
        # exhausted global budget → a gate is one probe, no sleep
        bench._WAIT_BUDGET[0] = 0.0
        t0 = _time.perf_counter()
        reading, _par, cool = bench._wait_until_cool(max_wait_sec=120.0)
        assert not cool and _time.perf_counter() - t0 < 5.0
    finally:
        bench._HOT_SEC, bench._WAIT_BUDGET[0] = old_hot, old_budget


def test_bench_parallel_probe_gates_when_scalar_reads_cool(monkeypatch):
    """r17 (VERDICT r16 item #1): stolen-core contamination inflates
    parallel Spark stages while the single-threaded matmul probe reads
    COOL — the r16 32-core artifact published exactly that. The gate
    must therefore be hot when the PARALLEL burn exceeds its band even
    though the scalar probe is cool, and cool only when both are."""
    import bench

    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench, "_probe", lambda: 0.0)  # scalar: ice cold
    old = (bench._HOT_PAR_SEC, bench._WAIT_BUDGET[0])
    try:
        bench._WAIT_BUDGET[0] = bench.WAIT_BUDGET_TOTAL_SEC
        bench._HOT_PAR_SEC = 0.05
        # parallel burn reads 4x the band: a stolen-core host
        monkeypatch.setattr(bench, "_probe_parallel", lambda: 0.2)
        _p, par, cool = bench._wait_until_cool(max_wait_sec=0.5)
        assert not cool and par == 0.2
        # both probes in band: cool
        monkeypatch.setattr(bench, "_probe_parallel", lambda: 0.01)
        _p, par, cool = bench._wait_until_cool(max_wait_sec=0.5)
        assert cool and par == 0.01
    finally:
        bench._HOT_PAR_SEC, bench._WAIT_BUDGET[0] = old


def test_bench_parallel_probe_reads_sane(spark):
    """_probe_parallel returns a positive sub-second max-over-workers
    reading and is reusable (pooled workers). Run with the session's
    JVM and py4j threads alive, as in bench.py: the pool's workers are
    spawned, so none inherits a lock one of those threads held."""
    import bench

    p1 = bench._probe_parallel()
    p2 = bench._probe_parallel()
    assert 0 < p1 < 2.0 and 0 < p2 < 2.0


def test_bench_guard_calibration(monkeypatch):
    """_calibrate_guard (r16): on a slower host the floor of the
    spaced samples becomes the reference and the hot threshold clears
    the measured idle ceiling (second-max x headroom) — the r15
    pin-factor rule read such a host's IDLE noise as permanent
    contamination and slept every wait budget. On a pin-class host the
    pin is kept and the threshold reduces to the r15 factor rule."""
    import bench

    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    fake = iter([0.05, 0.04, 0.18, 0.041, 0.05, 0.07, 0.12, 0.05])
    monkeypatch.setattr(bench, "_probe", lambda: next(fake))
    # r17: calibration also samples the parallel burn probe — feed it
    # a slower-host series too (floor 2x the par pin) and check the
    # same floor/ceiling rules apply to its band
    par_pin = bench.PROBE_PAR_REF_SEC
    fake_par = iter([par_pin * 2.5, par_pin * 2.0, par_pin * 3.0, par_pin * 2.2])
    monkeypatch.setattr(bench, "_probe_parallel", lambda: next(fake_par))
    old = (bench._REF_SEC, bench._HOT_SEC, bench._PAR_REF_SEC, bench._HOT_PAR_SEC)
    try:
        cal = bench._calibrate_guard()
        assert not cal["pin_kept"]
        assert bench._REF_SEC == 0.04  # floor of the samples, > pin
        # ceiling = second-max (0.12, the 0.18 outlier dropped)
        assert abs(bench._HOT_SEC - 0.12 * bench.PROBE_NOISE_HEADROOM) < 1e-9
        # idle-class readings now gate cool, a genuine burst reads hot
        assert 0.12 <= bench._HOT_SEC < 0.18
        # parallel band: pin dropped (floor 2x pin), ceiling = second-
        # max (2.5x pin, the 3x outlier dropped) x headroom
        assert not cal["par_pin_kept"]
        assert bench._PAR_REF_SEC == par_pin * 2.0
        assert (
            abs(
                bench._HOT_PAR_SEC
                - par_pin * 2.5 * bench.PROBE_NOISE_HEADROOM
            )
            < 1e-9
        )
        # pin-class host: floor within factor of the pin → pin kept,
        # threshold at least the r15 rule
        fake2 = iter([bench.PROBE_REF_SEC * 1.1] * 8)
        monkeypatch.setattr(bench, "_probe", lambda: next(fake2))
        fake_par2 = iter([par_pin * 1.1] * 4)
        monkeypatch.setattr(bench, "_probe_parallel", lambda: next(fake_par2))
        cal2 = bench._calibrate_guard()
        assert cal2["pin_kept"] and cal2["par_pin_kept"]
        assert bench._REF_SEC == bench.PROBE_REF_SEC
        assert bench._PAR_REF_SEC == bench.PROBE_PAR_REF_SEC
        assert (
            bench._HOT_SEC
            >= bench.PROBE_HOT_FACTOR * bench.PROBE_REF_SEC - 1e-12
        )
        assert (
            bench._HOT_PAR_SEC
            >= bench.PROBE_HOT_FACTOR * bench.PROBE_PAR_REF_SEC - 1e-12
        )
    finally:
        (
            bench._REF_SEC,
            bench._HOT_SEC,
            bench._PAR_REF_SEC,
            bench._HOT_PAR_SEC,
        ) = old


def test_ivf_cell_local_threshold_rows_per_task_rule():
    """_ivf_cell_local_threshold (VERDICT r15 next #3): the dynamic
    rows-per-task rule must pick the MEASURED winner of the r15
    crossover table (SCALE.md: 4k-row tasks, artifact/cell-local wall
    3.5/9.7 at k=25k, 11.2/14.4 at 60k, 19.4/16.8 at 100k, 57.8/30.0
    at 240k — crossover ≈80k), keep the 200k constant as the ceiling
    at production partition sizes, and reduce to the constant when the
    caller doesn't know the corpus size."""
    from kinesis_adapter_spark.operators.embeddings_ops import (
        IVF_CELL_LOCAL_K,
        _ivf_cell_local_threshold,
    )

    # r15 measured regime: 128k corpus over 32 tasks = 4k rows/task
    thr = _ivf_cell_local_threshold(128_000, 32)
    assert thr == 80_000  # 20 x 4k — the measured local crossover
    measured_winner = {
        25_000: "artifact",
        60_000: "artifact",
        100_000: "cell_local",
        240_000: "cell_local",
    }
    for k, winner in measured_winner.items():
        pick = "cell_local" if k >= thr else "artifact"
        assert pick == winner, (k, pick, winner)
    # production 128 MB partitions (~1e5-1e6 rows/task): the constant
    # is the ceiling — k ∝ n regimes always take the bounded path
    assert _ivf_cell_local_threshold(10_000_000, 100) == IVF_CELL_LOCAL_K
    # unknown corpus size (streaming micro-batches, tests): constant
    assert _ivf_cell_local_threshold(None, None) == IVF_CELL_LOCAL_K
    assert _ivf_cell_local_threshold(128_000, None) == IVF_CELL_LOCAL_K
    assert _ivf_cell_local_threshold(0, 8) == IVF_CELL_LOCAL_K


def test_bench_calibration_suspect_crosscheck():
    """_calibration_suspect (ADVICE r15, medium): a dropped-pin
    calibration is retroactively marked suspect iff any later probe
    reads pin-class cool — proof the 'slower host' floor was really a
    sustained load burst. A kept pin is never suspect, and a dropped
    pin on a host whose every later probe stays above the pin band is
    a genuinely slower host, not contamination."""
    import bench

    pin = bench.PROBE_REF_SEC
    hot = bench.PROBE_HOT_FACTOR
    # kept pin: never suspect, whatever the probes say
    assert not bench._calibration_suspect(True, [pin * 0.5, pin * 9])
    # dropped pin + a later pin-class-cool probe => burst calibration
    assert bench._calibration_suspect(False, [pin * 8, pin, pin * 6])
    assert bench._calibration_suspect(False, [pin * hot])  # boundary
    # dropped pin, all probes stay above the pin band => slower host
    assert not bench._calibration_suspect(False, [pin * 5, pin * 1.8])
    assert not bench._calibration_suspect(False, [])
    # r17: same cross-check against the PARALLEL pin via ref_pin
    ppin = bench.PROBE_PAR_REF_SEC
    assert bench._calibration_suspect(False, [ppin * 4, ppin], ref_pin=ppin)
    assert not bench._calibration_suspect(
        False, [ppin * 4, ppin * 2], ref_pin=ppin
    )


def test_ivf_cell_local_assignment_matches_artifact_path(spark, monkeypatch):
    """The >10⁶-seed cell-local cogroup path (r14) must produce the
    EXACT assignment map of the default artifact-read path on the same
    staged seed routing — both paths share _chunked_sqdist_argmin and
    the fc-sorted tie discipline, so any divergence is a bug, not a
    tolerance. Forced via KAS_IVF_CELL_LOCAL at sf0.001 (k far below
    the production threshold)."""
    from pyspark.sql import functions as F

    from kinesis_adapter_spark.operators.embeddings_ops import (
        _ivf_two_level_assign,
        _semdedup_corpus,
        _semdedup_k,
        ivf_seed_table,
    )

    sf = "/root/testdata/sf0.001"
    corpus = _semdedup_corpus(spark, sf)
    k, kc = _semdedup_k(corpus.count())
    xframe = corpus.select("vec_id", F.col("emb").alias("x"))
    seed_table = ivf_seed_table(spark, sf, xframe, k, kc)

    def amap():
        rows = _ivf_two_level_assign(
            xframe, k=k, kc=kc, seed_table=seed_table
        ).collect()
        return {r["vec_id"]: r["cluster"] for r in rows}

    default = amap()
    monkeypatch.setenv("KAS_IVF_CELL_LOCAL", "force")
    forced = amap()
    monkeypatch.delenv("KAS_IVF_CELL_LOCAL")
    assert default, "vacuous: no assignments produced"
    assert forced == default


def test_pair_scan_boundary_guard_fires_and_gates(monkeypatch):
    """The 6-dp rounding-boundary guard (VERDICT r13 item #6, bands
    re-tiered per ADVICE r14): a raw cosine within the 1e-12 HARD band
    of the decision boundary (tau - 0.5e-6) must raise the
    documented-class diagnostic; one in the (1e-12, 1e-10) WARN band
    must log-and-count but run through; clear values must pass;
    KAS_SIM_BOUNDARY_GUARD=off must run through."""
    import numpy as np

    from kinesis_adapter_spark.operators import embeddings_ops as eo

    tau = 0.9
    boundary = tau - 5e-7
    ids = np.array([1, 2], dtype=np.int64)
    nr = np.array([1.0, 1.0])
    # off-diagonal dot = boundary exactly (norms 1): margin ~0 → raise
    m_hit = np.array([[1.0], [boundary]])
    with pytest.raises(RuntimeError, match="rounding-boundary"):
        list(eo._cosine_pair_chunks(m_hit, ids, nr, tau))
    # guard off: same input runs through
    monkeypatch.setenv("KAS_SIM_BOUNDARY_GUARD", "off")
    got = list(eo._cosine_pair_chunks(m_hit, ids, nr, tau))
    assert got  # chunks yielded, no raise
    monkeypatch.delenv("KAS_SIM_BOUNDARY_GUARD")
    # warn band: margin ~5e-11 (inside 1e-10, outside 1e-12) → no
    # raise, warn metric bumped, pairs still produced
    before = eo._BOUNDARY_WARN_COUNT
    m_warn = np.array([[1.0], [boundary + 5e-11]])
    warned = list(eo._cosine_pair_chunks(m_warn, ids, nr, tau))
    assert warned and eo._BOUNDARY_WARN_COUNT == before + 1
    # clear of the boundary: normal operation, qualifying pair found
    m_ok = np.array([[1.0], [0.95]])
    pairs = [
        (int(g[0]), int(j[0]), float(s[0]))
        for g, j, s in list(eo._cosine_pair_chunks(m_ok, ids, nr, tau))
        if len(g)
    ]
    assert pairs == [(0, 1, 0.95)]


def test_router_boundary_guard_fires_and_gates(monkeypatch):
    """The router half of the 6-dp guard: a row whose two best rounded
    distances sit within one grid step AND whose raw distance lands on
    a 0.5e-6 rounding boundary must raise; well-separated seeds must
    not; KAS_SIM_BOUNDARY_GUARD=off must run through."""
    import math

    import numpy as np

    from kinesis_adapter_spark.operators.embeddings_ops import (
        _chunked_sqdist_argmin,
    )

    m = np.array([[0.0]])
    # d2 = 2.5e-6 (exactly on a x.5e-6 boundary) and 3.0e-6 → rounded
    # gap is one grid step → decision-relevant → guard fires
    smat_hit = np.array([[math.sqrt(2.5e-6)], [math.sqrt(3.0e-6)]])
    with pytest.raises(RuntimeError, match="rounding-boundary"):
        _chunked_sqdist_argmin(m, smat_hit)
    monkeypatch.setenv("KAS_SIM_BOUNDARY_GUARD", "off")
    out = _chunked_sqdist_argmin(m, smat_hit)
    assert out[0] in (0, 1)
    monkeypatch.delenv("KAS_SIM_BOUNDARY_GUARD")
    # well-separated seeds: no close rows, argmin as usual
    smat_ok = np.array([[0.1], [5.0]])
    assert _chunked_sqdist_argmin(m, smat_ok)[0] == 0


def test_rolling_window_hash_matches_direct_polynomial():
    """The O(n) prefix-trick rolling hash behind dedup_exact_substring
    (r14, the docstring-promised 100 TB map stage) must equal the
    direct per-window polynomial Σ th[pos+j]·B^(L-1-j) mod 2^64 —
    including across concatenated doc boundaries (the batch kernel
    hashes the concatenated token stream once; telescoping makes each
    window hash depend only on its own L tokens, which this verifies
    empirically at every boundary offset)."""
    import numpy as np

    from kinesis_adapter_spark.operators.llmops import (
        _RH_B1,
        _RH_B2,
        _rolling_window_hashes,
    )

    M = 1 << 64
    rng = np.random.default_rng(7)
    for base in (_RH_B1, _RH_B2):
        for n, L in ((1, 1), (5, 5), (6, 5), (40, 7), (200, 20)):
            th = rng.integers(0, M, size=n, dtype=np.uint64)
            got = _rolling_window_hashes(th, L, base)
            assert len(got) == n - L + 1
            for pos in range(n - L + 1):
                want = 0
                for j in range(L):
                    want = (want * base + int(th[pos + j])) % M
                assert int(got[pos]) == want, (base, n, L, pos)
    # short stream: no windows
    th = rng.integers(0, M, size=3, dtype=np.uint64)
    assert len(_rolling_window_hashes(th, 5, _RH_B1)) == 0
    # boundary independence: a window's hash is identical whether the
    # stream before it is empty or arbitrary (the concatenated-batch
    # kernel relies on this)
    prefix = rng.integers(0, M, size=13, dtype=np.uint64)
    tail = rng.integers(0, M, size=30, dtype=np.uint64)
    alone = _rolling_window_hashes(tail, 8, _RH_B1)
    joined = _rolling_window_hashes(
        np.concatenate([prefix, tail]), 8, _RH_B1
    )
    assert (joined[13:] == alone).all()


def test_gopher_rules_match_pure_python_reference(spark):
    """Independent reference for quality_gopher_rules: plain-python
    token loops replaying each rule (count bounds, mean word length,
    alpha fraction, stop-word presence) must reproduce every row, and
    BOTH pass classes must be populated (non-vacuous gate)."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from kinesis_adapter_spark.operators.llmops import GOPHER_STOPS

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    expected = {}
    for r in (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ):
        toks = r["text"].split(" ")
        n = len(toks)
        mwl = r6(sum(len(w) for w in toks) / n)
        fa = r6(sum(1 for w in toks if re.search("[a-zA-Z]", w)) / n)
        hits = len(set(toks) & set(GOPHER_STOPS))
        passes = int(
            30 <= n <= 100_000 and 3 <= mwl <= 10 and fa >= 0.8 and hits >= 1
        )
        expected[r["doc_id"]] = (n, mwl, fa, hits, passes)

    got = {
        r["doc_id"]: (
            r["n_words"],
            r["mean_word_len"],
            r["frac_alpha_words"],
            r["stop_hits"],
            r["passes"],
        )
        for r in QUERIES["quality_gopher_rules"](spark, SF_TEST).collect()
    }
    assert got == expected
    flags = {v[4] for v in got.values()}
    assert flags == {0, 1}, f"gate is vacuous: only {flags}"


def test_ccnet_buckets_match_pure_python_reference(spark):
    """Independent reference for quality_ccnet_buckets: a pure-python
    unigram LM (Counter over the lowercased token stream) scores every
    doc, and plain sort/floor arithmetic replays the per-lang tercile
    cut — every (n_tokens, avg_logprob, bucket) row must match, each
    lang must populate ALL THREE buckets, and per-lang bucket sizes
    may differ by at most one (the equal-split invariant)."""
    import math
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    rows = (
        spark.read.parquet(f"{SF_TEST}/documents.parquet")
        .select("doc_id", "lang", "text")
        .collect()
    )
    toks = {r["doc_id"]: [t for t in r["text"].lower().split(" ") if t] for r in rows}
    lang = {r["doc_id"]: r["lang"] for r in rows}
    lm = Counter(t for ts in toks.values() for t in ts)
    total = sum(lm.values())
    score = {
        d: r6(sum(math.log(lm[t] / total) for t in ts) / len(ts))
        for d, ts in toks.items()
    }
    by_lang = defaultdict(list)
    for d in toks:
        by_lang[lang[d]].append(d)
    expected = {}
    for lg, ids in by_lang.items():
        ids.sort(key=lambda d: (-score[d], d))
        n = len(ids)
        for i, d in enumerate(ids):
            b = math.floor(3 * i / n)
            expected[d] = (
                len(toks[d]),
                score[d],
                ["head", "middle", "tail"][b],
            )

    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["bucket"])
        for r in QUERIES["quality_ccnet_buckets"](spark, SF_TEST).collect()
    }
    assert got == expected
    sizes = defaultdict(Counter)
    for d, (_, _, b) in got.items():
        sizes[lang[d]][b] += 1
    for lg, c in sizes.items():
        assert set(c) == {"head", "middle", "tail"}, (lg, dict(c))
        assert max(c.values()) - min(c.values()) <= 1, (lg, dict(c))
