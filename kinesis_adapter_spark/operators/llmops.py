"""LLM-data-pipeline operators: dedup + text analysis (SURVEY.md §2.1-J).

These are the operators a 100 TB training-data pipeline actually runs.
Design rules:
- everything is DataFrame-native (explode/groupBy/join/HOF) — no
  driver-side loops, no RDDs;
- dedup keys are content hashes so the heavy shuffle carries 16-byte
  digests, not document bodies;
- near-dup has THREE paths, all fully oracled since round 4: an exact
  inverted-index n-gram Jaccard (quadratic only within shingle
  buckets), a MinHash+LSH path (the 100 TB approximation, banded
  recall-complete at the verify threshold so it shares the exact
  oracle), and SimHash Hamming-≤2 blocking (md5-derived bits, so the
  oracle replays the identical majority vote).

Duplicate fixtures are derived in-query (documents has zero dups at
any sf — FIXTURES.md): a deterministic subset is re-tagged with
doc_id+1_000_000 and unioned, identically in Spark and the oracle SQL.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_adapter_spark.catalog import load
from kinesis_adapter_spark.plans.registry import query
from kinesis_adapter_spark.session import released_persists
from kinesis_adapter_spark.staging import run_root, staged

# ---------------------------------------------------------------- fixtures

# Docs with doc_id % 5 == 0 are duplicated under doc_id+1_000_000.
DUPED_SQL = """
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
"""


def duped_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ re-tagged copy of every 5th doc (exact dup rows)."""
    d = load(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return d.unionByName(dup)


# Near-dup fixture: every 7th doc reappears with the last two words cut.
MUTATED_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(str_split(text, ' ')[1:len(str_split(text, ' ')) - 2], ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
"""


def mutated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    mut = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 2), " ").alias("text"),
        )
    )
    return d.unionByName(mut)


# ---------------------------------------------------------------- exact dedup


@query(
    "dedup_exact",
    f"""
    WITH duped AS ({DUPED_SQL})
    SELECT doc_id, lang, source
    FROM duped
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per text digest.

    Partitioning by md5(text) (not text) keeps the shuffle payload at
    16 bytes/row regardless of document size — at 100 TB the dedup
    shuffle moves ~2% of the corpus bytes. dropDuplicates would pick an
    arbitrary survivor; the window makes it deterministic."""
    d = duped_documents(spark, sf_dir)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@query(
    "dedup_normalized",
    f"""
    WITH duped AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, upper(text) AS text
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id
    FROM duped
    QUALIFY row_number() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ORDER BY doc_id) = 1
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on a normalized key (lowercase, collapsed whitespace) —
    catches case/spacing variants that exact dedup misses; the derived
    fixture re-injects every 5th doc UPPERCASED."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), F.upper("text").alias("text"))
    )
    key = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    w = Window.partitionBy(key).orderBy("doc_id")
    return (
        d.unionByName(dup)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


# ------------------------------------------------------- near-dup (exact path)

# Word-3-gram shingle set per doc. Two perf rules learned by measurement
# (~8× each at sf0.1): hoist split() into its own projection so the
# transform lambda reads a bound column instead of re-splitting the text
# per element (O(T²) otherwise), and explode the EXPRESSION inline —
# exploding a previously-projected array column materializes the array
# into row format first.
_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(1, greatest(size(toks) - 2, 0)),"
    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])))"
)


def shingled(docs: DataFrame, exploded: bool) -> DataFrame:
    """(doc_id, s) exploded shingles or (doc_id, sh) shingle arrays."""
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    if exploded:
        return toked.select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("s"))
    return toked.select("doc_id", F.expr(_SHINGLES_EXPR).alias("sh"))


# Stop-shingle document-frequency cap (the 100 TB skew guard, now REAL
# on both engines): a shingle present in more than max(ABS, ceil(FRAC·N))
# documents is a stop-shingle ("the quick brown") and is dropped before
# pair generation — without this, one hot shingle makes the inverted-
# index self-join quadratic in its document list. At sf0.01 the cap
# (max df observed: 9; cap = max(5, ceil(0.01·572)) = 6) actively
# filters 100+ shingles while leaving the ≥0.6 pair set unchanged —
# measured, so the guard is exercised by the oracle, not dead code.
STOP_SHINGLE_ABS = 5
STOP_SHINGLE_FRAC = 0.01
# Absolute ceiling on the df cap (r4): the FRAC term alone grows the
# cap linearly with corpus size, which makes candidate pairs grow as
# sum(df^2) — measured 30.6x runtime at 8x data in tools/scale_smoke.py
# before this bound. Capping the bucket absolutely keeps the worst
# shingle's pair fan-out constant at any corpus size (the standard
# blocking-key discipline); unchanged at the sf0.01 oracle scale where
# ceil(0.01*572)=6 < 64.
STOP_SHINGLE_MAX = 64


def stop_shingle_cap(n_docs_col):
    """The one stop-shingle df-cap formula, as a Column expression:
    max(ABS, min(ceil(FRAC * n_docs), MAX)).

    Every consumer (batch `capped_shingles`, the n-gram / containment
    SQL oracles via the module constants, and the streaming artifact
    query in `streaming/pipelines.py`) must derive its cap from here so
    the bounded formula can never fork: r4 bounded the batch path after
    a measured 30.6x superlinearity, and the r4 verdict caught the
    streaming twin still running the unbounded fractional formula."""
    return F.greatest(
        F.lit(STOP_SHINGLE_ABS),
        F.least(F.ceil(n_docs_col * STOP_SHINGLE_FRAC), F.lit(STOP_SHINGLE_MAX)),
    )


def capped_shingles(docs: DataFrame) -> DataFrame:
    """Exploded (doc_id, s) with stop-shingles removed.

    The df count is a window over the shingle key, so the same shuffle
    partitioning feeds the downstream pair-generation join; the corpus
    size joins in as a broadcast scalar (declarative — no driver-side
    count())."""
    sh = shingled(docs, exploded=True)
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    cap = stop_shingle_cap(F.col("n_docs"))
    return (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") <= cap)
        .select("doc_id", "s")
    )


def capped_shingle_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per process) the stop-shingle-capped exploded
    shingle relation ``(doc_id, s)`` as parquet — the
    minhash_signature_table discipline applied to the raw-shingle
    consumers (VERDICT r16 item #5). The r16 plans showed every
    consumer of `capped_shingles` re-executing the tokenize +
    df-cap-window subtree per plan reference (dedup_near_ngram and
    dedup_containment 3x each, dedup_lsh_tuning 4x before its r16
    persist): the relation is the same small inverted-index table
    every time, so at 100 TB it is maintained as an artifact — staged
    by Spark jobs under the run root, keyed by the documents.parquet
    fingerprint, reaped with the process, never a result cache (every consumer
    still runs its full pair join + verify from the artifact, exactly
    like the signature table's probe queries). One lineage pass, one
    parquet write; consumers read (doc_id, s) with column pruning."""
    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    path = staged(
        Path(run_root()) / f"kas_shingles_{sf_tag}",
        [Path(sf_dir) / "documents.parquet"],
        lambda tmp: capped_shingles(mutated_documents(spark, sf_dir)).write.parquet(
            str(tmp)
        ),
    )
    return str(path)


# One source of truth for the oracle-side capped-shingle CTE chain
# (mirrors capped_shingles above): both the self-join near-dup oracle
# and the cross-set contamination oracle splice this in, so the cap
# formula cannot fork between them (same rule as stop_shingle_cap).
CAPPED_SHINGLE_CTES = f"""shing0 AS (
  SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
  FROM (
    SELECT doc_id, tk, unnest(generate_series(1, GREATEST(len(tk) - 2, 0))) AS i
    FROM (SELECT doc_id, str_split(text, ' ') AS tk FROM docs)
  )
),
nd AS (SELECT COUNT(*) AS n_docs FROM docs),
shing AS (
  SELECT doc_id, s
  FROM (SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM shing0), nd
  WHERE df <= GREATEST({STOP_SHINGLE_ABS}, LEAST(CEIL(n_docs * {STOP_SHINGLE_FRAC}), {STOP_SHINGLE_MAX}))
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id)"""

NGRAM_JACCARD_ORACLE = f"""
WITH docs AS ({MUTATED_SQL}),
{CAPPED_SHINGLE_CTES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.6
"""


@query("dedup_near_ngram", NGRAM_JACCARD_ORACLE)
def dedup_near_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate pairs by word-3-gram Jaccard ≥ 0.6 over
    stop-shingle-capped shingle sets.

    Inverted-index pair generation: explode distinct shingles, self-
    join on the shingle, count shared shingles per pair — candidates
    are only pairs sharing ≥1 shingle, never the full cross product.
    The stop-shingle df cap (capped_shingles) bounds each shingle's
    document list, so the self-join's worst bucket is cap², not
    hot-shingle².

    r17 (guide §2.4/§6, VERDICT r16 item #5): the three consumers of
    the shingle relation (both self-join sides + sizes) each
    re-executed the tokenize + df-cap-window subtree; they now read
    the staged capped-shingle artifact (capped_shingle_table), so the
    executed plan carries parquet scans of the small (doc_id, s)
    table instead of three corpus passes. Same rows in, same pairs
    out — oracle-proven at both sfs."""
    sh = spark.read.parquet(capped_shingle_table(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------- near-dup (MinHash+LSH, oracled)

N_HASHES = 32
# 16 bands × 2 rows: P(candidate | j) = 1-(1-j²)^16 → 0.9992 at j=0.6,
# ~1-1e-16 at the fixture's actual near-dup similarity (~0.95). The
# band count is chosen RECALL-COMPLETE at the ≥0.6 verify threshold so
# the verified pair list equals the exact inverted-index result and the
# key shares its brute-force Jaccard SQL oracle (VERDICT r01 item #4);
# xxhash64 determinism makes the equality stable run-to-run.
N_BANDS = 16


def minhash_signature_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per process) the MinHash signature table as
    parquet — the REAL 100 TB artifact (VERDICT r01 item #3), not an
    in-flight cache: one row per doc, ``(doc_id, sh array<string>,
    h0..h31)``.

    ONE aggregation over ONE pass of the shingle lineage computes both
    the capped shingle set (verify side) and all 32 min-hashes
    (collect_set and the mins share the groupBy(doc_id) shuffle); one
    parquet write, no cache. Band keys are NOT stored — they derive
    map-only from the h-columns at probe time, and parquet column
    pruning means the band self-join reads only (doc_id, h*) while the
    verify lookup reads only (doc_id, sh). In production this staging
    is the incremental index-maintenance job (append-only docs →
    append-only signature rows); every dedup query after it touches
    only the artifact, never the text. Per-process staging dirs avoid
    cross-process overwrite races (same rationale as the bucketed-join
    tables, scaleops.py)."""

    def build(tmp: Path) -> None:
        # The 32 min-hashes run as codegen'd aggregates over the
        # exploded shingles (nested HOF lambdas are interpreted per
        # element in Spark — measured ~100× slower than explode +
        # partial-agg, which also map-side-combines before the
        # shuffle); collect_set rides the same aggregation.
        (
            capped_shingles(mutated_documents(spark, sf_dir))
            .groupBy("doc_id")
            .agg(
                F.collect_set("s").alias("sh"),
                *[
                    F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"h{i}")
                    for i in range(N_HASHES)
                ],
            )
            .write.parquet(str(tmp))
        )

    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    path = staged(
        Path(run_root()) / f"kas_minhash_{sf_tag}",
        [Path(sf_dir) / "documents.parquet"],
        build,
    )
    return str(path)


def banded_signatures(sig: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band keys, derived map-only from a
    signature frame's h-columns. The ONE derivation every probe uses
    (index self-join, contamination cross-probe): band keys must stay
    bit-identical across all consumers of the signature artifact or a
    probe silently generates zero candidates — same never-fork rule as
    stop_shingle_cap (r5 review finding)."""
    rows_per_band = N_HASHES // N_BANDS
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(N_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )


@query("dedup_near_minhash", NGRAM_JACCARD_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs with exact Jaccard verify — the
    100 TB path (cost linear in corpus + candidate pairs).

    signature[i] = min(xxhash64(shingle, seed_i)) per doc; band hash =
    hash of 2 consecutive signature slots; docs sharing any band bucket
    become candidates; candidates are verified with exact Jaccard on
    the stop-shingle-capped shingle sets, so the output is the same
    exact pair list as dedup_near_ngram (same oracle) — LSH only
    changes HOW candidates are found, not what survives the verify.

    The query itself NEVER touches document text: both sides of the
    band self-join and both verify lookups read the materialized
    signature table (minhash_signature_table above — built in one
    lineage pass, reused across queries), exactly the artifact layout
    a 100 TB deployment maintains incrementally. Column pruning splits
    the artifact reads: the band join scans only (doc_id, h*), the
    verify only (doc_id, sh). Pinned by a plan test: the executed
    probe plan contains zero shingle computations and reads only the
    staged parquet."""
    sig = spark.read.parquet(minhash_signature_table(spark, sf_dir))
    banded = banded_signatures(sig)
    sets = sig.select("doc_id", "sh")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "sig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact Jaccard verify on candidates only, via array_intersect on
    # the per-doc capped shingle sets (candidate pairs ≪ corpus, so the
    # two lookup joins are cheap; at 100 TB broadcast the candidate
    # list).
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    c = F.size(F.array_intersect("sa", "sb"))
    jac = c / (F.size("sa") + F.size("sb") - c)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ------------------------------------------------ LSH parameter tuning

# (bands, rows_per_band) configurations with bands*rows = N_HASHES: the
# sweep a deployment runs BEFORE committing a (b, r) choice for a
# 100 TB dedup pass — the S-curve P(candidate | j) = 1-(1-j^r)^b trades
# recall at the verify threshold against false-candidate volume, and
# the right point depends on the corpus's OWN pair-similarity
# distribution, which is exactly what this key measures it against.
LSH_TUNING_CONFIGS = [(32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32)]


def _lsh_p6_expr(b: int, r: int, j: str = "j") -> str:
    """Detection probability 1-(1-j^r)^b as a 6-dp-compressed INTEGER
    (micro-units) — one SQL text evaluated by BOTH engines. Powers are
    explicit left-associated multiply chains (never POW/EXP): IEEE
    multiplication is bit-identical across engines while libm pow need
    not be, and the 6-dp compression turns the cross-pair SUM into
    exact integer arithmetic (the eval_auc_roc compressed-domain
    discipline — float sums would depend on partition order)."""
    jr = "*".join([j] * r)
    q = f"(1.0 - {jr})"
    qb = "*".join([q] * b)
    return f"CAST(ROUND(ROUND(1.0 - {qb}, 6) * 1000000, 0) AS BIGINT)"


def _lsh_tuning_oracle() -> str:
    per_cfg_sums = ",\n         ".join(
        f"SUM(CASE WHEN j >= 0.6 THEN {_lsh_p6_expr(b, r)} ELSE 0 END)"
        f" AS da_{b}_{r},\n         "
        f"SUM(CASE WHEN j < 0.6 THEN {_lsh_p6_expr(b, r)} ELSE 0 END)"
        f" AS fa_{b}_{r}"
        for b, r in LSH_TUNING_CONFIGS
    )
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({b} AS BIGINT) AS bands,"
        f" CAST({r} AS BIGINT) AS rows_per_band,"
        f" CAST({round((1.0 / b) ** (1.0 / r), 6)!r} AS DOUBLE)"
        f" AS s50_threshold,"
        f" n_pairs, n_pairs_above_06,"
        f" ROUND(da_{b}_{r} / 1000000.0, 6) AS exp_detected_above_06,"
        f" ROUND(fa_{b}_{r} / 1000000.0, 6) AS exp_false_candidates"
        f" FROM agg"
        for b, r in LSH_TUNING_CONFIGS
    )
    return f"""
    WITH docs AS ({MUTATED_SQL}),
    {CAPPED_SHINGLE_CTES},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT ROUND(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS j
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN j >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pairs_above_06,
         {per_cfg_sums}
      FROM pairs
    )
    {selects}
    ORDER BY bands DESC
    """


def _lsh_tuning_pair_agg(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    """The pair relation + the ONE aggregation pass over it that
    dedup_lsh_tuning collects its single metadata row from. Private
    builder shared with tests/test_plans.py's single-agg plan pin so
    the pinned plan IS the shipped code path (ADVICE r11: a
    hand-reconstructed proxy plan in the test would keep passing if
    the key regressed to a per-config agg loop).

    ``shingles`` lets the caller hand in a persisted capped-shingle
    frame (r16, guide §1.2/§5): the relation feeds THREE consumers
    (both self-join sides + sizes) and the optimizer reuses none of
    them — the executed plan carried the tokenize + df-cap-window
    subtree 4x (4 Window nodes, 16 parquet scans, 0 ReusedExchange).
    The key persists it for the one bounded collect and releases it
    before returning; same rows in, same sums out."""
    sh = (
        shingles
        if shingles is not None
        else capped_shingles(mutated_documents(spark, sf_dir))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b_ = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b_, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.round(
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6
            ).alias("j")
        )
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("j") >= 0.6, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_above_06"),
    ]
    for b, r in LSH_TUNING_CONFIGS:
        p6 = F.expr(_lsh_p6_expr(b, r))
        aggs.append(
            F.sum(F.when(F.col("j") >= 0.6, p6).otherwise(F.lit(0))).alias(
                f"da_{b}_{r}"
            )
        )
        aggs.append(
            F.sum(F.when(F.col("j") < 0.6, p6).otherwise(F.lit(0))).alias(
                f"fa_{b}_{r}"
            )
        )
    return pairs.agg(*aggs)


@query("dedup_lsh_tuning", _lsh_tuning_oracle())
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-structure tuning table: for every (bands,
    rows_per_band) split of the N_HASHES-signature budget, the
    expected candidate recall above the 0.6 verify threshold and the
    expected false-candidate volume below it, evaluated against the
    corpus's OBSERVED pair-Jaccard distribution (every pair sharing
    ≥1 stop-shingle-capped shingle, exact Jaccard) — plus the config's
    closed-form s50 = (1/b)^(1/r) S-curve midpoint. This is the table
    that justifies dedup_near_minhash's 16×2 choice, produced by the
    engine itself: at 100 TB you run it on a corpus sample BEFORE
    burning a full LSH pass on a bad (b, r).

    Shape: the pair relation is the same bounded inverted-index join
    as dedup_near_ngram (stop-shingle cap bounds fan-out); ALL configs
    reduce in ONE aggregation pass over it (12 conditional sums in one
    partial agg), and the per-config rows come from a bounded 1-row
    collect (model metadata — the argmax-round discipline).
    Determinism: detection probabilities use explicit multiply chains
    and 6-dp integer compression (_lsh_p6_expr), so every cross-pair
    sum is exact integer arithmetic on both engines; s50 literals are
    Python-computed constants shared verbatim."""
    # bounded: ONE row of sums, built by the shared private builder
    # whose plan the test pins (the shipped code path, not a proxy).
    # r17 (VERDICT r16 item #5): the r16 shape persisted the
    # capped-shingle relation for the single collect (3 consumers, no
    # optimizer reuse); it now reads the staged capped-shingle
    # artifact — no cache materialization inside the timed call, and
    # the pair join's inputs are column-pruned parquet scans.
    sh = spark.read.parquet(capped_shingle_table(spark, sf_dir))
    row = _lsh_tuning_pair_agg(spark, sf_dir, shingles=sh).collect()[0]
    out = [
        (
            b,
            r,
            round((1.0 / b) ** (1.0 / r), 6),
            row["n_pairs"],
            row["n_pairs_above_06"],
            round(row[f"da_{b}_{r}"] / 1_000_000, 6),
            round(row[f"fa_{b}_{r}"] / 1_000_000, 6),
        )
        for b, r in LSH_TUNING_CONFIGS
    ]
    return spark.createDataFrame(
        out,
        "bands bigint, rows_per_band bigint, s50_threshold double, "
        "n_pairs bigint, n_pairs_above_06 bigint, "
        "exp_detected_above_06 double, exp_false_candidates double",
    ).orderBy(F.col("bands").desc())


SIMHASH_ORACLE = f"""
WITH docs AS ({MUTATED_SQL}),
tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM docs),
h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::INT AS hv FROM tok),
bits AS (
  SELECT doc_id,
    SUM(CASE WHEN (hv & 1) != 0 THEN 1 ELSE -1 END) AS b0,
    SUM(CASE WHEN (hv & 2) != 0 THEN 1 ELSE -1 END) AS b1,
    SUM(CASE WHEN (hv & 4) != 0 THEN 1 ELSE -1 END) AS b2,
    SUM(CASE WHEN (hv & 8) != 0 THEN 1 ELSE -1 END) AS b3,
    SUM(CASE WHEN (hv & 16) != 0 THEN 1 ELSE -1 END) AS b4,
    SUM(CASE WHEN (hv & 32) != 0 THEN 1 ELSE -1 END) AS b5,
    SUM(CASE WHEN (hv & 64) != 0 THEN 1 ELSE -1 END) AS b6,
    SUM(CASE WHEN (hv & 128) != 0 THEN 1 ELSE -1 END) AS b7,
    SUM(CASE WHEN (hv & 256) != 0 THEN 1 ELSE -1 END) AS b8,
    SUM(CASE WHEN (hv & 512) != 0 THEN 1 ELSE -1 END) AS b9,
    SUM(CASE WHEN (hv & 1024) != 0 THEN 1 ELSE -1 END) AS b10,
    SUM(CASE WHEN (hv & 2048) != 0 THEN 1 ELSE -1 END) AS b11,
    SUM(CASE WHEN (hv & 4096) != 0 THEN 1 ELSE -1 END) AS b12,
    SUM(CASE WHEN (hv & 8192) != 0 THEN 1 ELSE -1 END) AS b13,
    SUM(CASE WHEN (hv & 16384) != 0 THEN 1 ELSE -1 END) AS b14,
    SUM(CASE WHEN (hv & 32768) != 0 THEN 1 ELSE -1 END) AS b15
  FROM h GROUP BY doc_id
),
sim AS (SELECT doc_id, CASE WHEN b0 > 0 THEN 1 ELSE 0 END + CASE WHEN b1 > 0 THEN 2 ELSE 0 END + CASE WHEN b2 > 0 THEN 4 ELSE 0 END + CASE WHEN b3 > 0 THEN 8 ELSE 0 END + CASE WHEN b4 > 0 THEN 16 ELSE 0 END + CASE WHEN b5 > 0 THEN 32 ELSE 0 END + CASE WHEN b6 > 0 THEN 64 ELSE 0 END + CASE WHEN b7 > 0 THEN 128 ELSE 0 END + CASE WHEN b8 > 0 THEN 256 ELSE 0 END + CASE WHEN b9 > 0 THEN 512 ELSE 0 END + CASE WHEN b10 > 0 THEN 1024 ELSE 0 END + CASE WHEN b11 > 0 THEN 2048 ELSE 0 END + CASE WHEN b12 > 0 THEN 4096 ELSE 0 END + CASE WHEN b13 > 0 THEN 8192 ELSE 0 END + CASE WHEN b14 > 0 THEN 16384 ELSE 0 END + CASE WHEN b15 > 0 THEN 32768 ELSE 0 END AS simhash FROM bits),
keyed AS (SELECT doc_id, simhash, simhash % 256 AS lo, simhash // 256 AS hi FROM sim),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM keyed a JOIN keyed b ON a.lo = b.lo AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
  FROM keyed a JOIN keyed b ON a.hi = b.hi AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 2
ORDER BY doc_a, doc_b
"""


@query("dedup_simhash", SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document + candidate pairs at Hamming ≤ 2.

    Bitwise majority vote over token hashes, computed as 16 conditional
    sums in one aggregation (no per-bit explode). Pairing buckets on
    the two 8-bit halves (pigeonhole: hamming ≤ 2 pairs share at least
    one exact half... only guaranteed for ≤1; both halves used as
    blocking keys, then exact hamming verify)."""
    docs = mutated_documents(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    # 16-bit token hash from the md5 prefix: md5 is md5 on every engine,
    # so since round 4 this key carries a full DuckDB oracle (upgraded
    # from T3 — the original xxhash64 had no oracle-side equivalent)
    h = F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("long")
    bits = [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(16)
    ]
    sigs = tok.groupBy("doc_id").agg(*bits)
    sim = sigs.select(
        "doc_id",
        sum(
            (F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)))
            for b in range(16)
        ).alias("simhash"),
    )
    lo = (F.col("simhash") % 256).alias("lo")
    hi = (F.col("simhash") / 256).cast("long").alias("hi")
    keyed = sim.select("doc_id", "simhash", lo, hi)
    pairs = None
    for half in ("lo", "hi"):
        x = keyed.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), half)
        y = keyed.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), half)
        p = x.join(y, half).filter(F.col("doc_a") < F.col("doc_b")).drop(half)
        pairs = p if pairs is None else pairs.unionByName(p)
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.distinct()
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 2)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- text analysis


@query(
    "text_token_stats",
    """
    WITH words AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
    )
    SELECT word, COUNT(*) AS n, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM words
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 tokens with doc frequency (explode → groupBy; at
    100 TB the per-word partial counts keep the shuffle tiny)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


@query(
    "text_lang_profile",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           ROUND(AVG(len(str_split(text, ' '))), 6) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avg_tokens"),
    )


@query(
    "text_quality_score",
    """
    WITH t AS (
      SELECT doc_id, n_chars,
             len(str_split(text, ' '))                        AS n_tokens,
             len(list_distinct(str_split(text, ' ')))         AS n_uniq
      FROM documents
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(n_uniq AS DOUBLE) / n_tokens, 6)        AS uniq_ratio,
           ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6)       AS avg_token_len,
           ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) *
                 (CAST(n_uniq AS DOUBLE) / n_tokens), 6)      AS quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation × lexical diversity
    (the shape of Gopher/C4-style quality filters, minus stopword lists
    that this synthetic vocabulary doesn't have)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    uniq_ratio = F.col("n_uniq").cast("double") / F.col("n_tokens")
    return t.select(
        "doc_id",
        "n_tokens",
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6).alias("avg_token_len"),
        F.round(
            F.least(F.col("n_tokens").cast("double") / 100, F.lit(1.0)) * uniq_ratio, 6
        ).alias("quality"),
    )


@query(
    "text_token_count_bpe",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '([a-zA-Z0-9]+|[^a-zA-Z0-9\\s])', 1)) AS n_bpe_ish,
           len(str_split(text, ' ')) AS n_ws
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish pre-tokenizer
    regex (word runs + isolated punctuation) — the standard cheap
    ESTIMATOR for LLM token budgets. For actually TRAINING a BPE
    merge table (the real iterative pair-count/argmax/merge loop),
    see vocab_bpe_train below (r7)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"([a-zA-Z0-9]+|[^a-zA-Z0-9\s])"))).alias(
            "n_bpe_ish"
        ),
        F.size(F.split("text", " ")).alias("n_ws"),
    )


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' '))
             AS vocab_fingerprint,
           md5(concat_ws(' ', str_split(text, ' ')[1], str_split(text, ' ')[2],
                         CAST(len(str_split(text, ' ')) AS VARCHAR)))
             AS head_fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive vocabulary fingerprint + head fingerprint
    (md5 so the oracle agrees byte-for-byte; xxhash64 is the faster
    Spark-internal choice when no oracle is involved)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(toks)), " ")).alias(
            "vocab_fingerprint"
        ),
        F.md5(
            F.concat_ws(
                " ", toks.getItem(0), toks.getItem(1), F.size(toks).cast("string")
            )
        ).alias("head_fingerprint"),
    )


@query(
    "text_lang_id",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_intersect(str_split(text, ' '),
                 ['the', 'a', 'of', 'and', 'to'])) AS en_score,
             len(list_intersect(str_split(text, ' '),
                 ['der', 'die', 'das', 'und', 'ist'])) AS de_score,
             len(list_intersect(str_split(text, ' '),
                 ['el', 'la', 'de', 'y', 'es'])) AS es_score
      FROM documents
    )
    SELECT doc_id, lang, en_score, de_score, es_score,
           CASE WHEN en_score >= de_score AND en_score >= es_score THEN 'en'
                WHEN de_score >= es_score THEN 'de'
                ELSE 'es' END AS pred_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (n-gram-profile shape). On this
    synthetic shared-vocabulary corpus the prediction is a coin flip —
    the operator (dictionary intersect + argmax, fully vectorized) is
    what's under test, with deterministic tie-breaking."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    dicts = {
        "en_score": ["the", "a", "of", "and", "to"],
        "de_score": ["der", "die", "das", "und", "ist"],
        "es_score": ["el", "la", "de", "y", "es"],
    }
    scored = d.select(
        "doc_id",
        "lang",
        *[
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias(name)
            for name, words in dicts.items()
        ],
    )
    return scored.select(
        "doc_id",
        "lang",
        "en_score",
        "de_score",
        "es_score",
        F.when(
            (F.col("en_score") >= F.col("de_score"))
            & (F.col("en_score") >= F.col("es_score")),
            "en",
        )
        .when(F.col("de_score") >= F.col("es_score"), "de")
        .otherwise("es")
        .alias("pred_lang"),
    )


TFIDF_ORACLE = """
WITH tf AS (
  SELECT doc_id, word, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents)
  GROUP BY doc_id, word
),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
)
SELECT doc_id, word, tfidf
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) <= 3
"""


@query("tfidf_topterms", TFIDF_ORACLE)
def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf, top-3 terms per document.

    Rank on the ROUNDED score (6 dp) with the term as tiebreak — raw
    doubles differ in the last ULP across engines (ln), which would
    flip near-tied ranks. The doc-frequency table is tiny (vocabulary
    ≪ corpus) → broadcast join against the tf table at any scale."""
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar, driver-side by design (cheap count on metadata)
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tfidf")
    )


# -------------------------------------------------------------- PII redaction

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_LONGNUM_RE = "[0-9]{7,}"


@query(
    "text_pii_redact",
    f"""
    WITH staged AS (
      SELECT doc_id,
             concat(substring(text, 1, 40), ' contact user', doc_id,
                    '@example.com ref ', doc_id * 1234567, ' end')
               AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_LONGNUM_RE}', '<NUM>', 'g') AS redacted,
           CAST(length(raw) - length(regexp_replace(raw, '{_EMAIL_RE}', '', 'g'))
                > 0 AS BOOLEAN) AS had_email
    FROM staged
    ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing before training: emails and long digit runs are
    replaced with typed placeholders (the corpus has no real PII, so a
    deterministic synthetic contact line is appended per doc and then
    must come back out). Two chained regexp_replace calls — JVM-side
    codegen, map-only, zero shuffle; the regexes stay in the
    RE2/Java-regex common subset so Spark and DuckDB agree byte-for-
    byte. At 100 TB this composes with the quality filter into the
    single map stage of pipeline_llm_prep; real deployments add NER
    models per locale — that step is a mapInPandas slot, same plan."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        (F.col("doc_id") * 1234567).cast("string"),
        F.lit(" end"),
    )
    staged = d.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _EMAIL_RE, "<EMAIL>"),
        _LONGNUM_RE,
        "<NUM>",
    )
    had_email = (
        F.length("raw") - F.length(F.regexp_replace(F.col("raw"), _EMAIL_RE, ""))
        > 0
    )
    return staged.select(
        "doc_id",
        redacted.alias("redacted"),
        had_email.alias("had_email"),
    ).orderBy("doc_id")


@query(
    "vocab_topk",
    """
    WITH tok AS (
      SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok WHERE token <> '' GROUP BY token
    ),
    top AS (
      SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT 500
    )
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
    FROM top
    ORDER BY rank
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: global top-500 tokens by frequency with
    dense ranks — the first step of tokenizer training. Token counts
    partial-aggregate map-side before one shuffle on the token key;
    the global top-500 is TakeOrderedAndProject over the aggregated
    counts (vocab cardinality, not corpus cardinality), and the rank
    window runs on just the 500 survivors — at 100 TB nothing beyond
    the count aggregate ever sees more than vocab-sized data."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(500)
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).orderBy(
        "rank"
    )


@query(
    "text_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
      FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    lm AS (SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token),
    tot AS (SELECT SUM(cnt) AS total FROM lm)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ln(lm.cnt / tot.total)), 6) AS avg_logprob
    FROM tok2 t JOIN lm USING (token) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: average unigram log-probability
    of each document under the corpus's own unigram LM — the cheap
    first-pass filter for gibberish/boilerplate before an expensive
    model-based score. Two passes over the token stream share one
    explode lineage shape: pass 1 builds the LM (token counts — the
    same aggregate a tokenizer build runs), pass 2 joins tokens to
    their probabilities and averages per doc. The probe join shuffles
    on the token key; at 100 TB a bounded vocab (top-k + OOV floor)
    turns it into a broadcast join — the natural production variant.
    The corpus-total denominator is a 1-row broadcast. The scorer
    body is _unigram_logprob_frame, shared verbatim with
    quality_ccnet_buckets (never-fork)."""
    return _unigram_logprob_frame(spark, sf_dir)


def _unigram_logprob_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, n_tokens, avg_logprob)`` — the unigram-LM scorer
    shared by text_unigram_logprob and quality_ccnet_buckets."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    lm = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = lm.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(lm, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), 6).alias(
                "avg_logprob"
            ),
        )
    )


# ------------------------------------------- corpus-quality filters (r4)


@query(
    "text_repetition_score",
    """
    WITH wc AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_word_frac,
           ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_word_frac
    FROM wc GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, public): the
    fraction of a document occupied by its single most frequent word
    and the duplicate-word fraction — the standard cheap signals for
    keyboard-mash / SEO-spam / template pages before LLM training.

    Two-level aggregation, both with map-side partial combine: words
    explode → (doc, word) counts → per-doc stats. The second aggregate
    reads the first's (already doc_id-clustered) output, so at 100 TB
    only the first shuffle touches token-scale data, and its payload is
    (doc_id, word-hash, count) partials, never text."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
            F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("c"), 6).alias(
                "dup_word_frac"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "text_entropy_score",
    """
    WITH wc AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY doc_id, w
    ), tot AS (
      SELECT doc_id, SUM(c) AS n FROM wc GROUP BY doc_id
    )
    SELECT wc.doc_id,
           CAST(MAX(n) AS BIGINT) AS n_words,
           ROUND(-SUM((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)), 6)
             AS word_entropy
    FROM wc JOIN tot ON wc.doc_id = tot.doc_id
    GROUP BY wc.doc_id ORDER BY wc.doc_id
    """,
)
def text_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-document word distribution — low
    entropy flags repetitive/templated text, very high entropy flags
    random-token noise; together with the repetition fractions this is
    the quality-filter trio every public corpus pipeline (C4, Gopher,
    RefinedWeb) runs first.

    Same two-level shape as text_repetition_score; the per-doc total
    rides the same aggregate via a window over the doc (no extra
    shuffle — doc_id partitioning is already established)."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c") / F.col("n")
    return (
        wc.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_words"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("word_entropy"),
        )
        .orderBy("doc_id")
    )


@query(
    "boilerplate_ngrams",
    f"""
    WITH shing0 AS (
      SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
      FROM (
        SELECT doc_id, tk, unnest(generate_series(1, GREATEST(len(tk) - 2, 0))) AS i
        FROM (SELECT doc_id, str_split(text, ' ') AS tk FROM documents)
      )
    )
    SELECT s AS ngram, CAST(COUNT(*) AS BIGINT) AS df
    FROM shing0 GROUP BY s
    ORDER BY df DESC, ngram LIMIT 20
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: the word-3-grams present in
    the most documents — headers, footers, cookie banners, license
    blurbs. The detected list feeds a removal pass (filter or span
    strip); this key pins the detection aggregate.

    Document frequency (not term frequency): shingles are DISTINCT per
    doc before the global count, so one spammy page can't promote its
    own phrase. Explode → partial-agg → top-k via TakeOrderedAndProject
    — no global sort; the shuffle carries (shingle, partial-count)."""
    sh = shingled(
        load(spark, sf_dir, "documents").select("doc_id", "text"), exploded=True
    )
    return (
        sh.groupBy(F.col("s").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "ngram")
        .limit(20)
    )


@query(
    "dedup_containment",
    f"""
    WITH docs AS ({MUTATED_SQL}),
    shing0 AS (
      SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
      FROM (
        SELECT doc_id, tk, unnest(generate_series(1, GREATEST(len(tk) - 2, 0))) AS i
        FROM (SELECT doc_id, str_split(text, ' ') AS tk FROM docs)
      )
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM docs),
    shing AS (
      SELECT doc_id, s
      FROM (SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM shing0), nd
      WHERE df <= GREATEST({STOP_SHINGLE_ABS}, LEAST(CEIL(n_docs * {STOP_SHINGLE_FRAC}), {STOP_SHINGLE_MAX}))
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.c AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.c AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.9
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (overlap-coefficient) near-dup pairs: |A∩B| divided
    by the SMALLER shingle set — the asymmetric complement to Jaccard
    that catches a document embedded inside a longer one (quote farms,
    scraped aggregators), which Jaccard under-scores because the union
    is dominated by the longer doc.

    Reuses the exact inverted-index pair generation of dedup_near_ngram
    (same candidate join, same stop-shingle df cap bounding the worst
    bucket) — only the verify formula changes, so the 100 TB cost
    profile is identical: linear in corpus + shared-shingle pairs.
    r17: reads the staged capped-shingle artifact (see
    dedup_near_ngram) instead of re-deriving the relation 3x."""
    sh = spark.read.parquet(capped_shingle_table(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("c") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= 0.9)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "pipeline_text_curation",
    f"""
    WITH duped AS ({DUPED_SQL}),
    scored AS (
      SELECT doc_id, text, lang, n_chars,
             len(str_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
               / len(str_split(text, ' ')) AS uniq_ratio
      FROM duped
    ),
    quality AS (
      SELECT * FROM scored WHERE n_tokens >= 25 AND uniq_ratio >= 0.4
    ),
    deduped AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM quality
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'val' ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM deduped WHERE rn = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pipeline_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline in ONE declarative plan: quality
    filter (token count + uniqueness ratio) → exact dedup (min doc_id
    per content digest) → deterministic md5 train/val/test split →
    per-(split, lang) audit counts. This is the composition a corpus
    team actually ships; expressing it as one DataFrame lets Catalyst
    pipeline the filter into the scan, run ONE shuffle for the dedup
    window, and fold the split + audit into the dedup output — three
    "stages" of the logical pipeline, two exchanges total.

    Every stage is a pure function of row content (no sampling RNG, no
    timestamps), so re-running on retry/backfill yields byte-identical
    splits — the reproducibility property training pipelines need."""
    d = duped_documents(spark, sf_dir)
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
    )
    quality = scored.filter((F.col("n_tokens") >= 25) & (F.col("uniq_ratio") >= 0.4))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
    return (
        deduped.groupBy(split.alias("split"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


@query(
    "pii_inventory",
    f"""
    WITH staged AS (
      SELECT doc_id, source,
             concat(substring(text, 1, 40),
                    CASE WHEN doc_id % 3 != 0
                         THEN concat(' contact user', doc_id, '@example.com')
                         ELSE '' END,
                    CASE WHEN doc_id % 5 = 0
                         THEN concat(' ref ', 1000000 + doc_id * 137)
                         ELSE '' END) AS raw
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN regexp_matches(raw, '{_EMAIL_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
           CAST(SUM(CASE WHEN regexp_matches(raw, '{_LONGNUM_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_longnum,
           CAST(SUM(len(regexp_extract_all(raw, '{_EMAIL_RE}'))) AS BIGINT)
             AS total_emails
    FROM staged
    GROUP BY source
    ORDER BY source
    """,
)
def pii_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-redaction PII inventory per source — the governance report
    that decides WHERE text_pii_redact must run and which sources need
    locale-specific NER passes (the fixture corpus carries no real
    PII, so a deterministic synthetic contact line is staged into a
    varying subset of docs and must be found again).

    Map-only scan + one bounded groupBy(source): the regex match and
    the match-count both run JVM-side in codegen (rlike /
    regexp_count), the shuffle carries only per-source partial counts,
    and the regexes stay in the RE2/Java common subset shared with
    text_pii_redact so both engines agree byte-for-byte. At 100 TB
    this is the same single-pass profile as profile_stats — the
    inventory and the redaction compose into one map stage."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" ref "),
                (1_000_000 + F.col("doc_id") * 137).cast("string"),
            ),
        ).otherwise(""),
    )
    staged = d.select("doc_id", "source", raw.alias("raw"))
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("raw").rlike(_EMAIL_RE).cast("int"))
            .cast("bigint")
            .alias("docs_with_email"),
            F.sum(F.col("raw").rlike(_LONGNUM_RE).cast("int"))
            .cast("bigint")
            .alias("docs_with_longnum"),
            F.sum(F.regexp_count(F.col("raw"), F.lit(_EMAIL_RE)))
            .cast("bigint")
            .alias("total_emails"),
        )
        .orderBy("source")
    )


# ------------------------------------- benchmark decontamination via MinHash

# Cross-set twin of NGRAM_JACCARD_ORACLE: corpus (< 2M) vs the held-out
# benchmark set (the ≥ 2M mutated twins), same capped shingle
# definition, no doc_a < doc_b — membership decides the join sides.
CONTAMINATION_MINHASH_ORACLE = f"""
WITH docs AS ({MUTATED_SQL}),
{CAPPED_SHINGLE_CTES},
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS c
  FROM shing a JOIN shing b ON a.s = b.s
  WHERE a.doc_id < 2000000 AND b.doc_id >= 2000000
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_id, i.bench_id,
       ROUND(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id
JOIN sizes sb ON sb.doc_id = i.bench_id
WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.6
ORDER BY i.doc_id, i.bench_id
"""


@query("contamination_minhash", CONTAMINATION_MINHASH_ORACLE)
def contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate benchmark contamination via MinHash+LSH — the
    100 TB complement to contamination_ngram's exact shared-gram
    screen: an eval document whose text was lightly edited before
    landing in the training corpus shares few exact 13-gram-style
    shingles but a high Jaccard, and this is the standard first-pass
    screen for it (banded LSH candidates, exact-Jaccard verify).

    Reuses the SAME materialized signature artifact as
    dedup_near_minhash — in production the benchmark suite is signed
    once with the corpus's hash family and every corpus refresh probes
    it. The band join keys corpus signatures against the BENCHMARK
    side only (broadcast: a benchmark is thousands of docs however big
    the corpus is), so the corpus never self-joins and never shuffles —
    cost is one scan of the corpus signature columns + candidate
    verification. Band count (16×2) is recall-complete at the ≥0.6
    verify threshold (P(candidate) ≥ 0.9992 at j = 0.6, ~1 at the
    fixture's ~0.9 twin similarity), so the verified output equals the
    brute-force cross-set oracle."""
    sig = spark.read.parquet(minhash_signature_table(spark, sf_dir))
    banded = banded_signatures
    corpus = sig.filter(F.col("doc_id") < 2_000_000)
    bench = sig.filter(F.col("doc_id") >= 2_000_000)
    cand = (
        banded(corpus)
        .join(
            F.broadcast(
                banded(bench).select(
                    F.col("doc_id").alias("bench_id"), "band", "sig"
                )
            ),
            ["band", "sig"],
        )
        .select("doc_id", "bench_id")
        .distinct()
    )
    a = corpus.select("doc_id", F.col("sh").alias("sa"))
    b = bench.select(F.col("doc_id").alias("bench_id"), F.col("sh").alias("sb"))
    c = F.size(F.array_intersect("sa", "sb"))
    jac = c / (F.size("sa") + F.size("sb") - c)
    return (
        cand.join(a, "doc_id")
        .join(F.broadcast(b), "bench_id")
        .filter(jac >= 0.6)
        .select("doc_id", "bench_id", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_id", "bench_id")
    )


@query(
    "vocab_oov_rate",
    """
    WITH tok AS (
      SELECT lang, unnest(str_split(lower(text), ' ')) AS token
      FROM documents
    ), tok2 AS (
      SELECT lang, token FROM tok WHERE token <> ''
    ), vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token
        ORDER BY cnt DESC, token LIMIT 200
      )
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE token NOT IN
                                 (SELECT token FROM vocab)) AS BIGINT)
             AS n_oov,
           ROUND(COUNT(*) FILTER (WHERE token NOT IN
                                  (SELECT token FROM vocab)) * 1.0
                 / COUNT(*), 6) AS oov_rate
    FROM tok2
    GROUP BY lang
    ORDER BY lang
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus's own
    top-200 vocabulary — the tokenizer-coverage report that decides
    whether a vocab size starves low-resource languages (exactly the
    number a mixture planner reads next to mixture_epoch_plan's
    weights).

    Two-tier: token counts build the top-K vocab (one token-scale
    shuffle, shared shape with vocab_topk), then the token stream
    joins against the BROADCAST vocab (bounded at K rows by
    construction) with a left anti-ish membership flag — at 100 TB
    the vocab stays a broadcast regardless of corpus size, so the
    second pass is map-side. Tie-break on (count desc, token) keeps
    the vocab identical across engines."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(200)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "token", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            F.round(F.sum(oov) / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
        .orderBy("lang")
    )


@query(
    "feature_hashing_trick",
    """
    WITH tok AS (
      SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
      FROM documents WHERE doc_id < 40
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64
               AS bucket
      FROM tok WHERE token <> ''
    )
    SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM h GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens → fixed 64-bucket feature space via a
    stable content hash — the no-vocabulary featurizer for linear
    models and sketch-based similarity at corpus scale (no vocab
    build pass, no driver-side dictionary, new tokens land
    deterministically). md5-prefix bucketing keeps the hash identical
    across engines (xxhash64 is Spark lore); one map-side explode +
    hash, one (doc, bucket) partial-aggregated shuffle bounded by
    64·docs rows. Sampled to doc_id < 40 to keep the oracle frame
    reviewable; the plan is row-linear at any corpus size."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    tok = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint") % 64
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "bucket")
    )


@query(
    "vocab_zipf_fit",
    """
    WITH tok AS (
      SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, COUNT(*) * 1.0 AS cnt
      FROM tok WHERE token <> '' GROUP BY token
    ), ranked AS (
      SELECT ln(ROW_NUMBER() OVER (ORDER BY cnt DESC, token)) AS x,
             ln(cnt) AS y
      FROM counts
      ORDER BY cnt DESC, token LIMIT 200
    ), m AS (
      SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           ROUND(POW(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-200 vocabulary: slope of
    ln(freq) on ln(rank) with r² — natural language sits near slope −1
    with high r²; templated/synthetic/boilerplate corpora deviate, so
    this is the one-number corpus-naturalness check next to the
    entropy and repetition screens (and it honestly reports that this
    synthetic vocabulary is NOT Zipfian).

    One token-scale count shuffle (the same tier vocab_topk /
    vocab_oov_rate build), a rank window over the 200-row head, then
    the least-squares moments expanded identically on both engines
    (the agg_linear_trend discipline)."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    ranked = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(200)
        .select(
            F.log(
                F.row_number().over(
                    Window.orderBy(F.col("cnt").desc(), "token")
                ).cast("double")
            ).alias("x"),
            F.log("cnt").alias("y"),
        )
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# Window-gram builders over a bound token array ``tk`` — CASE-guarded
# because greatest(n-k, 0) does NOT guard Spark's sequence(): (1, 0)
# is the DESCENDING [1, 0] and element_at(tk, 0) raises under ANSI.
# Module-level so the production ops and the short-doc regression test
# drive the IDENTICAL expression (r6 review finding).
KGRAM5_WINDOW_EXPR = (
    "CASE WHEN size(tk) > 4"
    " THEN transform(sequence(1, size(tk) - 4),"
    " i -> concat_ws(' ', element_at(tk, i),"
    " element_at(tk, i+1), element_at(tk, i+2),"
    " element_at(tk, i+3), element_at(tk, i+4)))"
    " ELSE CAST(array() AS array<string>) END"
)
BIGRAM_WINDOW_EXPR = (
    "CASE WHEN size(tk) > 1"
    " THEN transform(sequence(1, size(tk) - 1),"
    " i -> struct(element_at(tk, i) AS w1,"
    " element_at(tk, i + 1) AS w2))"
    " ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
)


@query(
    "text_dup_kgram_fraction",
    f"""
    WITH docs AS ({MUTATED_SQL}),
    tok AS (SELECT doc_id, str_split(text, ' ') AS tk FROM docs),
    grams AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) AS g
      FROM (
        SELECT doc_id, tk,
               unnest(generate_series(1, GREATEST(len(tk) - 4, 0))) AS i
        FROM tok
      )
    ),
    df AS (SELECT g, COUNT(*) AS d FROM grams GROUP BY g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE d > 1) AS BIGINT) AS n_dup_grams,
           ROUND(COUNT(*) FILTER (WHERE d > 1) * 1.0 / COUNT(*), 6)
             AS dup_fraction
    FROM grams JOIN df USING (g)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_dup_kgram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus duplication fraction at 5-token-gram
    resolution — the window-level diagnostic behind exact-substring
    training-data dedup: a doc whose token windows mostly appear in
    OTHER docs is boilerplate/near-copy even when no whole-doc dedup
    key fires, and the dup_fraction histogram is the first number a
    dedup campaign reports. Run over the mutated fixture so truncated
    twins produce real high-duplication rows.

    Scale shape: distinct (doc, gram) explode → per-gram document
    frequency (ONE shuffle keyed on the gram) → per-doc aggregation
    (second shuffle on doc_id carrying one row per distinct gram). No
    pair materialization at all — unlike the pairwise dedup ops this
    stays linear in corpus grams even when everything duplicates
    everything, which is what makes it the safe first pass at 100 TB.
    In production gram strings would be 16-byte hashes; kept raw here
    so the DuckDB oracle shares the exact key."""
    d = mutated_documents(spark, sf_dir)
    # tk is bound ONCE (Catalyst does not CSE inside HOF lambdas — the
    # first cut re-split the text 5× per gram), and the window count is
    # guarded with CASE: greatest(n-4, 0) does NOT guard, because
    # sequence(1, 0) is the DESCENDING [1, 0] and element_at(tk, 0)
    # raises under ANSI — a <5-token doc crashed Spark while the
    # DuckDB oracle returned no grams (r6 review finding).
    grams = (
        d.select("doc_id", F.split("text", " ").alias("tk"))
        .select(
            "doc_id",
            F.explode(F.expr(KGRAM5_WINDOW_EXPR)).alias("g"),
        )
        .distinct()
    )
    df_per_gram = grams.withColumn(
        "d", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    return (
        df_per_gram.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("d") > 1).cast("bigint")).alias("n_dup_grams"),
            F.round(
                F.sum((F.col("d") > 1).cast("double")) / F.count(F.lit(1)), 6
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_bigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(str_split(lower(text), ' '), t -> t <> '') AS tk
      FROM documents
    ),
    big AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      FROM (
        SELECT doc_id, tk,
               unnest(generate_series(1, GREATEST(len(tk) - 1, 0))) AS i
        FROM tok
      )
    ),
    bc AS (
      SELECT w1, w2, COUNT(*) AS c2,
             SUM(COUNT(*)) OVER (PARTITION BY w1) AS c1
      FROM big GROUP BY w1, w2
    ),
    v AS (SELECT COUNT(DISTINCT w2) AS vs FROM bc)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln((c2 + 1.0) / (c1 + vs))), 6) AS avg_logprob
    FROM big b JOIN bc USING (w1, w2) CROSS JOIN v
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under the corpus's
    own add-1-smoothed bigram LM — one modeling order above
    text_unigram_logprob: a doc of common words in IMPLAUSIBLE order
    (shuffled text, keyword-stuffed spam) scores near the unigram op
    but craters here, which is why fluency gates use conditional
    probabilities. ln((c(w1,w2)+1)/(c(w1)+V)), averaged per doc.
    Vocabulary := distinct NEXT-tokens (w2 support) — the support of
    the distribution being smoothed, derivable from the bigram-type
    table alone on both engines.

    Scale shape: the bigram explode is the corpus-size pass; counts
    shuffle on (w1, w2) — 2-token keys, never text bodies. The
    context totals c(w1) ride the SAME aggregation as c(w1,w2) via a
    window over the types table (no second aggregation, no uc join —
    the first cut's per-derived-table consumers cost 4 fact scans,
    measured), and V is one scalar off the types table. In-flight
    that leaves 3 scans (probe, types, V — AQE reuses the types
    exchange); at 100 TB the LM tables are the artifact to
    materialize ONCE (same pattern as the minhash signature table),
    making the probe the only corpus pass, broadcast after a top-k
    vocab cut."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), t -> t <> '')").alias("tk"),
    )
    big = toks.select(
        "doc_id",
        F.explode(F.expr(BIGRAM_WINDOW_EXPR)).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
    )
    v = bc.agg(F.countDistinct("w2").alias("vs"))
    return (
        big.join(bc, ["w1", "w2"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vs")))),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_url_canonical",
    """
    WITH urls AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://Example.COM/docs/' || (doc_id // 4)
                           || '?utm_source=x&b=2&a=1'
               WHEN 1 THEN 'https://example.com:443/docs/' || (doc_id // 4)
                           || '?a=1&b=2&utm_campaign=y'
               WHEN 2 THEN 'https://example.com/docs/' || (doc_id // 4)
                           || '?b=2&a=1'
               ELSE 'https://EXAMPLE.com/docs/' || (doc_id // 4)
                           || '?a=1&utm_medium=z&b=2'
             END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             replace(lower(str_split(url, '?')[1]), ':443', '')
             || '?' ||
             array_to_string(
               list_sort(list_filter(str_split(str_split(url, '?')[2], '&'),
                                     p -> NOT starts_with(p, 'utm_'))), '&')
               AS canonical_url
      FROM urls
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           MIN(doc_id) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
    ORDER BY keep_doc_id
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier/document-source
    dedup every web-corpus pipeline runs before fetching or keeping
    anything: case-fold scheme+host, strip the default :443 port, drop
    utm_* tracking params, sort the surviving query params, group by
    the canonical form. The fixture derives four raw variants of each
    canonical URL from doc_id (mixed case, explicit default port,
    shuffled params, tracking noise) and all four must collapse.

    Pure JVM HOFs (split/filter/array_sort/concat) — no UDF in the
    canonicalization — then one groupBy on the canonical string: the
    shuffle carries canonical keys only, linear at crawl scale."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    url = F.expr(
        """
        CASE doc_id % 4
          WHEN 0 THEN concat('https://Example.COM/docs/', doc_id div 4,
                             '?utm_source=x&b=2&a=1')
          WHEN 1 THEN concat('https://example.com:443/docs/', doc_id div 4,
                             '?a=1&b=2&utm_campaign=y')
          WHEN 2 THEN concat('https://example.com/docs/', doc_id div 4,
                             '?b=2&a=1')
          ELSE concat('https://EXAMPLE.com/docs/', doc_id div 4,
                      '?a=1&utm_medium=z&b=2')
        END
        """
    )
    canon = F.expr(
        """
        concat(
          replace(lower(split(url, '\\\\?')[0]), ':443', ''),
          '?',
          concat_ws('&',
            array_sort(filter(split(split(url, '\\\\?')[1], '&'),
                              p -> NOT startswith(p, 'utm_'))))
        )
        """
    )
    return (
        d.withColumn("url", url)
        .withColumn("canonical_url", canon)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("keep_doc_id")
    )


@query(
    "eval_langid_confusion",
    f"""
    WITH base AS ({{LANGID}})
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM base
    GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
    """.format(LANGID="{LANGID}"),
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the language-ID
    operator: labeled lang × predicted lang with counts — the standard
    model-eval artifact computed fully relationally (one aggregation
    over the classifier's output; at 100 TB the matrix is
    |langs|² rows however big the corpus). The oracle composes
    text_lang_id's own oracle as a CTE, so the two keys cannot drift:
    any change to the classifier SQL flows into this evaluation's
    expected values automatically."""
    return (
        text_lang_id(spark, sf_dir)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


@query(
    "eval_cohens_kappa",
    """
    WITH base AS (
      SELECT lang,
             CASE WHEN doc_id % 10 < 7 THEN lang
                  ELSE CASE lang WHEN 'de' THEN 'en' WHEN 'en' THEN 'es'
                                 WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh'
                                 ELSE 'de' END
             END AS pred_lang
      FROM documents
    ),
    conf AS (
      SELECT lang, pred_lang, COUNT(*) AS n FROM base GROUP BY lang, pred_lang
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM conf),
    diag AS (
      SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS d
      FROM conf WHERE lang = pred_lang
    ),
    marg AS (
      SELECT CAST(COALESCE(SUM(ra.na * rb.nb), 0) AS BIGINT) AS s
      FROM (SELECT lang AS l, SUM(n) AS na FROM conf GROUP BY lang) ra
      JOIN (SELECT pred_lang AS l, SUM(n) AS nb FROM conf
            GROUP BY pred_lang) rb USING (l)
    )
    SELECT tot.n AS n_docs,
           ROUND(CAST(diag.d AS DOUBLE) / tot.n, 6) AS po,
           ROUND(CAST(marg.s AS DOUBLE) / (tot.n * tot.n), 6) AS pe,
           ROUND((CAST(diag.d AS DOUBLE) / tot.n
                  - CAST(marg.s AS DOUBLE) / (tot.n * tot.n))
                 / (1 - CAST(marg.s AS DOUBLE) / (tot.n * tot.n)), 6)
             AS kappa
    FROM tot, diag, marg
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — the chance-corrected inter-annotator agreement
    statistic every labeling pipeline publishes beside raw accuracy.
    Rater A is the corpus lang label; rater B is a synthetic second
    annotator that agrees on 70% of docs (doc_id % 10 < 7) and
    otherwise drifts one step along a fixed de→en→es→fr→zh cycle — a
    deterministic fixture that populates the diagonal, the
    off-diagonal, AND unequal marginals at every scale (the language-ID
    classifier was tried first and predicts one class at sf0.01, which
    degenerates kappa to exactly 0 and leaves the pe arithmetic
    untested).

    kappa = (po - pe) / (1 - pe) with po = diagonal mass and pe the
    raters' marginal product. Everything reduces over the |langs|²
    confusion matrix, so after one corpus pass the statistic is
    metadata-sized at any scale (the eval_langid_confusion
    discipline). Cross-engine determinism: all sums are integers;
    po/pe/kappa are computed from the SAME integer operands in the
    SAME expression order on both engines, so the three doubles are
    bit-identical before the shared 6-dp round."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = F.when(F.col("doc_id") % 10 < 7, F.col("lang")).otherwise(
        F.when(F.col("lang") == "de", F.lit("en"))
        .when(F.col("lang") == "en", F.lit("es"))
        .when(F.col("lang") == "es", F.lit("fr"))
        .when(F.col("lang") == "fr", F.lit("zh"))
        .otherwise(F.lit("de"))
    )
    conf = (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = conf.agg(F.sum("n").cast("bigint").alias("n_docs"))
    diag = conf.filter(F.col("lang") == F.col("pred_lang")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("d")
    )
    ra = conf.groupBy(F.col("lang").alias("l")).agg(F.sum("n").alias("na"))
    rb = conf.groupBy(F.col("pred_lang").alias("l")).agg(
        F.sum("n").alias("nb")
    )
    marg = (
        ra.join(rb, "l")
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("bigint")
            .alias("s")
        )
    )
    po = F.col("d").cast("double") / F.col("n_docs")
    pe = F.col("s").cast("double") / (F.col("n_docs") * F.col("n_docs"))
    return (
        tot.crossJoin(diag)
        .crossJoin(marg)
        .select(
            "n_docs",
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1) - pe), 6).alias("kappa"),
        )
    )


@query(
    "eval_fleiss_kappa",
    """
    WITH pos AS (
      SELECT doc_id,
             CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2
                       WHEN 'fr' THEN 3 WHEN 'zh' THEN 4 ELSE 0 END AS p,
             lang
      FROM documents
    ),
    ratings AS (
      SELECT doc_id,
             CASE WHEN (doc_id + r) % 10 < 7 THEN lang
                  ELSE (['de', 'en', 'es', 'fr', 'zh'])
                       [((p + r + 1) % 5) + 1]
             END AS label
      FROM pos, (SELECT unnest([0, 1, 2]) AS r)
    ),
    cell AS (
      SELECT doc_id, label, COUNT(*) AS n_ik
      FROM ratings GROUP BY doc_id, label
    ),
    per_item AS (
      SELECT doc_id, SUM(n_ik * n_ik) AS s_i FROM cell GROUP BY doc_id
    ),
    items AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(s_i) AS BIGINT) AS s_tot
      FROM per_item
    ),
    cats AS (
      SELECT CAST(SUM(ck * ck) AS BIGINT) AS c2
      FROM (SELECT label, SUM(n_ik) AS ck FROM cell GROUP BY label)
    )
    SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
           ROUND(CAST(s_tot - 3 * n_items AS DOUBLE) / (6 * n_items), 6)
             AS p_bar,
           ROUND(CAST(c2 AS DOUBLE) / ((3 * n_items) * (3 * n_items)), 6)
             AS p_e,
           ROUND((CAST(s_tot - 3 * n_items AS DOUBLE) / (6 * n_items)
                  - CAST(c2 AS DOUBLE) / ((3 * n_items) * (3 * n_items)))
                 / (1 - CAST(c2 AS DOUBLE)
                        / ((3 * n_items) * (3 * n_items))), 6) AS kappa
    FROM items, cats
    """,
)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa — multi-rater chance-corrected agreement, the
    statistic a labeling pipeline with 3+ annotators publishes where
    two-rater Cohen's kappa (eval_cohens_kappa) doesn't apply. Three
    synthetic raters per doc: rater r agrees with the lang label when
    (doc_id + r) % 10 < 7 and otherwise drifts r+1 steps along the
    fixed lang cycle — deterministic, phase-shifted AND
    direction-shifted. The unit phase step makes the three miss
    windows OVERLAP mod 10 (residues 6-8 have 2-3 raters missing at
    once) and the per-rater drift directions differ, so unanimous,
    2/3-majority, and three-way-split items all occur (a 3r phase
    makes the windows disjoint — at most one miss per item — and a
    shared drift caps every item at two categories; both earlier cuts
    failed the fixture-mixedness pin in pytest).

    Arithmetic stays in the integer domain to the last step: per-item
    Pᵢ = (Σₖn²ᵢₖ - n)/(n(n-1)) sums integer squares, so P̄ is ONE
    division of integer totals; Pₑ = Σₖp²ₖ is one division of an
    integer square sum — both engines divide identical integers in the
    identical expression order, so P̄/Pₑ/κ are bit-identical before the
    shared 6-dp round (the eval_cohens_kappa discipline). One corpus
    pass into a (doc, label) cell table, then metadata-sized algebra —
    flat at any scale."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    r = spark.range(3).select(F.col("id").cast("int").alias("r"))
    pos = (
        F.when(F.col("lang") == "de", F.lit(0))
        .when(F.col("lang") == "en", F.lit(1))
        .when(F.col("lang") == "es", F.lit(2))
        .when(F.col("lang") == "fr", F.lit(3))
        .when(F.col("lang") == "zh", F.lit(4))
        .otherwise(F.lit(0))
    )
    drift = F.element_at(
        F.array(*[F.lit(x) for x in ("de", "en", "es", "fr", "zh")]),
        ((pos + F.col("r") + 1) % 5) + 1,
    )
    ratings = d.crossJoin(F.broadcast(r)).select(
        "doc_id",
        F.when((F.col("doc_id") + F.col("r")) % 10 < 7, F.col("lang"))
        .otherwise(drift)
        .alias("label"),
    )
    cell = ratings.groupBy("doc_id", "label").agg(
        F.count(F.lit(1)).alias("n_ik")
    )
    per_item = cell.groupBy("doc_id").agg(
        F.sum(F.col("n_ik") * F.col("n_ik")).alias("s_i")
    )
    items = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("s_i").cast("bigint").alias("s_tot"),
    )
    cats = (
        cell.groupBy("label")
        .agg(F.sum("n_ik").alias("ck"))
        .agg(F.sum(F.col("ck") * F.col("ck")).cast("bigint").alias("c2"))
    )
    p_bar = (F.col("s_tot") - 3 * F.col("n_items")).cast("double") / (
        6 * F.col("n_items")
    )
    p_e = F.col("c2").cast("double") / (
        (3 * F.col("n_items")) * (3 * F.col("n_items"))
    )
    return items.crossJoin(cats).select(
        "n_items",
        F.lit(3).cast("bigint").alias("n_raters"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (F.lit(1) - p_e), 6).alias("kappa"),
    )


# Reference/candidate pair fixture shared by the generation-eval keys
# (eval_ngram_overlap_f1 and eval_bleu_corpus — never-fork): every 7th
# doc is the reference; its candidate drops the last two words and
# re-appends the FIRST word, which makes count clipping real and
# creates an unseen seam n-gram.
_RC_PAIR_SQL = """base AS (
      SELECT doc_id, lang, str_split(text, ' ') AS rt
      FROM documents WHERE doc_id % 7 = 0
    ),
    pair AS (
      SELECT doc_id, lang, rt,
             list_append(rt[1:GREATEST(len(rt) - 2, 0)], rt[1]) AS ct
      FROM base
    )"""


def _rc_pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _RC_PAIR_SQL: (doc_id, lang, rt, ct)."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang", F.split("text", " ").alias("rt"))
    )
    return d.withColumn(
        "ct",
        F.concat(
            F.slice("rt", 1, F.greatest(F.size("rt") - 2, F.lit(0))),
            F.array(F.col("rt")[0]),
        ),
    )


@query(
    "eval_ngram_overlap_f1",
    f"""
    WITH {_RC_PAIR_SQL},
    r1c AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(rt) AS g FROM pair) GROUP BY doc_id, g
    ),
    c1c AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(ct) AS g FROM pair) GROUP BY doc_id, g
    ),
    ov1 AS (
      SELECT a.doc_id, SUM(LEAST(a.c, b.c)) AS ov
      FROM r1c a JOIN c1c b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    r2c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (
        SELECT doc_id, concat_ws(' ', rt[i], rt[i+1]) AS g
        FROM (SELECT doc_id, rt,
                     unnest(generate_series(1, GREATEST(len(rt) - 1, 0))) AS i
              FROM pair)
      ) GROUP BY doc_id, g
    ),
    c2c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (
        SELECT doc_id, concat_ws(' ', ct[i], ct[i+1]) AS g
        FROM (SELECT doc_id, ct,
                     unnest(generate_series(1, GREATEST(len(ct) - 1, 0))) AS i
              FROM pair)
      ) GROUP BY doc_id, g
    ),
    ov2 AS (
      SELECT a.doc_id, SUM(LEAST(a.c, b.c)) AS ov
      FROM r2c a JOIN c2c b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    m AS (
      SELECT p.doc_id,
             CAST(len(p.rt) AS BIGINT) AS n_ref_tokens,
             CAST(len(p.ct) AS BIGINT) AS n_cand_tokens,
             CASE WHEN len(p.ct) > 0
                  THEN CAST(COALESCE(o1.ov, 0) AS DOUBLE) / len(p.ct)
                  ELSE 0.0 END AS p1,
             CASE WHEN len(p.rt) > 0
                  THEN CAST(COALESCE(o1.ov, 0) AS DOUBLE) / len(p.rt)
                  ELSE 0.0 END AS r1,
             CASE WHEN len(p.ct) - 1 > 0
                  THEN CAST(COALESCE(o2.ov, 0) AS DOUBLE) / (len(p.ct) - 1)
                  ELSE 0.0 END AS p2,
             CASE WHEN len(p.rt) - 1 > 0
                  THEN CAST(COALESCE(o2.ov, 0) AS DOUBLE) / (len(p.rt) - 1)
                  ELSE 0.0 END AS r2
      FROM pair p
      LEFT JOIN ov1 o1 ON o1.doc_id = p.doc_id
      LEFT JOIN ov2 o2 ON o2.doc_id = p.doc_id
    )
    SELECT doc_id, n_ref_tokens, n_cand_tokens,
           ROUND(p1, 6) AS rouge1_precision,
           ROUND(r1, 6) AS rouge1_recall,
           ROUND(CASE WHEN p1 + r1 > 0 THEN 2 * p1 * r1 / (p1 + r1)
                      ELSE 0.0 END, 6) AS rouge1_f1,
           ROUND(p2, 6) AS rouge2_precision,
           ROUND(r2, 6) AS rouge2_recall,
           ROUND(CASE WHEN p2 + r2 > 0 THEN 2 * p2 * r2 / (p2 + r2)
                      ELSE 0.0 END, 6) AS rouge2_f1
    FROM m ORDER BY doc_id
    """,
)
def eval_ngram_overlap_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-style n-gram overlap (unigram + bigram precision/recall/
    F1 with CLIPPED counts) between a reference text and a candidate —
    the summarization/generation eval every model-output pipeline
    scores at corpus scale. Pair fixture: every 7th doc is the
    reference; its candidate is the doc with the last two words cut
    and the FIRST word re-appended (the repeat makes clipping real:
    the candidate can hold more copies of a gram than the reference,
    so LEAST(c_ref, c_cand) actively clips, and the appended seam
    creates a bigram absent from the reference — precision < 1 on
    both orders).

    Shape: per-doc gram counts for both sides (two explode +
    partial-agg passes per order), one equi-join per order on
    (doc_id, gram) — every frame is keyed by doc_id so the joins
    co-partition, work is linear in corpus grams, and nothing is
    pairwise beyond the (ref, cand) pairing itself. Determinism:
    overlaps and totals are integers; p/r are single divisions of
    identical ints; F1 is computed from the UNROUNDED p/r in the same
    expression order on both engines, then everything shares the 6-dp
    round."""
    pair = _rc_pair_frame(spark, sf_dir)
    bigrams = "transform(sequence(1, greatest(size({c}) - 1, 0)), i -> concat_ws(' ', {c}[i-1], {c}[i]))"

    def gram_counts(expr: str, alias: str) -> DataFrame:
        return (
            pair.select("doc_id", F.explode(F.expr(expr)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    def overlap(rc: DataFrame, cc: DataFrame) -> DataFrame:
        return (
            rc.join(cc, ["doc_id", "g"])
            .groupBy("doc_id")
            .agg(F.sum(F.least("cr", "cc")).alias("ov"))
        )

    ov1 = overlap(gram_counts("rt", "cr"), gram_counts("ct", "cc"))
    ov2 = overlap(
        gram_counts(bigrams.format(c="rt"), "cr"),
        gram_counts(bigrams.format(c="ct"), "cc"),
    )
    tr1, tc1 = F.size("rt"), F.size("ct")

    def ratio(ov, tot):
        return F.when(
            tot > 0, F.coalesce(ov, F.lit(0)).cast("double") / tot
        ).otherwise(F.lit(0.0))

    def f1(p, r):
        return F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))

    m = (
        pair.join(ov1.withColumnRenamed("ov", "ov1"), "doc_id", "left")
        .join(ov2.withColumnRenamed("ov", "ov2"), "doc_id", "left")
        .select(
            "doc_id",
            tr1.cast("bigint").alias("n_ref_tokens"),
            tc1.cast("bigint").alias("n_cand_tokens"),
            ratio(F.col("ov1"), tc1).alias("p1"),
            ratio(F.col("ov1"), tr1).alias("r1"),
            ratio(F.col("ov2"), tc1 - 1).alias("p2"),
            ratio(F.col("ov2"), tr1 - 1).alias("r2"),
        )
    )
    return m.select(
        "doc_id",
        "n_ref_tokens",
        "n_cand_tokens",
        F.round("p1", 6).alias("rouge1_precision"),
        F.round("r1", 6).alias("rouge1_recall"),
        F.round(f1(F.col("p1"), F.col("r1")), 6).alias("rouge1_f1"),
        F.round("p2", 6).alias("rouge2_precision"),
        F.round("r2", 6).alias("rouge2_recall"),
        F.round(f1(F.col("p2"), F.col("r2")), 6).alias("rouge2_f1"),
    ).orderBy("doc_id")


# Corpus BLEU (Papineni et al. 2002, public literature) over the same
# reference/candidate pair fixture as eval_ngram_overlap_f1. The
# modified-precision / brevity-penalty / geometric-mean expressions are
# module constants used VERBATIM by both the Spark projection and the
# oracle (never-fork), so both engines run the identical IEEE sequence
# on identical integer corpus sums before the shared 6-dp round.
_BLEU_P_EXPR = {
    n: f"CASE WHEN t{n} > 0 THEN CAST(o{n} AS DOUBLE) / t{n}"
    f" ELSE 0.0 END"
    for n in range(1, 5)
}
_BLEU_BP_EXPR = (
    "CASE WHEN cand_len > ref_len THEN 1.0"
    " ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END"
)
_BLEU_EXPR = (
    "CASE WHEN p1 > 0 AND p2 > 0 AND p3 > 0 AND p4 > 0"
    " THEN ROUND(bp * exp(0.25 * ln(p1) + 0.25 * ln(p2)"
    " + 0.25 * ln(p3) + 0.25 * ln(p4)), 6)"
    " ELSE 0.0 END"
)


@query(
    "eval_bleu_corpus",
    f"""
    WITH {_RC_PAIR_SQL},
    r1c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, unnest(rt) AS g FROM pair) GROUP BY doc_id, g
    ),
    c1c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, unnest(ct) AS g FROM pair) GROUP BY doc_id, g
    ),
    bov1 AS (
      SELECT a.doc_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
      FROM r1c a JOIN c1c b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    r2c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, concat_ws(' ', rt[i], rt[i+1]) AS g
        FROM (SELECT doc_id, rt,
                     unnest(generate_series(1, GREATEST(len(rt) - 1, 0))) AS i
              FROM pair)) GROUP BY doc_id, g
    ),
    c2c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, concat_ws(' ', ct[i], ct[i+1]) AS g
        FROM (SELECT doc_id, ct,
                     unnest(generate_series(1, GREATEST(len(ct) - 1, 0))) AS i
              FROM pair)) GROUP BY doc_id, g
    ),
    bov2 AS (
      SELECT a.doc_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
      FROM r2c a JOIN c2c b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    r3c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, concat_ws(' ', rt[i], rt[i+1], rt[i+2]) AS g
        FROM (SELECT doc_id, rt,
                     unnest(generate_series(1, GREATEST(len(rt) - 2, 0))) AS i
              FROM pair)) GROUP BY doc_id, g
    ),
    c3c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, concat_ws(' ', ct[i], ct[i+1], ct[i+2]) AS g
        FROM (SELECT doc_id, ct,
                     unnest(generate_series(1, GREATEST(len(ct) - 2, 0))) AS i
              FROM pair)) GROUP BY doc_id, g
    ),
    bov3 AS (
      SELECT a.doc_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
      FROM r3c a JOIN c3c b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    r4c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, concat_ws(' ', rt[i], rt[i+1], rt[i+2], rt[i+3]) AS g
        FROM (SELECT doc_id, rt,
                     unnest(generate_series(1, GREATEST(len(rt) - 3, 0))) AS i
              FROM pair)) GROUP BY doc_id, g
    ),
    c4c AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, concat_ws(' ', ct[i], ct[i+1], ct[i+2], ct[i+3]) AS g
        FROM (SELECT doc_id, ct,
                     unnest(generate_series(1, GREATEST(len(ct) - 3, 0))) AS i
              FROM pair)) GROUP BY doc_id, g
    ),
    bov4 AS (
      SELECT a.doc_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
      FROM r4c a JOIN c4c b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    dl AS (
      SELECT p.doc_id, p.lang,
             CAST(len(p.rt) AS BIGINT) AS lr,
             CAST(len(p.ct) AS BIGINT) AS lc,
             COALESCE(o1.ov, 0) AS ov1, COALESCE(o2.ov, 0) AS ov2,
             COALESCE(o3.ov, 0) AS ov3, COALESCE(o4.ov, 0) AS ov4,
             GREATEST(len(p.ct), 0) AS tv1,
             GREATEST(len(p.ct) - 1, 0) AS tv2,
             GREATEST(len(p.ct) - 2, 0) AS tv3,
             GREATEST(len(p.ct) - 3, 0) AS tv4
      FROM pair p
      LEFT JOIN bov1 o1 ON o1.doc_id = p.doc_id
      LEFT JOIN bov2 o2 ON o2.doc_id = p.doc_id
      LEFT JOIN bov3 o3 ON o3.doc_id = p.doc_id
      LEFT JOIN bov4 o4 ON o4.doc_id = p.doc_id
    ),
    g AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(lr) AS BIGINT) AS ref_len,
             CAST(SUM(lc) AS BIGINT) AS cand_len,
             CAST(SUM(ov1) AS BIGINT) AS o1, CAST(SUM(ov2) AS BIGINT) AS o2,
             CAST(SUM(ov3) AS BIGINT) AS o3, CAST(SUM(ov4) AS BIGINT) AS o4,
             CAST(SUM(tv1) AS BIGINT) AS t1, CAST(SUM(tv2) AS BIGINT) AS t2,
             CAST(SUM(tv3) AS BIGINT) AS t3, CAST(SUM(tv4) AS BIGINT) AS t4
      FROM dl GROUP BY lang
    ),
    scored AS (
      SELECT lang, n_pairs, ref_len, cand_len,
             {_BLEU_P_EXPR[1]} AS p1, {_BLEU_P_EXPR[2]} AS p2,
             {_BLEU_P_EXPR[3]} AS p3, {_BLEU_P_EXPR[4]} AS p4,
             {_BLEU_BP_EXPR} AS bp
      FROM g
    )
    SELECT lang, n_pairs, ref_len, cand_len,
           ROUND(p1, 6) AS p1, ROUND(p2, 6) AS p2,
           ROUND(p3, 6) AS p3, ROUND(p4, 6) AS p4,
           ROUND(bp, 6) AS brevity_penalty,
           {_BLEU_EXPR} AS bleu
    FROM scored
    ORDER BY lang
    """,
)
def eval_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU (Papineni et al. 2002, public literature) per
    language over the shared reference/candidate pair fixture
    (_RC_PAIR_SQL / _rc_pair_frame — eval_ngram_overlap_f1's): clipped
    modified precisions p1..p4 from CORPUS-summed per-pair clipped
    overlaps and candidate gram totals, the brevity penalty from the
    corpus length sums, and BLEU as BP times the uniform-weight
    geometric mean — zero if any order's precision is zero (the
    paper's convention). ROUGE (the sibling key) grades per-pair
    recall-oriented overlap; this grades corpus-level precision with
    a length prior — together they are the two canonical generation
    metrics an eval harness publishes.

    Determinism: every overlap/total/length is an exact integer sum;
    the precision, brevity-penalty, and geometric-mean expressions
    are module constants (_BLEU_P_EXPR/_BLEU_BP_EXPR/_BLEU_EXPR)
    spliced VERBATIM into both engines' projections, so the IEEE
    op sequence cannot fork before the shared 6-dp round.

    Shape: per-order gram counts are explode + partial-agg passes and
    the per-pair clip joins co-partition on doc_id (the ROUGE cost
    model, x4 orders); everything after the per-lang aggregate is a
    map-only projection over |langs| rows."""
    pair = _rc_pair_frame(spark, sf_dir)

    def gram_expr(c: str, n: int) -> str:
        if n == 1:
            return c
        terms = ", ".join(
            [f"{c}[i-1]"] + [f"{c}[i+{j}]" if j else f"{c}[i]" for j in range(n - 1)]
        )
        return (
            f"transform(sequence(1, greatest(size({c}) - {n - 1}, 0)),"
            f" i -> concat_ws(' ', {terms}))"
        )

    def clip_overlap(n: int) -> DataFrame:
        rc = (
            pair.select("doc_id", F.explode(F.expr(gram_expr("rt", n))).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("cr"))
        )
        cc = (
            pair.select("doc_id", F.explode(F.expr(gram_expr("ct", n))).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("cc"))
        )
        return (
            rc.join(cc, ["doc_id", "g"])
            .groupBy("doc_id")
            .agg(F.sum(F.least("cr", "cc")).cast("bigint").alias(f"ov{n}"))
        )

    dl = pair.select(
        "doc_id",
        "lang",
        F.size("rt").cast("bigint").alias("lr"),
        F.size("ct").cast("bigint").alias("lc"),
    )
    for n in range(1, 5):
        dl = dl.join(clip_overlap(n), "doc_id", "left")
    g = (
        dl.select(
            "lang",
            "lr",
            "lc",
            *[
                F.coalesce(f"ov{n}", F.lit(0)).alias(f"ov{n}")
                for n in range(1, 5)
            ],
            *[
                F.greatest(F.col("lc") - (n - 1), F.lit(0)).alias(f"tv{n}")
                for n in range(1, 5)
            ],
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("lr").cast("bigint").alias("ref_len"),
            F.sum("lc").cast("bigint").alias("cand_len"),
            *[F.sum(f"ov{n}").cast("bigint").alias(f"o{n}") for n in range(1, 5)],
            *[F.sum(f"tv{n}").cast("bigint").alias(f"t{n}") for n in range(1, 5)],
        )
    )
    scored = g.select(
        "lang",
        "n_pairs",
        "ref_len",
        "cand_len",
        *[F.expr(_BLEU_P_EXPR[n]).alias(f"p{n}") for n in range(1, 5)],
        F.expr(_BLEU_BP_EXPR).alias("bp"),
    )
    return scored.select(
        "lang",
        "n_pairs",
        "ref_len",
        "cand_len",
        *[F.round(f"p{n}", 6).alias(f"p{n}") for n in range(1, 5)],
        F.round("bp", 6).alias("brevity_penalty"),
        F.expr(_BLEU_EXPR).alias("bleu"),
    ).orderBy("lang")


# splice the classifier oracle in AFTER registration so both keys share
# the single SQL definition
from kinesis_adapter_spark.plans.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["eval_langid_confusion"] = _ORACLES["eval_langid_confusion"].replace(
    "{LANGID}", _ORACLES["text_lang_id"]
)


BPE_MERGES = 12

# Unrolled K-round CTE chain, generated by the same Python loop shape
# the Spark side runs (the graph_pagerank pattern for oracling
# iterative algorithms): each round extracts adjacent symbol pairs
# from the sentinel-encoded words, arg-maxes the weighted pair count
# with a total tiebreak, and applies the merge as a PLAIN (non-regex)
# string replace — left-to-right non-overlapping in both engines, the
# exact greedy semantics of the classic BPE merge step.
_BPE_ROUND = """,
    p{k} AS MATERIALIZED (
      SELECT z[1] AS sym_a, z[2] AS sym_b, SUM(freq) AS n
      FROM w{prev},
      LATERAL (
        SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS zz
        FROM (SELECT str_split(regexp_replace(enc, '^\\{{|\\}}$', '', 'g'),
                               '}}{{') AS l)
      ) u,
      LATERAL (SELECT [zz[1], zz[2]] AS z) pr
      GROUP BY 1, 2
    ),
    b{k} AS MATERIALIZED (SELECT sym_a, sym_b, n FROM p{k}
             ORDER BY n DESC, sym_a, sym_b LIMIT 1),
    w{k} AS MATERIALIZED (
      SELECT {carry}replace(enc,
               '{{' || (SELECT sym_a FROM b{k}) || '}}{{'
                    || (SELECT sym_b FROM b{k}) || '}}',
               '{{' || (SELECT sym_a FROM b{k})
                    || (SELECT sym_b FROM b{k}) || '}}') AS enc,
             freq
      FROM w{prev}
    )"""


def _bpe_chain(carry: str = "") -> str:
    """The WITH-chain prefix shared by the train and encode oracles —
    ONE generator so the two queries' replayed merge sequences cannot
    fork (the never-fork rule). ``carry`` threads extra columns (the
    word itself, for encode) through every w{k}."""
    head = (
        r"""
    WITH words AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM documents,
           LATERAL unnest(str_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w ~ '^[a-z]+$'
      GROUP BY w
    ),
    w0 AS (
      SELECT """
        + carry
        + r"""regexp_replace(word, '(.)', '{\1}', 'g') AS enc, freq FROM words
    )"""
    )
    return head + "".join(
        _BPE_ROUND.format(k=k, prev=k - 1, carry=carry)
        for k in range(1, BPE_MERGES + 1)
    )


_BPE_SQL = (
    _bpe_chain()
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, sym_a, sym_b, CAST(n AS BIGINT) AS pair_freq FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    + "\n    ORDER BY merge_rank"
)

def _bpe_tok_ctes(doc_cols: str = "doc_id") -> str:
    """The tok (word → BPE token count from the replayed chain) and
    docwords (corpus explode) CTEs shared by the encode and fertility
    oracles — ONE text so both consume identical tokenizations;
    ``doc_cols`` threads extra document columns (lang, for
    fertility)."""
    return f"""
    , tok AS MATERIALIZED (
      SELECT word,
             len(str_split(regexp_replace(enc, '^\\{{|\\}}$', '', 'g'), '}}{{'))
               AS n_tok
      FROM w{BPE_MERGES}
    ),
    docwords AS (
      SELECT {doc_cols}, w AS word
      FROM documents,
           LATERAL unnest(str_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w ~ '^[a-z]+$'
    )"""


_BPE_ENCODE_SQL = (
    _bpe_chain(carry="word, ")
    + _bpe_tok_ctes()
    + """
    SELECT dw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(tok.n_tok) AS BIGINT) AS n_bpe_tokens
    FROM docwords dw JOIN tok USING (word)
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """
)

_BPE_FERTILITY_SQL = (
    _bpe_chain(carry="word, ")
    + _bpe_tok_ctes("doc_id, lang")
    + """
    SELECT dw.lang,
           CAST(COUNT(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(tok.n_tok) AS BIGINT) AS n_bpe_tokens,
           ROUND(SUM(tok.n_tok) * 1.0 / COUNT(*), 6) AS fertility
    FROM docwords dw JOIN tok USING (word)
    GROUP BY dw.lang
    ORDER BY dw.lang
    """
)


@query("vocab_bpe_train", _BPE_SQL)
def vocab_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL distributed BPE merge training (r6 directive #5) — the
    iterative pair-count/argmax/merge loop, not the regex budget
    estimator (text_token_count_bpe, which now points here): K=12
    rounds over the WORD-TYPE table, emitting the learned merge table
    ``(merge_rank, sym_a, sym_b, pair_freq)`` — the artifact a
    tokenizer trainer publishes.

    Distributed shape (the classic Sennrich formulation, which trains
    on word TYPES weighted by frequency, never on the corpus): one
    corpus pass builds (word, freq) — the only corpus-sized shuffle —
    and the type table persists in memory (vocabulary-sized). Each
    merge round is then: explode adjacent symbol pairs (map-only over
    types), one TYPE-sized shuffle for the weighted pair count, a
    1-row argmax collect (bounded metadata, the graph_pagerank
    discipline), and a map-only merge application. Cost: K type-sized
    shuffles — at 100 TB the corpus pass dominates and K adds nothing
    data-sized.

    Cross-engine determinism: symbols ride sentinel-wrapped in the
    encoded string (``{a}{b}{c}``), merges apply as PLAIN string
    replace (left-to-right, non-overlapping == greedy BPE in both
    engines; no regex, no lookaround — RE2 lacks lookbehind), the
    argmax tiebreak is total (count DESC, sym_a, sym_b), and counts
    are integers — no float boundary anywhere. The oracle replays the
    identical loop as an unrolled CTE chain generated from the same
    round template.

    Publishing (r7 directive #3): every train run publishes the merge
    table to the staging dir's ``bpe_merges.parquet`` (staged by the
    source fingerprint; a current build is kept, its content is the
    same), the artifact vocab_bpe_encode broadcasts — train-once,
    encode-many, the pca_components_table pattern. The train key
    itself always retrains (that IS the measured operation; serving
    the cache here would fake the bench anchor)."""
    merges, _ = _bpe_train(spark, sf_dir)
    _publish_bpe_merges(sf_dir, lambda: merges)
    return spark.createDataFrame(
        merges, "merge_rank int, sym_a string, sym_b string, pair_freq bigint"
    ).orderBy("merge_rank")


def _publish_bpe_merges(sf_dir: str, train) -> str:
    """Path of the merge table (K rows of model metadata) staged as
    ``bpe_merges.parquet`` from ``train()``'s merges, keyed by the
    documents.parquet fingerprint: a regenerated corpus at the same
    path restages instead of serving a stale tokenizer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kinesis_adapter_spark.sources.scans import derived_dir

    def build(tmp: Path) -> None:
        merges = train()
        tbl = pa.table(
            {
                "merge_rank": pa.array([m[0] for m in merges], pa.int32()),
                "sym_a": pa.array([m[1] for m in merges], pa.string()),
                "sym_b": pa.array([m[2] for m in merges], pa.string()),
                "pair_freq": pa.array([m[3] for m in merges], pa.int64()),
            }
        )
        pq.write_table(tbl, tmp)

    path = staged(
        derived_dir(sf_dir) / "bpe_merges.parquet",
        [Path(sf_dir) / "documents.parquet"],
        build,
    )
    return str(path)


def bpe_merges_table(spark: SparkSession, sf_dir: str) -> str:
    """Path to the published merge table for this staging dir,
    training (once) only when absent or fingerprint-stale — the
    consumer-side half of the publish contract."""
    return _publish_bpe_merges(sf_dir, lambda: _bpe_train(spark, sf_dir)[0])


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The K-round training loop itself, shared by vocab_bpe_train and
    vocab_bpe_encode (never-fork rule). Returns ``(merges, final)``:
    the merge table rows and the word-TYPE table ``(w, enc, freq)``
    with all K merges applied — the trained tokenizer's vocabulary
    view, vocabulary-sized."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pinned = words.select(
        "w", F.regexp_replace("w", "(.)", "{$1}").alias("enc"), "freq"
    ).persist()  # type-sized: safe to pin for the K rounds
    cur = pinned
    merges = []
    try:
        cur, merges = _bpe_rounds(cur)
    finally:
        # every argmax round has read the pinned type table by now;
        # both callers consume only the (local) merge list, so release
        # the cache here — a long-lived session must not accumulate
        # cached blocks (the mmr_select contract). A future consumer of
        # the returned type frame just recomputes the one corpus pass.
        pinned.unpersist()
    return merges, cur


def _bpe_rounds(cur):
    """The K merge rounds over the (persisted) word-type frame —
    split out of _bpe_train so the cache release wraps the whole loop
    in one try/finally."""
    merges = []
    for k in range(1, BPE_MERGES + 1):
        syms = F.split(
            F.regexp_replace("enc", r"^\{|\}$", ""), r"\}\{"
        )
        pairs = cur.select(
            F.explode(
                F.arrays_zip(
                    F.slice(syms, 1, F.size(syms) - 1).alias("sym_a"),
                    F.slice(syms, 2, F.size(syms) - 1).alias("sym_b"),
                )
            ).alias("z"),
            "freq",
        ).select(
            F.col("z.sym_a").alias("sym_a"),
            F.col("z.sym_b").alias("sym_b"),
            "freq",
        )
        best = (
            pairs.groupBy("sym_a", "sym_b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "sym_a", "sym_b")
            .limit(1)
            .collect()[0]  # 1 row per round: model metadata, never data
        )
        merges.append((k, best["sym_a"], best["sym_b"], int(best["n"])))
        cur = cur.select(
            "w",
            F.replace(
                F.col("enc"),
                F.lit("{" + best["sym_a"] + "}{" + best["sym_b"] + "}"),
                F.lit("{" + best["sym_a"] + best["sym_b"] + "}"),
            ).alias("enc"),
            "freq",
        )
    return cur, merges


@query("vocab_bpe_encode", _BPE_ENCODE_SQL)
def vocab_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE merges — the consumer half of
    vocab_bpe_train: per document, word count and the exact BPE token
    count under the learned merge table (the number every context-
    window packing and token-budget decision needs, now from the real
    tokenizer rather than text_token_count_bpe's regex estimate).

    Shape (r7 directive #3 — consume, don't retrain): the published
    merge artifact (bpe_merges_table, K rows of model metadata) is
    read driver-side and unrolled into ONE nested map-only replace
    expression — encode's plan has ZERO argmax collects and zero
    type-sized training shuffles. The distinct-word TYPE table gets
    the merge chain applied (map-side-combined distinct, then pure
    string expressions), maps word → token count (vocabulary-sized →
    BROADCAST), and the corpus pass is one explode + broadcast-join +
    per-doc aggregation: no shuffle carries anything wider than
    (doc_id, n_tok). The oracle replays the same chain (word carried
    through the rounds) via the shared CTE generator, so the merge
    sequence still cannot fork — the artifact itself is fingerprint-
    staged against the corpus, so both engines see the same merges."""
    return (
        _bpe_doc_word_tok(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def _bpe_doc_word_tok(
    spark: SparkSession, sf_dir: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The shared encode read path: published merges unrolled into one
    map-only replace chain over the distinct-word type table, token
    counts broadcast, corpus explode joined against them — returns
    (doc_id, *extra_cols, word, n_tok) rows. ONE copy for
    vocab_bpe_encode and vocab_tokenizer_fertility (mirror of
    ``_bpe_tok_ctes`` on the oracle side)."""
    import pyarrow.parquet as pq

    path = bpe_merges_table(spark, sf_dir)
    merges = pq.read_table(path).sort_by("merge_rank").to_pylist()
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .distinct()
    )
    enc = F.regexp_replace("word", "(.)", "{$1}")
    for m in merges:  # K nested plain replaces: one map-only expression
        enc = F.replace(
            enc,
            F.lit("{" + m["sym_a"] + "}{" + m["sym_b"] + "}"),
            F.lit("{" + m["sym_a"] + m["sym_b"] + "}"),
        )
    strip = F.split(F.regexp_replace(enc, r"^\{|\}$", ""), r"\}\{")
    tok = words.select("word", F.size(strip).alias("n_tok"))
    docwords = d.select(
        "doc_id",
        *extra_cols,
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
    ).filter(F.col("word").rlike("^[a-z]+$"))
    return docwords.join(F.broadcast(tok), "word")


@query("vocab_tokenizer_fertility", _BPE_FERTILITY_SQL)
def vocab_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — BPE tokens per word under
    the published merge table, the number multilingual-tokenizer
    papers report to show which languages a vocabulary taxes (high
    fertility = more tokens per word = higher serving cost and less
    effective context for that language). Composes the train→publish→
    broadcast artifact chain end-to-end: same merges, same replayed
    encode path as vocab_bpe_encode (shared ``_bpe_doc_word_tok`` /
    ``_bpe_tok_ctes`` — never-fork), aggregated per documents.lang
    instead of per doc.

    Scale shape: identical to encode — one corpus explode, a
    vocabulary-sized broadcast, and a |langs|-group aggregate; lang
    rides the explode projection so no second corpus join is needed.
    Determinism: integer token counts; one rounded division per
    group."""
    return (
        _bpe_doc_word_tok(spark, sf_dir, extra_cols=("lang",))
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
            F.round(F.sum("n_tok") / F.count(F.lit(1)), 6).alias(
                "fertility"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training — the OTHER of
# the two tokenizer families real pipelines use (Kudo 2018, public
# literature), completing train/encode/fertility with a probabilistic
# segmenter beside the merge-based BPE. Hard-EM (Viterbi) variant:
# E-step segments every word TYPE by best-path DP under the current
# piece log-probs; M-step re-estimates log-probs from the weighted
# piece usage counts. K fixed rounds, the vocab set frozen at seeding
# (unused pieces carry a -99 floor instead of being dropped, so the
# DP stays total and the round count stays deterministic).
# ---------------------------------------------------------------------------

UNI_SEED_TOP = 200  # multi-char seed pieces kept (by count desc, piece)
UNI_PIECE_MAX = 4  # max piece length (chars)
UNI_MAX_WLEN = 12  # words longer than this are dropped on BOTH engines
# (the SentencePiece max-length knob; also the oracle's DP unroll bound)
UNI_EM_ROUNDS = 3  # fixed EM rounds (the BPE K-rounds discipline)
UNI_FLOOR = -99.0  # log-prob floor for pieces unused in a round


def _rnd6_half_away(x: float) -> float:
    """round(x, 6) with HALF-AWAY-FROM-ZERO ties — DuckDB's (and Spark
    F.round's) semantics; Python's builtin round is banker's, which
    would fork the engines exactly at a tie boundary."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _uni_viterbi(word: str, lp: dict) -> list:
    """Best segmentation of ``word`` under piece log-probs ``lp``:
    dp[i] = max over piece lengths L=4..1 of dp[i-L] + lp[word[i-L:i]],
    ties broken toward the LONGER piece (first seen wins under strict
    >). Total because every single char is in the vocab. The oracle
    replays this exact DP (same float additions, same operand order,
    same tiebreak) as a position-unrolled plain-CTE chain (one
    dp{r}_{i} CTE per prefix length — see the no-recursive-CTE design
    note above _uni_dp_cte), so scores are bit-identical."""
    n = len(word)
    dp = [None] * (n + 1)
    back = [0] * (n + 1)
    dp[0] = 0.0
    for i in range(1, n + 1):
        best = None
        best_len = 0
        for length in range(UNI_PIECE_MAX, 0, -1):
            j = i - length
            if j < 0 or dp[j] is None:
                continue
            v = lp.get(word[j:i])
            if v is None:
                continue
            s = dp[j] + v
            if best is None or s > best:
                best, best_len = s, length
        dp[i] = best
        back[i] = best_len
    pieces = []
    i = n
    while i > 0:
        pieces.append(word[i - back[i] : i])
        i -= back[i]
    pieces.reverse()
    return pieces


def _unigram_em(spark: SparkSession, sf_dir: str):
    """The seeding + K-round hard-EM loop. Returns ``(counts, total)``
    for the final round: piece → weighted usage count (ints) over the
    word-type table, and their sum.

    Distributed shape: one corpus pass builds the word-TYPE table (the
    only corpus-sized shuffle, shared with the BPE trainer), then the
    type table is MATERIALIZED ONCE (eager localCheckpoint, released
    before return — every product of this function is collected model
    metadata, so nothing lazy can reference the checkpoint after the
    guard exits); seeding is a type-sized substring explode into a
    piece count (lengths 1..UNI_PIECE_MAX) whose kept head is BOUNDED
    (all single chars + top UNI_SEED_TOP multi-char pieces — bounded
    collect, model metadata). Each EM round is then one mapInPandas
    Viterbi pass over the CHECKPOINTED types with the
    ≤(26+UNI_SEED_TOP)-entry vocab broadcast, a piece-keyed
    partial-agg shuffle whose key domain is the vocab, and a
    vocab-sized collect for the driver-side M-step — at 100 TB the
    corpus pass runs once (r11 fix: pre-checkpoint, seeding + each of
    the K rounds re-executed it), K rounds add type-sized work only,
    and nothing corpus-sized ever reaches the driver."""
    with released_persists(spark):
        return _unigram_em_inner(spark, sf_dir)


def _unigram_em_inner(spark: SparkSession, sf_dir: str):
    """_unigram_em's body — runs inside the persist guard; the type
    table checkpoint taken here is released the moment the guard exits
    (all three return values are plain Python dicts/ints)."""
    import math

    words = _unigram_words(spark, sf_dir).localCheckpoint(eager=True)
    subs = (
        words.select(
            "w",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"),
        )
        .select(
            "w",
            "freq",
            "i",
            F.explode(F.sequence(F.lit(1), F.lit(UNI_PIECE_MAX))).alias("L"),
        )
        .filter(F.col("i") + F.col("L") - 1 <= F.length("w"))
        .select(
            F.col("w").substr(F.col("i"), F.col("L")).alias("piece"), "freq"
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("n"))
    )
    chars = [
        (r["piece"], r["n"])
        for r in subs.filter(F.length("piece") == 1).collect()
    ]  # bounded: the alphabet
    top = [
        (r["piece"], r["n"])
        for r in subs.filter(F.length("piece") >= 2)
        .orderBy(F.col("n").desc(), "piece")
        .limit(UNI_SEED_TOP)
        .collect()
    ]  # bounded: UNI_SEED_TOP rows of model metadata
    seed = chars + top
    total = sum(n for _, n in seed)
    lp = {p: _rnd6_half_away(math.log(n / total)) for p, n in seed}

    counts: dict = {}
    for _ in range(UNI_EM_ROUNDS):
        blp = spark.sparkContext.broadcast(lp)

        def estep(batches):
            import pandas as pd

            vocab = blp.value
            for pdf in batches:
                agg: dict = {}
                for w, f in zip(pdf["w"], pdf["freq"]):
                    for pc in _uni_viterbi(w, vocab):
                        agg[pc] = agg.get(pc, 0) + int(f)
                yield pd.DataFrame(
                    {"piece": list(agg), "n": list(agg.values())}
                )

        rows = (
            words.mapInPandas(estep, "piece string, n long")
            .groupBy("piece")
            .agg(F.sum("n").alias("n"))
            .collect()
        )  # bounded: ≤ |vocab| rows
        counts = {r["piece"]: r["n"] for r in rows}
        total = sum(counts.values())
        lp = {
            p: (
                _rnd6_half_away(math.log(counts[p] / total))
                if counts.get(p)
                else UNI_FLOOR
            )
            for p in lp
        }
        blp.unpersist()
    return counts, total, lp


def _unigram_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-TYPE table under the trainer's word spec (lowercase
    [a-z]+ runs, length-capped at UNI_MAX_WLEN) — shared by the train
    and encode keys so corpus tokenization can never fork."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{1,%d}$" % UNI_MAX_WLEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


# Oracle: the identical seeding + K Viterbi-EM rounds, unrolled — and
# the per-word DP is ALSO unrolled, position by position, as plain
# CTEs (dp{r}_{i} = best score/path over the first i chars of every
# word of length >= i, argmax over the <=UNI_PIECE_MAX lookback legs
# via a QUALIFY row_number with the same (score DESC, piece-length
# DESC) tiebreak as the Python DP). Two reasons there is no recursive
# CTE here: DuckDB 1.0 silently evaluates a MATERIALIZED CTE as EMPTY
# when referenced from a recursive term, and without materialization
# each round's vocab CTE would inline (and so re-run) every prior
# round per iteration — measured 58 s at sf0.01 / 314 s at sf0.1 for
# the recursive formulation vs well under a second unrolled. The
# unroll bound UNI_MAX_WLEN is part of the operator SPEC (both engines
# drop longer words — the SentencePiece max-sentence-length knob), not
# an assumption about the fixture. Float semantics per candidate are
# one addition (dp[j] + lp) of identical rounded doubles on both
# engines, so scores and paths stay bit-identical.


def _uni_dp_cte(r: int, i: int) -> str:
    """dp{r}_{i}: best (score, path) for the first ``i`` chars under
    round-r vocab v{r-1}."""
    legs = []
    for length in range(1, UNI_PIECE_MAX + 1):
        if i - length < 0:
            continue
        start = i + 1 - length
        legs.append(
            f"""
        SELECT d.word, {length} AS L, d.s + v.lp AS s,
               d.p || '{{' || substr(d.word, {start}, {length}) || '}}' AS p
        FROM dp{r}_{i - length} d
        JOIN v{r - 1} v ON v.piece = substr(d.word, {start}, {length})
        WHERE len(d.word) >= {i}"""
        )
    union = "\n        UNION ALL".join(legs)
    return f""",
    dp{r}_{i} AS MATERIALIZED (
      SELECT word, s, p FROM ({union}
      ) u
      QUALIFY row_number() OVER (PARTITION BY word
                                 ORDER BY s DESC, L DESC) = 1
    )"""


def _uni_round_ctes(r: int, mstep: bool = True) -> str:
    """One EM round: the position-unrolled Viterbi, per-word final
    segmentations, and (when ``mstep``) the weighted piece counts and
    re-estimated vocab. ``mstep=False`` emits only the E-step —
    vocab_unigram_encode's final segmentation pass under the trained
    v{r-1}, which has no M-step by definition."""
    dp0 = f""",
    dp{r}_0 AS (SELECT word, CAST(0.0 AS DOUBLE) AS s, '' AS p FROM words)"""
    dps = "".join(_uni_dp_cte(r, i) for i in range(1, UNI_MAX_WLEN + 1))
    seg = "\n      UNION ALL ".join(
        f"SELECT word, p FROM dp{r}_{i} WHERE len(word) = {i}"
        for i in range(1, UNI_MAX_WLEN + 1)
    )
    estep = (
        dp0
        + dps
        + f""",
    seg{r} AS (
      {seg}
    )"""
    )
    if not mstep:
        return estep
    return (
        estep
        + f""",
    cnt{r} AS MATERIALIZED (
      SELECT pc AS piece, SUM(freq) AS n
      FROM (SELECT w.freq,
                   unnest(str_split(regexp_replace(g.p, '^\\{{|\\}}$', '', 'g'),
                                    '}}{{')) AS pc
            FROM seg{r} g JOIN words w ON w.word = g.word)
      GROUP BY 1
    ),
    tot{r} AS (SELECT SUM(n) AS t FROM cnt{r}),
    v{r} AS MATERIALIZED (
      SELECT s.piece,
             CASE WHEN c.n IS NULL THEN -99.0
                  ELSE round(ln(c.n / (SELECT t FROM tot{r})), 6) END AS lp
      FROM v0 s LEFT JOIN cnt{r} c USING (piece)
    )"""
    )


# Seeding head shared VERBATIM by the train and encode oracles (the
# _bpe_chain never-fork rule): words → substring counts → bounded seed
# → initial vocab v0.
_UNIGRAM_HEAD_SQL = f"""
    WITH words AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM documents,
           LATERAL unnest(str_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w ~ '^[a-z]{{1,{UNI_MAX_WLEN}}}$'
      GROUP BY w
    ),
    subs AS MATERIALIZED (
      SELECT substr(word, i, L) AS piece, SUM(freq) AS n
      FROM words,
           LATERAL unnest(generate_series(1, len(word))) AS a(i),
           LATERAL unnest(generate_series(1, {UNI_PIECE_MAX})) AS b(L)
      WHERE i + L - 1 <= len(word)
      GROUP BY 1
    ),
    seed AS MATERIALIZED (
      SELECT piece, n FROM subs WHERE len(piece) = 1
      UNION ALL
      SELECT piece, n FROM (
        SELECT piece, n FROM subs WHERE len(piece) >= 2
        ORDER BY n DESC, piece LIMIT {UNI_SEED_TOP})
    ),
    tot0 AS (SELECT SUM(n) AS t FROM seed),
    v0 AS MATERIALIZED (
      SELECT piece, round(ln(n / (SELECT t FROM tot0)), 6) AS lp FROM seed
    )"""

_UNIGRAM_SQL = (
    _UNIGRAM_HEAD_SQL
    + "".join(_uni_round_ctes(k) for k in range(1, UNI_EM_ROUNDS + 1))
    + f"""
    SELECT piece, CAST(n AS BIGINT) AS n_used,
           round(ln(n / (SELECT t FROM tot{UNI_EM_ROUNDS})), 6) AS logprob
    FROM cnt{UNI_EM_ROUNDS}
    ORDER BY n_used DESC, piece
    """
)

# Encode oracle: the full train chain, one MORE E-step (no M-step)
# under the trained v{R} — segmentation with the published model —
# then word → token counts joined onto the corpus explode (the
# _bpe_tok_ctes shape; the docwords cap matches the trainer's word
# spec on both engines).
_UNIGRAM_ENCODE_SQL = (
    _UNIGRAM_HEAD_SQL
    + "".join(_uni_round_ctes(k) for k in range(1, UNI_EM_ROUNDS + 1))
    + _uni_round_ctes(UNI_EM_ROUNDS + 1, mstep=False)
    + f""",
    tok AS (
      SELECT word,
             len(str_split(regexp_replace(p, '^\\{{|\\}}$', '', 'g'),
                           '}}{{')) AS n_tok
      FROM seg{UNI_EM_ROUNDS + 1}
    ),
    docwords AS (
      SELECT doc_id, w AS word
      FROM documents,
           LATERAL unnest(str_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w ~ '^[a-z]{{1,{UNI_MAX_WLEN}}}$'
    )
    SELECT dw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(tok.n_tok) AS BIGINT) AS n_unigram_tokens
    FROM docwords dw JOIN tok USING (word)
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """
)

# Fertility twin: identical chain and tok/docwords text except lang is
# carried through the explode and the aggregate groups by it — the
# vocab_tokenizer_fertility (BPE) readout for the unigram model.
_UNIGRAM_FERTILITY_SQL = (
    _UNIGRAM_HEAD_SQL
    + "".join(_uni_round_ctes(k) for k in range(1, UNI_EM_ROUNDS + 1))
    + _uni_round_ctes(UNI_EM_ROUNDS + 1, mstep=False)
    + f""",
    tok AS (
      SELECT word,
             len(str_split(regexp_replace(p, '^\\{{|\\}}$', '', 'g'),
                           '}}{{')) AS n_tok
      FROM seg{UNI_EM_ROUNDS + 1}
    ),
    docwords AS (
      SELECT doc_id, lang, w AS word
      FROM documents,
           LATERAL unnest(str_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w ~ '^[a-z]{{1,{UNI_MAX_WLEN}}}$'
    )
    SELECT dw.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(tok.n_tok) AS BIGINT) AS n_unigram_tokens,
           ROUND(SUM(tok.n_tok) * 1.0 / COUNT(*), 6) AS fertility
    FROM docwords dw JOIN tok USING (word)
    GROUP BY dw.lang
    ORDER BY dw.lang
    """
)


@query("vocab_unigram_train", _UNIGRAM_SQL)
def vocab_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece's model family,
    Kudo 2018 — public literature), hard-EM/Viterbi variant: seed a
    bounded piece vocabulary (all single chars + the top
    UNI_SEED_TOP substrings of length ≤ UNI_PIECE_MAX by weighted
    corpus count), then K = UNI_EM_ROUNDS rounds of
    E-step (best-path segmentation of every word TYPE under current
    piece log-probs; broadcast vocab, Arrow-batched mapInPandas — the
    DP is genuinely sequential per word, the sanctioned Python slot) /
    M-step (piece log-probs from weighted usage counts; vocab-sized
    driver metadata). Emits the trained piece table
    ``(piece, n_used, logprob)`` — the artifact a unigram tokenizer
    publishes — for pieces the final segmentation actually uses.

    Cross-engine determinism: integer counts throughout; log-probs are
    round(ln(count/total), 6) with half-away ties on BOTH engines
    (_rnd6_half_away mirrors DuckDB round); DP scores add the same
    rounded doubles in the same order with the same
    (score DESC, piece-length DESC) tiebreak, so segmentations are
    bit-identical — no tolerance anywhere. The oracle unrolls the
    identical K rounds as position-unrolled plain-CTE Viterbi walks
    (the BPE unrolled-chain discipline, llmops.py _bpe_chain; see the
    no-recursive-CTE design note above _uni_dp_cte)."""
    import math

    counts, total, _ = _unigram_em(spark, sf_dir)
    rows = [
        (p, int(n), _rnd6_half_away(math.log(n / total)))
        for p, n in counts.items()
        if n
    ]
    return spark.createDataFrame(
        rows, "piece string, n_used bigint, logprob double"
    ).orderBy(F.col("n_used").desc(), "piece")


@query("vocab_unigram_encode", _UNIGRAM_ENCODE_SQL)
def vocab_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained unigram-LM model — the consumer half of
    vocab_unigram_train (the vocab_bpe_encode twin): per document,
    word count and the exact unigram token count from Viterbi
    segmentation under the FINAL trained piece log-probs (one more
    E-step with no M-step — what a published SentencePiece model does
    at inference).

    Shape: train produces the bounded lp table (driver metadata); the
    type table gets ONE more mapInPandas Viterbi pass mapping word →
    token count (vocabulary-sized → broadcast-joined), and the corpus
    pass is one explode + broadcast join + per-doc aggregate — the
    vocab_bpe_encode cost model exactly. Determinism: the final
    segmentation replays the same bit-identical DP as training
    (_uni_viterbi vs the oracle's dp{R+1} unrolled positions); token
    counts are integers."""
    import pandas as pd

    _, _, lp = _unigram_em(spark, sf_dir)
    blp = spark.sparkContext.broadcast(lp)

    def count_tokens(batches):
        vocab = blp.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["w"],
                    "n_tok": [
                        len(_uni_viterbi(w, vocab)) for w in pdf["w"]
                    ],
                }
            )

    words = _unigram_words(spark, sf_dir)
    tok = words.mapInPandas(count_tokens, "word string, n_tok long")
    d = load(spark, sf_dir, "documents")
    docwords = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
    ).filter(F.col("word").rlike("^[a-z]{1,%d}$" % UNI_MAX_WLEN))
    return (
        docwords.join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_unigram_tokens"),
        )
        .orderBy("doc_id")
    )


@query("vocab_unigram_fertility", _UNIGRAM_FERTILITY_SQL)
def vocab_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language under the trained unigram-LM
    model — the vocab_tokenizer_fertility readout for the OTHER
    tokenizer family, so the two can be compared lang-by-lang (the
    table a tokenizer-selection study actually publishes; the
    cross-family comparison itself is asserted in
    tests/test_quality.py). Identical plan to vocab_unigram_encode —
    lang rides the corpus explode, the aggregate groups by it; one
    rounded division per group."""
    import pandas as pd

    _, _, lp = _unigram_em(spark, sf_dir)
    blp = spark.sparkContext.broadcast(lp)

    def count_tokens(batches):
        vocab = blp.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["w"],
                    "n_tok": [
                        len(_uni_viterbi(w, vocab)) for w in pdf["w"]
                    ],
                }
            )

    words = _unigram_words(spark, sf_dir)
    tok = words.mapInPandas(count_tokens, "word string, n_tok long")
    d = load(spark, sf_dir, "documents")
    docwords = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
    ).filter(F.col("word").rlike("^[a-z]{1,%d}$" % UNI_MAX_WLEN))
    return (
        docwords.join(F.broadcast(tok), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_unigram_tokens"),
            F.round(
                F.sum("n_tok") * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@query(
    "sample_balanced_classes",
    """
    WITH m AS (
      SELECT MIN(n) AS m FROM (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
      )
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5('bal-' || doc_id), doc_id)
               AS rk
      FROM documents
    )
    SELECT doc_id, lang FROM r, m WHERE rk <= m.m
    ORDER BY doc_id
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents, chosen by a KEYED-HASH rank (not
    rand()) so the sample is engine- and retry-reproducible — the
    deterministic form of the majority-downsampling every classifier
    training set runs. One shuffle for the per-class window, the
    1-row minimum broadcast; at 100 TB the hash rank also makes the
    sample STABLE under corpus appends within each class prefix."""
    d = load(spark, sf_dir, "documents")
    m = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("m"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("bal-"), F.col("doc_id"))), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("rk") <= F.col("m"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


BM25_TERMS = ("data", "query", "window")
BM25_K1 = 1.2
BM25_B = 0.75

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# Shared WITH-chain: corpus stats + per-(doc, query-term) BM25 partial
# scores. Reused verbatim by the RRF fusion oracle (never-fork rule).
BM25_SCORES_CTE = f"""
    tk AS (
      SELECT doc_id, w
      FROM documents,
           LATERAL unnest(str_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w ~ '^[a-z]+$'
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
    st AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM tk WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2
    ),
    idf AS (
      SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tk WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY w
    ),
    bm25 AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln((st.n - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1}
                  * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl))
             ), 6) AS score
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN idf ON idf.w = tf.w
      CROSS JOIN st
      GROUP BY tf.doc_id
    )
"""


def bm25_part_expr():
    """The per-(doc, term) Okapi BM25 partial-score expression over
    columns (tf, dl, df, n, avgdl) — ONE copy shared by the batch
    scorer and stream_bm25_maintain's postings-tier recomputation, so
    the two paths' scoring formulas can never fork."""
    return (
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score for the fixed query-term set — the
    Okapi formula from integer corpus statistics only (tf, df, doc
    length, N, exact-integer avgdl), so both engines evaluate the
    identical scalar expression on identical operands and the 6-dp
    rounded scores hash-match. One token pass feeds tf, dl, df, and N;
    the per-term idf table and the two scalars broadcast. Shared by
    text_bm25_topk and the RRF fusion key."""
    # r16 (guide §2.3/§2.4): the r15 shape fed FOUR consumers (dl, st,
    # tf, idf) from the token explode and the optimizer reused none —
    # four corpus tokenize passes per score. Now ONE per-doc wide
    # aggregate (dl + a tf column per fixed query term, map-side
    # partial) carries everything: the (n, avgdl, df*) scalars reduce
    # from it in a 1-row agg (second tokenize pass — the only other
    # one), and the per-(doc, present-term) rows unpivot from it
    # map-only. Operands reaching bm25_part_expr are value-identical
    # (tf/df integer counts cast double, dl an exact BIGINT, avgdl the
    # same exact-integer-sum division), so the 6-dp scores are
    # unchanged.
    d = load(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$"))
    terms = list(BM25_TERMS)
    wide = tk.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0))
            .cast("double")
            .alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = wide.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    tfl = (
        wide.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("w"), F.col(f"tf{i}").alias("tf")
                        )
                        for i, t in enumerate(terms)
                    ]
                )
            ).alias("z"),
        )
        .select("doc_id", "dl", F.col("z.w").alias("w"), F.col("z.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    dfcase = F.when(F.col("w") == terms[0], F.col("df0"))
    for i in range(1, len(terms)):
        dfcase = dfcase.when(F.col("w") == terms[i], F.col(f"df{i}"))
    part = bm25_part_expr()
    return (
        tfl.crossJoin(F.broadcast(stats))
        .withColumn("df", dfcase)
        .groupBy("doc_id")
        .agg(F.round(F.sum(part), 6).alias("score"))
    )


@query(
    "text_bm25_topk",
    f"""
    WITH {BM25_SCORES_CTE}
    SELECT doc_id, score FROM bm25
    QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 20
    ORDER BY score DESC, doc_id
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval, top-20 for a fixed query — the
    classical sparse ranking next to the dense sim_topk: tf saturation
    (k1) and length normalization (b) over tf-idf, the function behind
    every Lucene/Elasticsearch relevance score and the lexical half of
    hybrid RAG retrieval (search_rrf_fusion composes it with the
    dense ranking).

    Cost shape: one token pass (corpus-sized) feeds every statistic;
    the query-term filter cuts the scored frame to |terms| rows per
    matching doc before any join; idf and the (N, avgdl) scalars
    broadcast; top-k is TakeOrderedAndProject. avgdl divides an EXACT
    integer token sum so no float reduction order can shift scores
    between engines (the 6-dp round then has ~1e-14 of slack)."""
    sc = bm25_scores(spark, sf_dir)
    return (
        sc.orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "score")
    )


# ------------------------------------------------------ winnowing fingerprints

WINNOW_K = 4   # words per k-gram
WINNOW_W = 5   # window of consecutive k-grams per fingerprint pick
WINNOW_DF_CAP = 100  # boilerplate guard: drop fingerprints in >cap docs


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint SELECTION over (doc_id, text) — the part
    carrying the scheme's guarantee (any shared run of W+K-1 words in
    two docs yields at least one shared fingerprint; the hypothesis
    property in test_property.py drives exactly this helper, so the
    tested code IS the registry key's). Returns distinct (doc_id, fp);
    the df cap is the caller's policy, applied after selection."""
    toked = docs.select("doc_id", F.split("text", " ").alias("tk"))
    grams_expr = (
        f"transform(sequence(1, greatest(size(tk) - {WINNOW_K - 1}, 0)), "
        "i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1], tk[i+2]))"
    )
    g = toked.select(
        "doc_id", F.posexplode(F.expr(grams_expr)).alias("i0", "gram")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), F.md5("gram").alias("h"))
    wsel = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, WINNOW_W - 1)
    )
    return (
        g.withColumn("ng", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("fp", F.min("h").over(wsel))
        .filter(
            F.col("i")
            <= F.greatest(F.col("ng") - (WINNOW_W - 1), F.lit(1))
        )
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_fingerprint_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per process) the df-capped winnowing
    fingerprint relation ``(doc_id, fp)`` as parquet — the same
    staged-index discipline as capped_shingle_table (VERDICT r16
    item #5): dedup_winnowing's three consumers of the relation (both
    self-join sides + sizes) each re-ran the posexplode + window
    selection subtree. The selection helper (winnow_fingerprints) is
    unchanged — the hypothesis property test still drives the exact
    code that builds this artifact; the df cap is applied here
    because the batch key IS the policy owner (the streaming twins
    that need append-safety store uncapped, like the minhash table)."""

    def build(tmp: Path) -> None:
        fps0 = winnow_fingerprints(mutated_documents(spark, sf_dir))
        (
            fps0.withColumn(
                "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
            )
            .filter(F.col("df") <= WINNOW_DF_CAP)
            .select("doc_id", "fp")
            .write.parquet(str(tmp))
        )

    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    path = staged(
        Path(run_root()) / f"kas_winnow_{sf_tag}",
        [Path(sf_dir) / "documents.parquet"],
        build,
    )
    return str(path)


@query(
    "dedup_winnowing",
    f"""
    WITH docs AS ({MUTATED_SQL}),
    g AS (
      SELECT doc_id, i,
             md5(concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3])) AS h
      FROM (
        SELECT doc_id, tk,
               unnest(generate_series(1, GREATEST(len(tk) - {WINNOW_K - 1}, 0))) AS i
        FROM (SELECT doc_id, str_split(text, ' ') AS tk FROM docs)
      )
    ),
    sel AS (
      SELECT doc_id, i,
             COUNT(*) OVER (PARTITION BY doc_id) AS ng,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_W - 1} FOLLOWING) AS fp
      FROM g
    ),
    fps0 AS (
      SELECT DISTINCT doc_id, fp FROM sel
      WHERE i <= GREATEST(ng - {WINNOW_W - 1}, 1)
    ),
    fps AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps0)
      WHERE df <= {WINNOW_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM fps GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, CAST(i.c AS BIGINT) AS n_shared,
           ROUND(CAST(i.c AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS overlap
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.c AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint near-dup detection (the MOSS scheme):
    hash every K-word gram, slide a window of W consecutive gram
    hashes, keep the window minimum — guaranteeing any shared run of
    W+K-1 words contributes at least one shared fingerprint, while
    storing only ~2/(W+1) of the gram hashes. Docs pair when they
    share >= 50% of the smaller doc's fingerprint set. Run over the
    mutated corpus (every 7th doc truncated by two words), so true
    near-dup pairs must surface.

    vs MinHash (dedup_near_minhash): winnowing selects POSITIONAL
    fingerprints — local to regions of the text — so it also localizes
    WHERE the overlap is, which is why plagiarism/contamination
    checkers use it; MinHash estimates global set resemblance only.

    Scale shape: fingerprint selection is one window pass per doc (no
    shuffle beyond the doc partition), the candidate join is an
    equi-join on the fingerprint key over a table ~2/(W+1) the gram
    count, and the df cap bounds any boilerplate fingerprint's fan-out
    exactly like the stop-shingle cap in capped_shingles. Short docs
    (< W grams) keep their global-min gram so every non-empty doc is
    fingerprinted.

    r17 (VERDICT r16 item #5): the three consumers of the capped
    fingerprint relation read the staged artifact
    (winnow_fingerprint_table) instead of re-running the selection
    subtree per plan reference — same rows, same pairs, oracle-proven
    at both sfs."""
    fps = spark.read.parquet(winnow_fingerprint_table(spark, sf_dir))
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    inter = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ov = F.col("n_shared") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n").alias("nb")), "doc_b")
        .filter(ov >= 0.5)
        .select(
            "doc_a", "doc_b", "n_shared", F.round(ov, 6).alias("overlap")
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------- exact-substring dedup

# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better") deduplicate exact SUBSTRINGS, not whole documents: a 50-token
# window repeated anywhere in the corpus marks both occurrences. The
# window here is 20 tokens (the fixture's docs run 10–99 tokens); the
# mechanism is length-independent.
SUBSTR_L = 20

# Double-lane polynomial rolling hash mod 2^64 (r14 — the docstring-
# promised 100 TB map stage for dedup_exact_substring). Odd bases are
# invertible mod 2^64, which is what lets the per-window hash be
# computed from prefix products/sums in O(1) per position instead of
# re-serializing L tokens per position. Constants: splitmix64 /
# xxhash64 mixing primes (public constants), forced odd.
_RH_B1 = 0x9E3779B97F4A7C15 | 1
_RH_B2 = 0xC2B2AE3D27D4EB4F | 1
#: lane-2 per-token remap (odd ⇒ bijective mod 2^64) so the two lanes
#: hash decorrelated token streams, not just different bases
_RH_MIX2 = 0x9DDFEA08EB382D69


def _rolling_window_hashes(th, L: int, base: int):
    """All L-token window hashes of a uint64 token-hash stream in ONE
    O(n) vectorized pass: H_pos = Σ_{j<L} th[pos+j]·base^(L-1-j)
    (mod 2^64) for pos ∈ [0, n-L].

    The prefix trick: with P_i = P_{i-1}·B + th_i (P as uint64, all
    arithmetic wrapping mod 2^64) every window hash telescopes to
    H_pos = P_{pos+L-1} − B^L·P_{pos-1}, and P itself vectorizes via
    the invertibility of odd B mod 2^64: P_i = B^i · Σ_{j≤i} th_j·B^{−j}
    — a cumprod of powers, an elementwise multiply, and a cumsum, all
    wrapping uint64 ops. Because H_pos depends ONLY on the window's
    own L tokens, the batch kernel may hash a CONCATENATED multi-doc
    token stream once and slice out per-doc windows (verified at every
    boundary offset by the unit test)."""
    import numpy as np

    n = len(th)
    if n < L:
        return np.empty(0, dtype=np.uint64)
    M = 1 << 64
    binv = pow(base, -1, M)
    powb = np.full(n, np.uint64(base))
    powb[0] = np.uint64(1)
    np.multiply.accumulate(powb, out=powb)  # B^i mod 2^64
    powbinv = np.full(n, np.uint64(binv))
    powbinv[0] = np.uint64(1)
    np.multiply.accumulate(powbinv, out=powbinv)  # B^-i mod 2^64
    prefix = powb * np.cumsum(th * powbinv, dtype=np.uint64)  # P_i
    bl = np.uint64(pow(base, L, M))
    shifted = np.empty(n - L + 1, dtype=np.uint64)
    shifted[0] = np.uint64(0)  # P_{-1} = 0
    shifted[1:] = prefix[: n - L]
    return prefix[L - 1 :] - bl * shifted


@query(
    "dedup_exact_substring",
    f"""
    WITH corpus AS ({MUTATED_SQL}),
    tk AS (SELECT doc_id, str_split(text, ' ') AS tk FROM corpus),
    g AS (
      SELECT doc_id,
             md5(array_to_string(tk[pos:pos + {SUBSTR_L} - 1], ' ')) AS gh
      FROM (
        SELECT doc_id, tk,
               unnest(generate_series(1, len(tk) - {SUBSTR_L} + 1)) AS pos
        FROM tk WHERE len(tk) >= {SUBSTR_L}
      )
    ),
    dup AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN d.gh IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_pos,
           ROUND(SUM(CASE WHEN d.gh IS NOT NULL THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS dup_fraction
    FROM g LEFT JOIN dup d USING (gh)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2021's dedup
    unit, public literature): every doc position opens a SUBSTR_L-token
    window; a window whose text occurs in ≥2 DISTINCT docs is a
    duplicated span, and each doc reports its duplicated-position
    fraction (the quantity a curation pipeline thresholds on — a
    doc that is mostly repeated substrings is boilerplate even when
    no WHOLE-doc dup matches it). Fixture: the mutated corpus — the
    every-7th truncated copy shares every one of its windows with its
    source, so copies read dup_fraction 1.0 and their sources all but
    the trailing two positions.

    Scale shape (r14 — the rolling-hash map stage the r13 docstring
    promised): per-token hashes are computed JVM-side (xxhash64, one
    int64 per token over the Arrow boundary), and ONE vectorized
    mapInPandas pass turns each batch's CONCATENATED token-hash stream
    into every window's double-lane polynomial rolling hash in O(1)
    amortized work per position (_rolling_window_hashes — prefix
    products/sums mod 2^64; window-locality is telescoping, so doc
    boundaries inside the concatenation are free). The shuffled key is
    (h1, h2) — 16 bytes/position regardless of window length (vs 32 for
    the old md5-of-rejoined-window, which also re-serialized L tokens
    per position: O(n·L) map bytes vs O(n) now) — and the gram-count
    aggregation plus the span join move hash-sized rows, both
    partial-agg/equi-join linear in corpus tokens. The ORACLE keeps
    md5(window text): the window key never reaches the output, so any
    injective-enough key yields the identical dup classification —
    128-bit double-lane collisions are ~p²·2⁻¹²⁸-negligible at any
    conceivable position count. Docs shorter than the window emit no
    positions and are absent here by construction (they cannot carry
    a duplicated span)."""
    import numpy as np
    import pandas as pd

    corpus = mutated_documents(spark, sf_dir)
    tk = F.split("text", " ")
    t = (
        corpus.select(
            "doc_id",
            F.transform(tk, lambda x: F.xxhash64(x)).alias("th"),
        )
        .filter(F.size("th") >= SUBSTR_L)
    )

    def roll(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            toks = [np.asarray(a, dtype=np.int64) for a in pdf["th"]]
            lens = np.array([len(a) for a in toks], dtype=np.int64)
            th = np.concatenate(toks).view(np.uint64)
            h1 = _rolling_window_hashes(th, SUBSTR_L, _RH_B1)
            h2 = _rolling_window_hashes(
                th * np.uint64(_RH_MIX2), SUBSTR_L, _RH_B2
            )
            # global window-start indices that stay inside one doc
            reps = lens - SUBSTR_L + 1  # all ≥ 1 (filtered above)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            offs = np.concatenate(([0], np.cumsum(reps)[:-1]))
            idx = (
                np.arange(int(reps.sum()), dtype=np.int64)
                - np.repeat(offs, reps)
                + np.repeat(starts, reps)
            )
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        pdf["doc_id"].to_numpy(), reps
                    ),
                    "h1": h1[idx].view(np.int64),
                    "h2": h2[idx].view(np.int64),
                }
            )

    g = t.mapInPandas(roll, "doc_id bigint, h1 bigint, h2 bigint")
    dup = (
        g.groupBy("h1", "h2")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h1", "h2", F.lit(1).alias("is_dup"))
    )
    return (
        g.join(dup, ["h1", "h2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce("is_dup", F.lit(0)))
            .cast("bigint")
            .alias("n_dup_pos"),
        )
        .select(
            "doc_id",
            "n_pos",
            "n_dup_pos",
            F.round(F.col("n_dup_pos") / F.col("n_pos"), 6).alias(
                "dup_fraction"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------- Gopher quality rules

# Rae et al. 2021 (Gopher, §A1.1) stop list; the fixture's synthetic
# vocabulary carries 'the'/'a' only, so the presence threshold is ≥1
# (documented adaptation — Gopher uses ≥2 on natural English).
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@query(
    "quality_gopher_rules",
    f"""
    WITH tk AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
    w AS (SELECT doc_id, unnest(tk) AS word FROM tk),
    stats AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             ROUND(AVG(len(word)), 6) AS mean_word_len,
             ROUND(AVG(CASE WHEN regexp_matches(word, '[a-zA-Z]')
                            THEN 1 ELSE 0 END), 6) AS frac_alpha_words
      FROM w GROUP BY doc_id
    ),
    hits AS (
      SELECT doc_id,
             CAST(len(list_intersect(list_distinct(tk),
                  [{", ".join(f"'{s}'" for s in GOPHER_STOPS)}]))
                  AS INT) AS stop_hits
      FROM tk
    )
    SELECT s.doc_id, n_words, mean_word_len, frac_alpha_words, stop_hits,
           CAST(CASE WHEN n_words BETWEEN 30 AND 100000
                      AND mean_word_len BETWEEN 3 AND 10
                      AND frac_alpha_words >= 0.8
                      AND stop_hits >= 1
                THEN 1 ELSE 0 END AS INT) AS passes
    FROM stats s JOIN hits USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality gate (Rae et al. 2021 §A1.1, public
    literature) — the standard pre-model heuristic filter a curation
    stack runs BEFORE any learned classifier: word-count bounds, mean
    word length in [3, 10], ≥80% of words containing an alphabetic
    character, and stop-word presence. Per-doc stats plus the fused
    pass flag are emitted so downstream mixtures can threshold or
    stratify on individual rules.

    Scale shape: one token pass partial-aggregated to per-doc
    counters (the text_token_stats cost model) joined 1:1 with a
    map-side array-intersect hit count — no corpus-sized shuffle
    beyond the per-doc aggregation, no UDF. Determinism: every stat
    is an integer count or an exact int/int division rounded at 6 dp;
    the stop list is matched on exact whitespace tokens in both
    engines. Threshold adaptation for the synthetic fixture (vocab
    carries 'the'/'a' only): stop-hit threshold ≥1 where Gopher uses
    ≥2 on natural English; word-count lower bound 30 against the
    fixture's 10–99-token docs so both classes are populated."""
    d = load(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    t = d.select("doc_id", tk.alias("tk"))
    w = t.select("doc_id", F.explode("tk").alias("word"))
    stats = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(F.avg(F.length("word")), 6).alias("mean_word_len"),
        F.round(
            F.avg(F.when(F.col("word").rlike("[a-zA-Z]"), 1).otherwise(0)),
            6,
        ).alias("frac_alpha_words"),
    )
    hits = t.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct("tk"),
                F.array(*[F.lit(s) for s in GOPHER_STOPS]),
            )
        ).alias("stop_hits"),
    )
    passes = (
        F.col("n_words").between(30, 100_000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("stop_hits") >= 1)
    )
    return (
        stats.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "frac_alpha_words",
            "stop_hits",
            passes.cast("int").alias("passes"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ CCNet perplexity buckets

# The unigram-LM scoring CTE chain — text_unigram_logprob's oracle
# verbatim, factored so the bucket key's oracle cannot fork on it.
_UNIGRAM_LOGPROB_CTES = """tok AS (
      SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
      FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    lm AS (SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token),
    tot AS (SELECT SUM(cnt) AS total FROM lm),
    scores AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(AVG(ln(lm.cnt / tot.total)), 6) AS avg_logprob
      FROM tok2 t JOIN lm USING (token) CROSS JOIN tot
      GROUP BY t.doc_id
    )"""


@query(
    "quality_ccnet_buckets",
    f"""
    WITH {_UNIGRAM_LOGPROB_CTES},
    j AS (
      SELECT s.doc_id, d.lang, s.n_tokens, s.avg_logprob
      FROM scores s JOIN documents d USING (doc_id)
    ),
    rk AS (
      SELECT *,
             row_number() OVER (PARTITION BY lang
                                ORDER BY avg_logprob DESC, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM j
    )
    SELECT doc_id, lang, n_tokens, avg_logprob,
           CASE CAST(FLOOR(3 * (r - 1) / n) AS INT)
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM rk
    ORDER BY doc_id
    """,
)
def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public
    literature): per LANGUAGE, docs are split into head/middle/tail
    terciles of the corpus-LM perplexity proxy — the standard way a
    pretraining mixture keeps only the head/middle of each language's
    quality distribution. The score is text_unigram_logprob's shared
    scorer verbatim (_unigram_logprob_frame — higher avg logprob =
    lower perplexity = better), and the tercile is the EXPLICIT
    integer formula floor(3·(r−1)/n) over the per-lang
    (score DESC, doc_id) rank — spliced into both engines instead of
    NTILE so no engine's remainder-distribution semantics can fork
    the cut (3·(r−1) and n are exact in double, so the division and
    floor are identical IEEE on both sides).

    Scale shape: the scorer is the logprob key's cost model; the
    bucket pass is one window partitioned by lang. Per-lang
    partitions are corpus-sized/|langs| — at 100 TB swap the rank
    window for the two boundary quantiles per lang (computed from a
    rank pass or a t-digest) broadcast onto a map-only assign; the
    tercile definition is unchanged. Determinism: scores are 6-dp
    rounded by the shared scorer before ranking (the documented
    rounding-boundary tolerance class), ties break on doc_id, and
    the bucket formula is integer-exact."""
    scores = _unigram_logprob_frame(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    j = scores.join(d, "doc_id")
    wr = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    wn = Window.partitionBy("lang")
    tercile = F.floor(
        F.lit(3) * (F.row_number().over(wr) - 1) / F.count(F.lit(1)).over(wn)
    ).cast("int")
    bucket = (
        F.when(tercile == 0, "head")
        .when(tercile == 1, "middle")
        .otherwise("tail")
    )
    return (
        j.select(
            "doc_id", "lang", "n_tokens", "avg_logprob",
            bucket.alias("bucket"),
        )
        .orderBy("doc_id")
    )
