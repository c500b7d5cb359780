"""Training-data curation operators: chunking, sequence packing, and
benchmark-contamination screening (SURVEY.md §2.1-J north-star set).

These are the steps between "raw deduped corpus" and "batches a
trainer can consume". Design rules match llmops.py: DataFrame-native,
shuffle keys are small (doc_id/lang/shingle hashes), and the only
Python is the genuinely sequential greedy packer — an Arrow-batched
``applyInPandas`` whose groups (languages) parallelize across
executors.
"""

from __future__ import annotations

import logging

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_adapter_spark.catalog import load
from kinesis_adapter_spark.plans.registry import query
from kinesis_adapter_spark.session import (
    persistent_rdd_ids,
    release_persist_ids,
    released_persists,
)

_LOG = logging.getLogger(__name__)

CHUNK = 200  # chars per chunk
STRIDE = 150  # chunk start interval → 50-char overlap
BUDGET = 512  # tokens per packed sequence


@query(
    "doc_chunk_overlap",
    f"""
    SELECT doc_id,
           CAST((i - 1) / {STRIDE} AS BIGINT) AS chunk_idx,
           substring(text, i, {CHUNK}) AS chunk_text,
           length(substring(text, i, {CHUNK})) AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(1, GREATEST(length(text), 1), {STRIDE})) AS i
      FROM documents
    )
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (RAG/embedding prep): 200-char
    windows every 150 chars, so consecutive chunks share 50 chars.

    One generate-positions → explode → substring pass, fully inside
    codegen; no UDF, no per-doc Python. The explode multiplies rows by
    ~n_chars/stride, but each output row carries only (doc_id, short
    string) — at 100 TB the chunker is map-only (zero shuffle), so it
    scales linearly and pipelines straight into the embedding stage."""
    d = load(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(STRIDE)
            )
        ).alias("i"),
        "text",
    )
    return (
        chunks.select(
            "doc_id",
            ((F.col("i") - 1) / STRIDE).cast("long").alias("chunk_idx"),
            F.substring(F.col("text"), F.col("i"), F.lit(CHUNK)).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "pack_sequences_window",
    f"""
    WITH toked AS (
      SELECT doc_id, lang, len(str_split(text, ' ')) AS tokens FROM documents
    )
    SELECT doc_id, lang, CAST(tokens AS BIGINT) AS tokens,
           CAST(FLOOR(
             (SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - tokens) / {BUDGET}.0) AS BIGINT) AS pack_id
    FROM toked
    ORDER BY lang, doc_id
    """,
)
def pack_sequences_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: within each language, docs in
    doc_id order are laid head-to-tail and cut every BUDGET tokens;
    pack_id = floor(preceding-token-count / BUDGET). This is the
    packing mode used when the trainer allows documents to straddle
    sequence boundaries — and unlike bin-packing it is a pure window
    cumsum, so it stays declarative: one shuffle on lang, codegen'd
    running sum, no Python. The window partitions by lang, so at
    100 TB skewed languages need a composite partition key
    (lang, doc_id-range) — same salting pattern as agg_salted_skew."""
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "lang", toks.alias("tokens"))
        .withColumn(
            "pack_id",
            F.floor((F.sum("tokens").over(w) - F.col("tokens")) / float(BUDGET)),
        )
        .orderBy("lang", "doc_id")
    )


@query(
    "pack_sequences_greedy",
    f"""
    WITH RECURSIVE toked AS (
      SELECT doc_id, lang, CAST(len(str_split(text, ' ')) AS BIGINT) AS tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk(lang, rn, doc_id, tokens, cum, pack_id) AS (
      SELECT lang, rn, doc_id, tokens, tokens, CAST(0 AS BIGINT)
      FROM toked WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.rn, t.doc_id, t.tokens,
             CASE WHEN w.cum + t.tokens > {BUDGET}
                  THEN t.tokens ELSE w.cum + t.tokens END,
             CASE WHEN w.cum + t.tokens > {BUDGET}
                  THEN w.pack_id + 1 ELSE w.pack_id END
      FROM walk w JOIN toked t ON t.lang = w.lang AND t.rn = w.rn + 1
    )
    SELECT doc_id, lang, tokens, pack_id FROM walk ORDER BY lang, doc_id
    """,
)  # r4: T3 → oracled (the greedy reset IS sequential, but a recursive CTE replays it)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy no-split bin packing: docs never straddle packs; a new
    pack opens when the next doc would overflow BUDGET (oversized docs
    get a pack of their own). The greedy reset makes each group's scan
    inherently sequential, so this is the one curation op in Python:
    ``applyInPandas`` over lang groups — Arrow-batched, one pass per
    group, parallel ACROSS groups. At 100 TB the unit of sequential
    work must be bounded: pre-split each language on doc_id ranges and
    pack within ranges (pack ids offset by range), trading ≤1 ragged
    pack per boundary for full parallelism."""
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    toked = d.select("doc_id", "lang", toks.alias("tokens"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ids, pack_id, cum = [], 0, 0
        for t in pdf["tokens"]:
            if cum > 0 and cum + t > BUDGET:
                pack_id += 1
                cum = 0
            cum += t
            ids.append(pack_id)
        pdf["pack_id"] = ids
        return pdf

    return toked.groupBy("lang").applyInPandas(
        pack, "doc_id long, lang string, tokens long, pack_id long"
    )


# 3-grams: real contamination screens use 8–13-gram overlap; the
# fixture vocabulary is tiny (500 docs, ~60-token texts), so 3-grams
# are what yields a non-trivial hit set (171 docs at sf0.01). The
# operator shape is n-independent.
_CONTAM_N = 3
BENCH_MOD = 97  # doc_id % 97 == 0 → the held-out "benchmark" split


@query(
    "contamination_ngram",
    f"""
    WITH tk AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
      FROM (
        SELECT doc_id, tk,
               unnest(generate_series(1, GREATEST(len(tk) - 2, 0))) AS i
        FROM tk
      )
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0)
    SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_shared
    FROM sh
    WHERE doc_id % {BENCH_MOD} != 0 AND s IN (SELECT s FROM bench)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: training docs sharing any
    {n}-gram with the held-out split (doc_id % 97 == 0 here), with the
    count of distinct shared grams as the contamination score.

    The benchmark gram set is DISTINCT'd then broadcast — benchmarks
    are small by construction, so even at 100 TB of training text this
    is a broadcast semi-join per gram (map-side, no fact shuffle); the
    only shuffle is the per-doc count-distinct on the surviving
    (rare) hits. Same inverted-index idea as dedup_near_ngram
    (llmops.py) with one side pinned tiny."""
    d = load(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split("text", " ").alias("toks"))
    grams = toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(toks) - 2, 0)),"
                    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
                )
            )
        ).alias("s"),
    )
    bench = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0).select("s").distinct()
    )
    train = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
        .orderBy("doc_id")
    )


# ------------------------------------------------- dedup cluster resolution

_CC_PAIRS_SQL = """
  SELECT doc_id AS doc_a, doc_id + 2000000 AS doc_b
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id AS doc_a, doc_id + 1 AS doc_b
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1 AS doc_a, doc_id + 3000000 AS doc_b
  FROM documents WHERE doc_id % 7 = 0
"""


def _cc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate-pair fixture behind both CC implementations (the
    DataFrame twin of ``_CC_PAIRS_SQL``): every 7th doc ↔ its +2M
    mutation, plus a two-hop chain d ↔ d+1 ↔ d+3M per seed."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    seeds = d.filter(F.col("doc_id") % 7 == 0)
    return (
        seeds.select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 2_000_000).alias("doc_b"),
        )
        .unionByName(
            seeds.select(
                F.col("doc_id").alias("doc_a"),
                (F.col("doc_id") + 1).alias("doc_b"),
            )
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + 1).alias("doc_a"),
                (F.col("doc_id") + 3_000_000).alias("doc_b"),
            )
        )
    )


# Reachability oracle shared by BOTH connected-components
# implementations (plain propagation and large/small-star): min
# reachable node id == component id.
_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_CC_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach(u, v) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, MIN(v) AS cluster_id
    FROM reach GROUP BY u ORDER BY doc_id
    """


@query("dedup_cluster_cc", _CC_ORACLE)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: pairwise near-dup matches are only
    half the dedup story — transitive pairs (A~B, B~C) must collapse
    into ONE cluster so "keep one doc per cluster" is well-defined.
    Connected components by iterative min-label propagation: each node
    takes the min label among itself and its neighbors until a fixed
    point — the distributed-join formulation of union-find (the
    large-star/small-star trick from the MapReduce CC literature cuts
    the iteration count to O(log log n) at 100 TB; plain propagation
    iterates O(diameter), which is what bounded fixtures need).

    Each iteration is one self-contained join+groupBy round trip;
    ``localCheckpoint`` truncates the lineage so iteration N's plan
    doesn't replay iterations 1..N-1. The driver loop only counts
    changed labels — all data movement is executor-side. The oracle is
    DuckDB's WITH RECURSIVE reachability (min reachable node id ==
    connected component id). Pair set: the mutated-copy edges of
    llmops.py's near-dup fixture (every 7th doc ↔ its +2M mutation)
    PLUS a chain d+3M — d+1 — d per seed, so the component min must
    propagate TWO hops (single-round propagation would leave d+3M
    labeled d+1: transitivity is genuinely tested).

    Lifecycle (r10): the label table is corpus-sized, so the leak-free
    way to hand it back is the engine's staged-artifact discipline
    (the IVF-layout/PQ-codebook pattern) — build once inside a
    released_persists guard, write a fingerprint-invalidated parquet
    artifact, return a read of it. That is also the production shape:
    cluster assignment is a per-corpus-snapshot computation, not a
    per-query one. Scale evidence for the BUILD lives in
    tools/scale_smoke.py's cc_build special smokes (the read path is
    what this key — and its bench anchor — measures)."""
    return _staged_cc_labels(
        spark, sf_dir, "cc_labels_prop", cc_propagate_labels
    )


# Per-artifact SPEC token for the staged CC label tables (ADVICE r10):
# the artifact is keyed by its SOURCE fingerprint, so a change to
# _cc_pairs or the label semantics without a repo-wide DERIVED_VERSION
# bump would silently serve stale cluster labels to the registry key,
# the oracle check, and the bench read-path anchor; the tokens are part
# of the artifact NAME instead. Bump the relevant component whenever
# its semantics change:
#   pairs-v1  — _cc_pairs fixture (mutated-copy edges + d+3M chains)
#   prop-v1   — cc_propagate_labels (min-label propagation)
#   stars-v1  — cc_star_labels (large-star/small-star contraction)
_CC_PAIRS_SPEC = "pairs-v1"
_CC_CORE_SPEC = {"cc_labels_prop": "prop-v1", "cc_labels_stars": "stars-v1"}


def _staged_cc_labels(spark, sf_dir: str, stem: str, core) -> DataFrame:
    """Build-once staging for a CC label table: run ``core`` on the
    pair fixture inside a persist guard (every in-loop localCheckpoint
    is released once the write materializes), stage the labels under
    derived_dir keyed by the source fingerprint, with the algorithm/
    fixture spec tokens in the name (so a semantics change invalidates
    the artifact even without a DERIVED_VERSION bump), and return a
    lazy read of the resolved build that owns no persist (the
    ivf_seed_table discipline, VERDICT r14 item #3)."""
    from pathlib import Path

    from kinesis_adapter_spark.sources.scans import derived_dir
    from kinesis_adapter_spark.staging import staged

    def build(tmp: Path) -> None:
        with released_persists(spark):
            labels = core(_cc_pairs(spark, sf_dir))
            labels.select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            ).write.parquet(str(tmp))

    name = f"{stem}_{_CC_PAIRS_SPEC}_{_CC_CORE_SPEC[stem]}.parquet"
    path = staged(
        derived_dir(sf_dir) / name, [Path(sf_dir) / "documents.parquet"], build
    )
    return spark.read.parquet(str(path)).orderBy("doc_id")


def cc_propagate_labels(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Min-label propagation CC over a (doc_a, doc_b) pair frame;
    returns (node, label=component min). Algorithm core shared by the
    registry key and the property-based equivalence tests
    (tests/test_property.py pins propagation ≡ star contraction ≡ a
    Python union-find on random graphs).

    Each iteration is one self-contained join+groupBy round trip;
    ``localCheckpoint`` truncates the lineage so iteration N's plan
    doesn't replay iterations 1..N-1. The driver loop only counts
    changed labels — all data movement is executor-side. Explicit
    iteration budget: plain propagation converges in O(diameter)
    rounds; a pathological duplicate chain at 100 TB must degrade
    LOUDLY (error naming the knob), never hang or silently return
    half-merged clusters."""
    # Every frame in the loop carries globally unique column names —
    # edges/labels/nbr all descend from one scan, and Spark's
    # ambiguous-self-join check rejects joins on shared-lineage names.
    edges = pairs.select(
        F.col("doc_a").alias("eu"), F.col("doc_b").alias("ev")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("eu"), F.col("doc_a").alias("ev"))
    )
    spark = pairs.sparkSession
    edges = edges.localCheckpoint(eager=True)
    pre = persistent_rdd_ids(spark)
    labels = (
        edges.select(F.col("eu").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    ).localCheckpoint(eager=True)
    # ids owned by the CURRENT label assignment's checkpoint — released
    # the moment the next round's assignment supersedes it, so peak
    # pinned state is 2 node-sized frames + edges, not one per round
    # (r10 in-loop memory fix; the sweep artifact measures post-call)
    labels_ids = persistent_rdd_ids(spark) - pre
    converged_at: int | None = None
    for round_no in range(1, max_rounds + 1):
        nbr = (
            edges.join(labels, edges.ev == labels.node, "inner")
            .select(F.col("eu").alias("nnode"), "label")
            .groupBy("nnode")
            .agg(F.min("label").alias("nbr_min"))
        )
        pre = persistent_rdd_ids(spark)
        new_labels = (
            labels.join(nbr, labels.node == nbr.nnode, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
        ).localCheckpoint(eager=True)
        new_ids = persistent_rdd_ids(spark) - pre
        old = labels.select(
            F.col("node").alias("onode"), F.col("label").alias("old_label")
        )
        changed = (
            new_labels.join(old, new_labels.node == old.onode)
            .filter(F.col("label") != F.col("old_label"))
            .count()
        )
        # the changed-count was the last reader of the old assignment;
        # its checkpointed data is independent of new_labels', so it
        # can be dropped immediately
        release_persist_ids(spark, labels_ids)
        labels_ids = new_ids
        labels = new_labels
        if changed == 0:
            converged_at = round_no
            break
    if converged_at is None:
        raise RuntimeError(
            f"cc_propagate_labels: min-label propagation did not converge in "
            f"{max_rounds} rounds — duplicate graph has diameter > "
            f"{max_rounds}; raise max_rounds or switch to large-star/"
            "small-star contraction for this dataset"
        )
    _LOG.info("cc_propagate_labels converged in %d round(s)", converged_at)
    return labels


@query(
    "dedup_keep_best",
    """
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             md5(lower(trim(text))) AS fp,
             n_chars - 2 * len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
               AS quality
      FROM (
        SELECT doc_id, text, lang, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars
        FROM documents WHERE doc_id % 5 = 0
      )
    )
    SELECT doc_id, fp AS cluster_fp,
           CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS cluster_size,
           CAST(quality AS BIGINT) AS quality
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY fp
                               ORDER BY quality DESC, doc_id) = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION, not just pair finding: within each exact-dup
    cluster (normalized-text fingerprint) keep the single best document
    by a quality score (length minus doubled punctuation mass — the
    cheap heuristic slot where a model score plugs in), with doc_id as
    the deterministic tiebreak, and report the surviving doc with its
    cluster size. One window over the fingerprint shuffle serves both
    the survivor choice and the cluster-size count — the shuffle
    carries (16-byte fp, score) pairs, never text. At 100 TB this is
    the canonical-selection job that follows any pair-level dedup."""
    from kinesis_adapter_spark.operators.llmops import duped_documents

    d = duped_documents(spark, sf_dir)
    quality = (
        F.col("n_chars")
        - 2 * F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    )
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.lower(F.trim("text")).cast("binary")).alias("cluster_fp"),
        quality.cast("bigint").alias("quality"),
    )
    w = Window.partitionBy("cluster_fp")
    wr = w.orderBy(F.col("quality").desc(), "doc_id")
    return (
        scored.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_fp", "cluster_size", "quality")
    )


def deletion_variants(c: DataFrame) -> DataFrame:
    """(id, v) deletion-neighborhood blocking table for a roster of
    (id, name): each name emits itself plus every single-character
    deletion, ``array_distinct``-collapsed per name BEFORE the explode
    — a repeated-character run (the zeros in Customer#000000016)
    yields one variant, not one per deleted position, which is the
    invariant that keeps bucket df (and therefore candidate pairs)
    from going quadratic in run length. Pinned adversarially in
    tests/test_quality.py."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length("name")),
        lambda i: F.concat(
            F.col("name").substr(F.lit(1), i - 1),
            F.col("name").substr(i + 1, F.length("name")),
        ),
    )
    return c.select(
        "id",
        F.explode(
            F.array_distinct(F.array_prepend(dels, F.col("name")))
        ).alias("v"),
    )


def variant_candidate_pairs(variants: DataFrame) -> DataFrame:
    """Distinct candidate id-pairs from the variant equi-self-join.
    Carries ONLY (id_a, id_b) through the hot bucket shuffle and
    dedupes before any name bytes or levenshtein work: two names
    sharing k variants must still produce exactly one candidate row,
    so downstream verify cost is |distinct pairs|, never inflated by
    per-bucket multiplicity. Pinned adversarially in
    tests/test_quality.py.

    r16 (guide §2.3 "narrower types"): the join key is the variant's
    xxhash64, not the variant string — 8 bytes instead of ~|name|
    through the hot shuffle, and long compares in the join. Equal
    strings hash equal, so no candidate is LOST; a 2^-64 hash
    collision can only ADD a candidate, which the exact levenshtein
    verify then rejects — the declared result is unchanged (the Bloom
    pre-filter argument, guide §3.2)."""
    hashed = variants.select("id", F.xxhash64("v").alias("v"))
    a = hashed.select(F.col("id").alias("id_a"), "v")
    b = hashed.select(F.col("id").alias("id_b"), "v")
    return (
        a.join(b, "v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@query(
    "fuzzy_match_names",
    """
    WITH names AS (SELECT c_custkey AS id, c_name AS name FROM customer),
    variants AS (
      SELECT id, name, v
      FROM names,
           LATERAL (
             SELECT unnest(list_prepend(name,
               list_transform(generate_series(1, len(name)),
                 i -> substr(name, 1, i - 1) || substr(name, i + 1)))) AS v
           )
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.name AS name_a, b.name AS name_b
      FROM variants a JOIN variants b ON a.v = b.v AND a.id < b.id
    )
    SELECT id_a, id_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join by DELETION-NEIGHBORHOOD blocking
    (the SymSpell/FastSS technique): every name emits itself plus its
    single-character deletions; two names within edit distance 1 are
    GUARANTEED to share a variant, so the equi-self-join on the variant
    finds all candidates without any O(n²) comparison, and an exact
    levenshtein verify filters the survivors. At 100 TB the variant
    table is ~|name|× the roster (linear), the join shuffles on the
    variant hash, and the quadratic blowup a naive theta-join would
    hit never exists — the same blocked-join discipline as every
    near-dup operator in this engine. Distance-k generalizes with
    k-deletion neighborhoods.

    Cost discipline (r5): (1) `array_distinct` collapses per-name
    duplicate variants — deleting any of the 8 zeros in
    Customer#000000016 yields the SAME 17-char string, so without it
    each repeated-character run multiplies bucket df and candidate
    pairs quadratically; (2) the self-join carries only (id, v) — the
    candidate distinct dedupes narrow id pairs, and names re-join
    afterward on id (linear shuffle), so the hot bucket shuffle never
    carries name bytes."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    pairs = variant_candidate_pairs(deletion_variants(c))
    na = c.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    nb = c.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    # r16: banded levenshtein (threshold=1) — O(n·k) per pair instead
    # of the O(n²) full DP, exact for every surviving row (returns the
    # true distance when <= threshold, -1 above it, and only rows with
    # dist <= 1 are declared). Measured -15-20% with the hashed
    # variant join at sf0.1, rows identical.
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("dist", F.levenshtein("name_a", "name_b", 1).cast("int"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 1))
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


@query(
    "delete_propagate",
    """
    WITH tomb AS (
      SELECT doc_id FROM documents WHERE source IN ('src0', 'src13')
    )
    SELECT 'documents' AS dataset,
           (SELECT COUNT(*) FROM documents) AS n_before,
           (SELECT COUNT(*) FROM documents
             WHERE doc_id IN (SELECT doc_id FROM tomb)) AS n_purged,
           (SELECT COUNT(*) FROM documents
             WHERE doc_id NOT IN (SELECT doc_id FROM tomb)) AS n_after
    UNION ALL
    SELECT 'embeddings',
           (SELECT COUNT(*) FROM embeddings),
           (SELECT COUNT(*) FROM embeddings
             WHERE vec_id IN (SELECT doc_id FROM tomb)),
           (SELECT COUNT(*) FROM embeddings
             WHERE vec_id NOT IN (SELECT doc_id FROM tomb))
    ORDER BY dataset
    """,
)
def delete_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten / takedown propagation: a tombstone list
    of doc_ids (here: two sources that requested removal) is purged
    from the base corpus AND every derived table keyed by it — the
    audit report per dataset is (n_before, n_purged, n_after).

    The tombstone set is always ≪ the lake, so it broadcasts and each
    table is purged in ONE map-side anti-join pass — no shuffle of the
    100 TB side, embarrassingly parallel across tables. The same
    single-pass left join computes kept and purged counts together
    (count(_t) counts only tombstone matches), so audit + purge share
    one scan. On a real lake the kept rows are what gets rewritten
    (or recorded as deletion vectors in the table format); the purge
    plan is identical."""
    # Distinct alias avoids the ambiguous-self-join trap: the tombstone
    # list derives from the same (memoized) documents scan it purges.
    tomb = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src13"))
        .select(F.col("doc_id").alias("t_doc_id"), F.lit(1).alias("_t"))
    )

    def audit(df: DataFrame, key: str, name: str) -> DataFrame:
        joined = df.join(
            F.broadcast(tomb), on=F.col(key) == F.col("t_doc_id"), how="left"
        )
        return joined.agg(
            F.lit(name).alias("dataset"),
            F.count(F.lit(1)).alias("n_before"),
            F.count("_t").alias("n_purged"),
            (F.count(F.lit(1)) - F.count("_t")).alias("n_after"),
        )

    docs = load(spark, sf_dir, "documents")
    embs = load(spark, sf_dir, "embeddings")
    return (
        audit(docs, "doc_id", "documents")
        .unionByName(audit(embs, "vec_id", "embeddings"))
        .orderBy("dataset")
    )


@query("dedup_cluster_cc_stars", _CC_ORACLE)
def dedup_cluster_cc_stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", ACM SoCC 2014 — public literature): the 100 TB-scale
    alternative to plain min-label propagation (dedup_cluster_cc).

    Plain propagation needs O(diameter) rounds — a pathological
    duplicate CHAIN of length k (scraped mirror-of-mirror pages) costs
    k rounds. Star contraction converges in O(log n) rounds regardless
    of diameter (O(log log n) expected on realistic graphs): each
    round every node links its strictly-larger neighbors (large-star)
    then its smaller neighbors (small-star) directly to the minimum of
    its closed neighborhood, halving path lengths multiplicatively.

    Each star step is one groupBy(node) + explode — the per-node
    neighbor list (collect_set) is degree-bounded; the hot-node risk at
    extreme degree is the documented trade of the algorithm (the paper's
    load-balanced variant hashes high-degree neighborhoods; not needed
    at fixture scale). Fixpoint is detected by an order-insensitive
    edge-set checksum (count + sum of per-edge hashes) — one tiny
    aggregate per round, no driver-side edge materialization. Shares
    the WITH RECURSIVE reachability oracle with dedup_cluster_cc, so
    both implementations are pinned to the identical component map.

    Lifecycle (r10): staged-artifact, same rationale as
    dedup_cluster_cc — build once under a released_persists guard,
    serve a persist-free read; BUILD scaling is measured by the
    cc_stars_build special smoke (SCALE.md r10)."""
    return _staged_cc_labels(spark, sf_dir, "cc_labels_stars", cc_star_labels)


def cc_star_labels(pairs: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Large-star/small-star CC core over a (doc_a, doc_b) pair frame;
    returns (node, label=component min). Shared by the registry key and
    the property-based equivalence tests (tests/test_property.py)."""
    # LAZY checkpoints throughout (r5): each round's checksum action is
    # what materializes that round's checkpoint, so lineage truncation
    # costs zero extra actions — with eager checkpoints every round
    # paid two driver round-trips (checkpoint + checksum), and on a
    # 2k-edge fixture the whole runtime was that fixed overhead.
    spark = pairs.sparkSession
    pre = persistent_rdd_ids(spark)  # checkpoint persists REGISTER at
    # call time (only materialization is lazy), so snapshot first
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges0_ids = persistent_rdd_ids(spark) - pre
    # node set from the UNFILTERED pairs: a node mentioned only by a
    # self-loop still belongs to the output (as its own singleton
    # component) even though the loop edge itself is dropped.
    # Materialized only by the final join's action.
    all_nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        g = sym.groupBy("u").agg(F.collect_set("v").alias("nb"))
        m = F.array_min(F.array_union("nb", F.array(F.col("u"))))
        # no distinct here: the next step's collect_set dedups neighbor
        # lists, so the extra exchange per round bought nothing (r5)
        return (
            g.select(F.col("u"), m.alias("m"), F.explode("nb").alias("w"))
            .filter(F.col("w") > F.col("u"))
            .select(F.col("w").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient child > parent, group by the child's closed smaller
        # neighborhood, link everything to its minimum
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        g = oriented.groupBy("u").agg(F.collect_set("v").alias("nb"))
        m = F.array_min("nb")
        linked = g.select(
            F.col("u"), m.alias("m"), F.explode(
                F.array_union("nb", F.array(F.col("u")))
            ).alias("w")
        )
        return (
            linked.filter(F.col("w") != F.col("m"))
            .select(F.col("w").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI arithmetic
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row.n, row.h)

    prev_edges = edges
    prev = _checksum(edges)  # materializes edges0's lazy checkpoint
    prev_ids = edges0_ids
    converged_at: int | None = None
    for round_no in range(1, max_rounds + 1):
        pre = persistent_rdd_ids(spark)
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _checksum(edges)
        # Cheap per-round gate is the checksum (one tiny aggregate); the
        # fixpoint CLAIM is confirmed exactly — equal counts + empty
        # exceptAll means set equality, so a 2^-64 checksum collision
        # between different consecutive edge sets can never terminate
        # the loop early with silently half-contracted labels (ADVICE
        # r4). The exact check shuffles both edge sets, but runs only
        # once per convergence (or per collision, which keeps looping).
        new_ids = persistent_rdd_ids(spark) - pre
        if cur == prev and edges.exceptAll(prev_edges).isEmpty():
            converged_at = round_no
            break
        # the exceptAll gate was the last reader of round k-1's edge
        # set; drop its checkpoint now so peak pinned state stays at
        # 2 edge frames regardless of round count (r10 in-loop fix)
        release_persist_ids(spark, prev_ids)
        prev_ids = new_ids
        prev, prev_edges = cur, edges
    if converged_at is None:
        raise RuntimeError(
            f"cc_star_labels: star contraction did not reach a "
            f"fixpoint in {max_rounds} rounds — raise max_rounds "
            "(components span > 2^rounds ids) or inspect for hash "
            "checksum collisions"
        )
    _LOG.info("cc_star_labels converged in %d round(s)", converged_at)
    # Fixpoint edges form stars child→component-min; roots label themselves.
    parents = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    return all_nodes.join(parents, "node", "left").select(
        "node", F.coalesce("label", "node").alias("label")
    )


# One SQL text, two engines: Spark 4.1 ships recursive CTEs, so the
# duplicate-chain walk below runs VERBATIM on Spark (over temp views)
# and on DuckDB (the oracle). UNION ALL recursion only (Spark does not
# yet support the deduplicating UNION mode in recursion — probed
# [UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]); the pair fixture is a DAG
# (every edge points id-upward), so termination is structural.
_CHAIN_DEPTH_SQL = f"""
    WITH RECURSIVE pairs AS ({_CC_PAIRS_SQL}),
    roots AS (
      SELECT DISTINCT doc_a AS doc_id FROM pairs
      WHERE doc_a NOT IN (SELECT doc_b FROM pairs)
    ),
    walk(doc_id, depth) AS (
      SELECT doc_id, 0 FROM roots
      UNION ALL
      SELECT p.doc_b, w.depth + 1
      FROM walk w JOIN pairs p ON p.doc_a = w.doc_id
    )
    SELECT doc_id, CAST(MAX(depth) AS BIGINT) AS depth
    FROM walk GROUP BY doc_id ORDER BY doc_id
    """


@query("dedup_chain_depth", _CHAIN_DEPTH_SQL)
def dedup_chain_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-provenance depth via a RECURSIVE CTE (Spark 4.1
    native): how many copy-of-a-copy hops separate each document from
    its chain root — the lineage question a curation team asks when
    deciding which generation of a mirrored page to keep. The SAME SQL
    text executes on Spark and on the DuckDB oracle (engine-portable
    declarative recursion, no hand-rolled driver loop); Spark plans
    each recursion step as a join against the previous frontier —
    the iteration count is bounded by the DAG depth, and each step is
    a bounded equi-join exactly like one cc round. For cyclic graphs
    use dedup_cluster_cc/_stars (UNION-mode recursion is not yet
    supported in Spark)."""
    for t in ("documents",):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_CHAIN_DEPTH_SQL)


@query(
    "quality_quantile_gate",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(n_chars
                  - 2 * (LENGTH(text)
                         - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                  AS BIGINT) AS quality
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, quality,
             cume_dist() OVER (PARTITION BY lang
                               ORDER BY quality, doc_id) AS cd
      FROM scored
    )
    SELECT doc_id, lang, quality, ROUND(cd, 6) AS lang_quantile
    FROM ranked
    WHERE cd > 0.5
    ORDER BY lang, doc_id
    """,
)
def quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language RELATIVE quality gate: keep each language's strict
    top half by quality score (cume_dist > 0.5). An absolute threshold is the classic
    curation bug — it silently empties low-resource languages whose
    score distribution sits lower (shorter docs, different punctuation
    mass); ranking within the language stratum adapts the cutoff per
    language by construction, which is how production corpus filters
    set thresholds (per-stratum quantiles, not global constants).
    cume_dist (not percent_rank) is the gate statistic: percent_rank
    of a 1-row partition is 0, which would silently DELETE any
    language with a single document — the exact failure this gate
    exists to prevent; cume_dist of that row is 1.0, so singleton
    strata always survive (r5 review finding).

    percent_rank needs only (lang, quality, doc_id) — one window
    shuffle on lang carrying 24 bytes/row, never text. Languages are
    bounded (the partition count is the lang domain), so at 100 TB the
    skew risk is the big-language partition; the standard mitigation is
    a two-pass approx-quantile cutoff per lang (computed via
    approx_percentile, broadcast back), which this exact-rank key is
    the oracle twin for. Tie policy (quality, doc_id) is pinned so the
    boundary is deterministic on both engines."""
    d = load(spark, sf_dir, "documents")
    punct = F.length("text") - F.length(
        F.regexp_replace("text", "[^a-zA-Z0-9 ]", "")
    )
    scored = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") - 2 * punct).cast("bigint").alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return (
        scored.withColumn("cd", F.cume_dist().over(w))
        .filter(F.col("cd") > 0.5)
        .select(
            "doc_id", "lang", "quality", F.round("cd", 6).alias("lang_quantile")
        )
        .orderBy("lang", "doc_id")
    )


@query(
    "decontaminate_corpus",
    f"""
    WITH tk AS (SELECT doc_id, source, str_split(text, ' ') AS tk FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
      FROM (
        SELECT doc_id, tk,
               unnest(generate_series(1, GREATEST(len(tk) - 2, 0))) AS i
        FROM tk
      )
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    hits AS (
      SELECT doc_id, COUNT(DISTINCT s) AS n_shared
      FROM sh
      WHERE doc_id % {BENCH_MOD} != 0 AND s IN (SELECT s FROM bench)
      GROUP BY doc_id
    ),
    train AS (
      SELECT d.doc_id, d.source, COALESCE(h.n_shared, 0) AS n_shared
      FROM documents d LEFT JOIN hits h USING (doc_id)
      WHERE d.doc_id % {BENCH_MOD} != 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN n_shared >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN n_shared >= 2 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_after
    FROM train
    GROUP BY source
    ORDER BY source
    """,
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination ACTION on top of contamination_ngram's
    screen: drop every training doc sharing >= 2 distinct 3-grams
    with the held-out split and report the per-source audit
    (n_before, n_dropped, n_after) — the report a curation run must
    emit before a training job consumes the corpus (which sources are
    contaminated is the first question asked when a benchmark number
    looks too good).

    Same scale shape as the screen: the benchmark gram set broadcasts,
    hits are the only shuffle (count-distinct on the rare surviving
    grams), and the audit join is hits-side tiny against a doc-id/
    source projection (never text). The kept rows at 100 TB are the
    anti-join of the same hit set — one more broadcast anti-join over
    the lake, embarrassingly parallel, same plan as delete_propagate."""
    d = load(spark, sf_dir, "documents")
    hits = contamination_ngram(spark, sf_dir).filter(F.col("n_shared") >= 2)
    train = d.filter(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", "source"
    )
    dropped = F.when(F.col("n_shared").isNotNull(), 1).otherwise(0)
    return (
        train.join(F.broadcast(hits), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            F.sum(1 - dropped).cast("bigint").alias("n_after"),
        )
        .orderBy("source")
    )


@query(
    "dataset_card_stats",
    """
    WITH per_doc AS (
      SELECT source, lang,
             md5(text) AS fp,
             len(str_split(text, ' ')) AS toks,
             n_chars
      FROM documents
    ),
    lang_counts AS (
      SELECT source, lang, COUNT(*) AS nl
      FROM per_doc GROUP BY source, lang
    ),
    tot AS (SELECT source, SUM(nl) AS nt FROM lang_counts GROUP BY source),
    ent AS (
      SELECT lc.source,
             -SUM((nl * 1.0 / nt) * LN(nl * 1.0 / nt)) AS lang_entropy_nats
      FROM lang_counts lc JOIN tot USING (source)
      GROUP BY lc.source
    )
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(ANY_VALUE(e.lang_entropy_nats), 6) AS lang_entropy_nats,
           ROUND(1.0 - COUNT(DISTINCT fp) * 1.0 / COUNT(*), 6) AS dup_rate,
           ROUND(AVG(n_chars), 4) AS mean_chars
    FROM per_doc p JOIN ent e USING (source)
    GROUP BY p.source
    ORDER BY p.source
    """,
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source "dataset card" datasheet a corpus release ships:
    volume (docs, tokens), language diversity (count + Shannon entropy
    of the language mix, nats), exact-dup rate (1 - distinct
    fingerprints / docs), and mean length. One pass computes the
    per-doc facts; the language mix aggregates per (source, lang) —
    thousands of rows at any corpus size — so the entropy tier costs
    nothing. The dup-rate distinct rides the same shuffle as the
    groupBy via partial aggregation. Every number here is a gate input
    for the mixture planner (mixture_temperature_plan) and the dedup
    policy; emitting them in one job is the standard pre-training
    audit step."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        "lang",
        F.md5("text").alias("fp"),
        F.size(F.split("text", " ")).alias("toks"),
        "n_chars",
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("nl")
    )
    wsrc = Window.partitionBy("source")
    p = F.col("nl") / F.sum("nl").over(wsrc)
    ent = (
        lang_counts.withColumn("plogp", -p * F.log(p))
        .groupBy("source")
        .agg(F.sum("plogp").alias("lang_entropy_nats"))
    )
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.round(
            1.0 - F.count_distinct("fp") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
    )
    return (
        base.join(ent, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_langs",
            F.round("lang_entropy_nats", 6).alias("lang_entropy_nats"),
            "dup_rate",
            "mean_chars",
        )
        .orderBy("source")
    )
