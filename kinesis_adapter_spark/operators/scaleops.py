"""Scale-pattern operators: the techniques that keep 100 TB runs
healthy (skew salting, explicit-value pivot, hash sampling, bucketed
co-located joins), each expressed so the result is oracle-checkable
even though the point is the PLAN.

Every key here returns results identical to a naive formulation — the
oracle proves the optimization changes the execution shape only.
"""

from __future__ import annotations

from pathlib import Path

from kinesis_adapter_spark.staging import run_root, staged

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_adapter_spark.catalog import load
from kinesis_adapter_spark.plans.registry import query

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@query(
    "agg_salted_skew",
    """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation: groupBy(key, salt) partials, then
    groupBy(key) merge. With 5 event types over 32 cores, an unsalted
    groupBy degenerates to ≤5 busy reducers; salting fans the partial
    agg across salt×key reducers and the final merge touches only
    key-cardinality rows. Same result as the plain groupBy (the oracle
    proves it); avg is recomposed from decomposable sum/count."""
    ev = load(spark, sf_dir, "events")
    salted = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("psum"))
    )
    return (
        salted.groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.sum("psum").alias("sv"))
        .select(
            "event_type",
            "n",
            F.round("sv", 4).alias("sum_value"),
            F.round(F.col("sv") / F.col("n"), 6).alias("avg_value"),
        )
    )


@query(
    "pivot_wide",
    """
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS BIGINT) AS click,
           CAST(COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS BIGINT) AS view,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS BIGINT) AS signup,
           CAST(COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS BIGINT) AS error
    FROM events
    WHERE user_id < 50
    GROUP BY user_id
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with EXPLICIT pivot values — omitting them makes
    Spark run a distinct-scan first to discover columns, an extra full
    pass over 100 TB. Explicit values compile straight to conditional
    aggregates (one pass, map-side combined)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


@query(
    "unpivot_long",
    """
    SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS val
    FROM orders WHERE o_orderkey < 1000
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS val
    FROM orders WHERE o_orderkey < 1000
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long (melt): zero-shuffle narrow transform — each
    input row emits k output rows locally, so at scale it is pure
    map-side work that chains into the next shuffle's partial aggs."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select("o_orderkey", "o_totalprice", F.col("o_custkey").cast("double")).unpivot(
        "o_orderkey", ["o_totalprice", "o_custkey"], "metric", "val"
    )


@query(
    "sample_deterministic",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~25%: md5 first nibble in
    0..3). Unlike df.sample(), this is reproducible across engines,
    runs, and partitionings — the property a training-data pipeline
    needs for holdout splits — and it pushes no RNG state into tasks."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    ).select("o_orderkey", "o_totalprice")


@query(
    "join_bucket_colocated",
    """
    SELECT o.o_orderkey, COUNT(*) AS n_items, ROUND(SUM(l.l_extendedprice), 2) AS order_value
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey
    """,
)
def join_bucket_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact⋈fact join: both sides written
    bucketed+sorted on the join key, so the join (AND the downstream
    groupBy on the same key) runs with ZERO exchanges — the shuffle
    was paid once at write time. This is THE pattern for 100 TB
    fact-to-fact joins that recur on the same key; the plan assertion
    lives in tests/test_plans.py, the oracle proves identical results
    to the plain shuffle join."""
    # sf_tag carries the PID: the table files live under a shared tmp
    # path but Spark's catalog is per-session, so a SECOND process
    # would re-run the overwrite into files the first is still reading
    # (observed as a transient row-loss race when pytest and a
    # driver-sim ran this key concurrently). Per-process staging makes
    # each writer own its directory; the ~1 s rewrite per process is
    # the price of isolation.
    import os

    sf_tag0 = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    sf_tag = f"{sf_tag0}_{os.getpid()}"
    db_dir = f"{run_root()}/kas_buckets_{sf_tag0}"
    spark.conf.set("spark.sql.legacy.createHiveTableByDefault", "false")
    names = {"orders": f"kas_b_orders_{sf_tag}", "lineitem": f"kas_b_lineitem_{sf_tag}"}
    keys = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
    for tbl, name in names.items():
        if not spark.catalog.tableExists(name):
            (
                load(spark, sf_dir, tbl)
                .write.mode("overwrite")
                .bucketBy(8, keys[tbl])
                .sortBy(keys[tbl])
                .option("path", f"{db_dir}/{name}")
                .saveAsTable(name)
            )
    o = spark.table(names["orders"]).filter(F.col("o_orderstatus") == "O")
    li = spark.table(names["lineitem"])
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("order_value"),
        )
    )


@query(
    "pipeline_llm_prep",
    """
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             len(str_split(text, ' ')) AS n_tokens,
             md5(lower(trim(text))) AS fp
      FROM documents
      WHERE n_chars >= 100
    ),
    deduped AS (
      SELECT * FROM scored
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM deduped
    GROUP BY lang
    """,
)
def pipeline_llm_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep composite: length filter →
    fingerprint dedup → per-language token accounting, in ONE plan so
    Catalyst pipelines the filter into the scan and the dedup window
    and final agg share the work. This is the shape of a real corpus-
    prep job; at 100 TB the fingerprint dedup shuffles 16-byte md5
    keys (never text bodies) and the final agg is map-side combined."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5(F.lower(F.trim("text")).cast("binary")).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


_SALT_J = 8


@query(
    "join_salted_skew",
    """
    WITH dim AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           ROUND(SUM(e.value), 2) AS total_value,
           MAX(dim.n_events) AS n_events
    FROM events e JOIN dim ON e.user_id = dim.user_id
    GROUP BY e.user_id
    ORDER BY e.user_id
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact⋈dim join by salting: the fact side gets a
    deterministic salt (event_id % J), the dim side is EXPLODED J ways
    (one copy per salt), and the join key becomes (user_id, salt) — a
    single hot user fans out across J reducers instead of melting one.
    The oracle is the UNSALTED join: salting must be a pure physical
    rewrite with identical results.

    This is the complement to agg_salted_skew (skewed aggregation) and
    to AQE's skewedJoin (which splits oversized PARTITIONS at runtime —
    it cannot split one oversized KEY; salting can). Cost: dim
    replicated J×, so J stays small and the technique applies when the
    dim is too big to broadcast but far smaller than the fact."""
    ev = load(spark, sf_dir, "events").select("user_id", "value", "event_id")
    dim = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    fact = ev.withColumn("salt", (F.col("event_id") % _SALT_J).cast("int"))
    dim_x = dim.withColumn(
        "salt", F.explode(F.array([F.lit(i) for i in range(_SALT_J)]))
    )
    return (
        fact.join(dim_x, ["user_id", "salt"])
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "compact_small_files",
    """
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files compaction job — the #1 operational chore of an
    S3 data lake (streaming sinks drip thousands of KB-sized files;
    every downstream scan then pays per-file open/list overhead).
    Stages a deliberately fragmented copy of lineitem (64 shards),
    compacts it to 4 right-sized files with a single repartition
    write, and returns an aggregate computed FROM THE COMPACTED COPY —
    oracled against the original table, proving compaction is
    byte-lossless. File-count before/after is pinned in pytest. At
    100 TB this runs per-partition-directory with maxRecordsPerFile
    targeting ~1 GB objects; coalesce() would skip the shuffle but
    inherits upstream skew — repartition pays one shuffle for even
    output sizes."""

    def build(root: Path) -> None:
        frag = str(root / "fragmented")
        load(spark, sf_dir, "lineitem").repartition(64).write.parquet(frag)
        spark.read.parquet(frag).repartition(4).write.parquet(
            str(root / "compacted")
        )

    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    root = staged(
        Path(run_root()) / f"kas_compact_{sf_tag}",
        [Path(sf_dir) / "lineitem.parquet"],
        build,
    )
    return (
        spark.read.parquet(str(root / "compacted"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
        .orderBy("l_returnflag")
    )


def _dpp_layout_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per process) orders written ``partitionBy(
    "o_orderpriority")`` — the directory-per-value layout dynamic
    partition pruning needs. Per-process staging avoids cross-process
    overwrite races (same rationale as the bucketed-join tables)."""
    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    return str(
        staged(
            Path(run_root()) / f"kas_dpp_{sf_tag}",
            [Path(sf_dir) / "orders.parquet"],
            lambda tmp: load(spark, sf_dir, "orders")
            .write.partitionBy("o_orderpriority")
            .parquet(str(tmp)),
        )
    )


@query(
    "join_dpp_prune",
    """
    WITH dim AS (
      SELECT o_orderpriority, AVG(o_totalprice) AS avg_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN dim d ON o.o_orderpriority = d.o_orderpriority
    WHERE d.avg_price > 250000.0
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — Spark's runtime filter. The fact
    table is written partitioned by the join key (one directory per
    o_orderpriority); the dim side keeps only priorities whose AVERAGE
    price clears a threshold — a predicate on an aggregate the fact
    rows don't carry, so it cannot be statically inferred through the
    join key and pushed to the fact scan. Catalyst instead injects a
    ``dynamicpruningexpression`` subquery into the fact scan's
    PartitionFilters: the dim side is evaluated first and the fact
    scan then lists/reads ONLY the surviving directories (plan pinned
    in tests/test_plans.py; note DPP's insertion heuristic also
    requires the build side to carry a literal comparison —
    ``isLikelySelective`` — which the threshold provides). At 100 TB
    with a date/tenant-partitioned fact this is the difference between
    scanning 2 partitions and scanning 2000 — no manual filter
    threading required. Result is exact, oracled against the
    unpartitioned formulation."""
    fact = spark.read.parquet(_dpp_layout_path(spark, sf_dir))
    o = load(spark, sf_dir, "orders")
    dim = (
        o.groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("avg_price"))
        .filter(F.col("avg_price") > 250000.0)
        .select("o_orderpriority")
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# 8-bit × 8-bit Morton (Z-order) interleave, generated ONCE and shared
# verbatim by the Spark expression and the DuckDB oracle so both
# engines compute the identical key.
_Z_BITS = 8
_ZKEY_SQL = " + ".join(
    f"(((o_custkey % 256) >> {i} & 1) << {2 * i}) + "
    f"(((o_orderkey % 256) >> {i} & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@query(
    "cluster_zorder",
    f"""
    SELECT o_orderkey, o_custkey, CAST({_ZKEY_SQL} AS BIGINT) AS zkey
    FROM orders
    ORDER BY zkey, o_orderkey
    LIMIT 50
    """,
)
def cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering: interleave the bits of two filter
    columns into one sort key, range-partition + sort the table by it,
    and write — every output file then covers a small rectangle in
    (custkey, orderkey) space, so parquet row-group min/max stats let
    scans with a predicate on EITHER column skip most files (a linear
    sort localizes only its leading column). The layout win is pinned
    in pytest by reading the written files' per-file column ranges;
    the oracled result is the z-key computation itself (top-50 by key,
    bit-identical across engines — the expression string is shared).
    At 100 TB this is the OPTIMIZE/ZORDER job table formats run after
    ingest; 8 bits per dimension is the standard truncation."""
    o = load(spark, sf_dir, "orders")
    zkey = F.expr(_ZKEY_SQL).cast("bigint")
    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    path = staged(
        Path(run_root()) / f"kas_zorder_{sf_tag}",
        [Path(sf_dir) / "orders.parquet"],
        lambda tmp: o.withColumn("zkey", zkey)
        .repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .write.parquet(str(tmp)),
    )
    return (
        spark.read.parquet(str(path))
        .select("o_orderkey", "o_custkey", "zkey")
        .orderBy("zkey", "o_orderkey")
        .limit(50)
    )


@query(
    "join_cbo_reorder",
    """
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def join_cbo_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimization over ANALYZEd catalog tables: the three
    join inputs are staged as catalog tables with table + column
    statistics (ANALYZE TABLE ... FOR COLUMNS on the join/filter
    keys), and CBO + cost-based join reorder are enabled, so Catalyst
    plans the multi-way join from ESTIMATED filtered cardinalities —
    the written order (fact first, most-selective dim last) is
    deliberately the wrong one to execute literally. The plan test
    pins that optimized-plan nodes carry rowCount statistics (proof
    the column stats actually reached the optimizer — without ANALYZE
    Spark only has file sizes) and that the filtered customer side is
    broadcast.

    At 100 TB this is the difference between a join tree sized from
    stats and one sized from naive file bytes: stats-driven reorder +
    broadcast decisions are exactly what a warehouse's nightly ANALYZE
    pays for. Staging is per-process (same isolation rationale as
    join_bucket_colocated); the few-second ANALYZE is a one-time
    catalog cost, not per-query."""
    import os

    sf_tag0 = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    sf_tag = f"{sf_tag0}_{os.getpid()}"
    db_dir = f"{run_root()}/kas_cbo_{sf_tag0}"
    spark.conf.set("spark.sql.legacy.createHiveTableByDefault", "false")
    # CBO confs are scoped to THIS query's optimization only: set,
    # eagerly pin the optimized plan, then restore (the
    # join_bloom_runtime_filter save/restore discipline) — leaving
    # cost-based reorder on session-wide would silently change every
    # later query's plan in shared-session runs (r5 review finding).
    # o_orderdate is deliberately NOT analyzed: TIMESTAMP column stats
    # trip an INTERNAL_ERROR inside CostBasedJoinReorder on Spark
    # 4.1.2 (probed in this environment — the rule crashes during
    # optimization when a timestamp histogram feeds the cardinality
    # estimator). Key and categorical column stats are what drive the
    # reorder; the date filter falls back to default selectivity.
    stats_cols = {
        "customer": "c_custkey, c_mktsegment, c_nationkey",
        "orders": "o_orderkey, o_custkey",
        "lineitem": "l_orderkey, l_extendedprice, l_discount",
    }
    names = {t: f"kas_cbo_{t}_{sf_tag}" for t in stats_cols}
    for tbl, name in names.items():
        if not spark.catalog.tableExists(name):
            (
                load(spark, sf_dir, tbl)
                .write.mode("overwrite")
                .option("path", f"{db_dir}/{name}")
                .saveAsTable(name)
            )
            spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS "
                f"FOR COLUMNS {stats_cols[tbl]}"
            )
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    # Everything after the conf.set calls sits inside the try so ANY
    # failure (even building the DataFrames) restores the session confs
    # — leaking CBO on is exactly the order-dependent plan-drift bug
    # the r5 advice flagged.
    try:
        li = spark.table(names["lineitem"])
        o = spark.table(names["orders"]).filter(
            F.col("o_orderdate") < F.lit("1995-06-01 00:00:00").cast("timestamp")
        )
        c = spark.table(names["customer"]).filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("revenue"),
            )
            .orderBy("c_nationkey")
        )
        # Materialize the memoized optimization phases while CBO is on.
        out._jdf.queryExecution().optimizedPlan()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@query(
    "plan_reuse_exchange",
    """
    WITH agg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    )
    SELECT * FROM (
      (SELECT 'top' AS which, event_type, n FROM agg ORDER BY n DESC LIMIT 1)
      UNION ALL
      (SELECT 'bottom' AS which, event_type, n FROM agg ORDER BY n ASC LIMIT 1)
    ) ORDER BY which DESC
    """,
)
def plan_reuse_exchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two consumers of the same aggregate subplan (most- and
    least-frequent event type) — Spark must compute the aggregation
    ONCE and wire the second branch to a ReusedExchange, not re-scan
    and re-shuffle the fact table per branch (pinned in
    tests/test_plans.py). This is the plan property that makes
    diff-style reports (top/bottom, before/after over one frame)
    affordable at 100 TB: N consumers of a common subplan cost one
    scan + one shuffle, not N.

    Fixture counts per type are distinct, so both limits are
    deterministic without a tie-break."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    top = agg.orderBy(F.col("n").desc()).limit(1).select(
        F.lit("top").alias("which"), "event_type", "n"
    )
    bottom = agg.orderBy(F.col("n").asc()).limit(1).select(
        F.lit("bottom").alias("which"), "event_type", "n"
    )
    return top.unionByName(bottom).orderBy(F.col("which").desc())


@query(
    "scan_rowgroup_prune",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           ROUND(MIN(value), 6) AS min_value
    FROM events WHERE value >= 150
    """,
)
def scan_rowgroup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group statistics pruning — the IO tier BELOW partition
    pruning: the staged copy of events is SORTED by value and written
    with small parquet row groups, so each row group's min/max stats
    cover a narrow value band and the pushed `value >= 150` predicate
    lets the reader skip whole row groups without decoding them (the
    threshold is ~p95 of value, so ~5% of rows qualify). The
    plan test executes the scan and asserts its output-row metric is a
    small fraction of the table (proof the skip actually happened —
    PushedFilters alone doesn't prove the reader used the stats).

    This is why sort-on-write (cluster_zorder's 1-D sibling) matters
    at 100 TB: the same filter over an unsorted layout reads every row
    group because each one's [min,max] spans the full domain. Staging
    is per-process, same rationale as the bucketed tables."""
    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    path = staged(
        Path(run_root()) / f"kas_rowgroups_{sf_tag}",
        [Path(sf_dir) / "events.parquet"],
        lambda tmp: load(spark, sf_dir, "events")
        .select("event_id", "value")
        .sort("value")
        .coalesce(1)
        .write.option("parquet.block.size", 16 * 1024)
        .parquet(str(tmp)),
    )
    ev = spark.read.parquet(str(path))
    return ev.filter(F.col("value") >= 150).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
    )
