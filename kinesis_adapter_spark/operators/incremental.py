"""Incremental-maintenance operators: MERGE/upsert and SCD2 history.

A 100 TB lake is never rebuilt from scratch — it is maintained by
upserts (late rows, corrections, new arrivals) and by history tables
that track attribute changes over time. Spark has no MERGE INTO
against raw parquet (that's a table-format feature), so the engine
expresses merge as its relational decomposition — anti-join + union —
which is exactly what Delta/Iceberg execute underneath; the streaming
twin (stream_foreachbatch_upsert) applies the same plan per
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_adapter_spark.catalog import load, ts_us_trunc
from kinesis_adapter_spark.plans.registry import query

# Deterministic change-set derived from orders itself (TESTDATA.md has
# no CDC feed): every 10th order is UPDATEd (+100.00, status 'U' —
# addition, not *1.1: scaling 2-decimal prices creates half-cent
# values whose ROUND differs between Spark's BigDecimal HALF_UP and
# DuckDB's float rounding), every 13th is re-INSERTed under key+10M
# (status 'N').
_UPDATES_SQL = """
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 100.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS o_orderkey, 'N' AS o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
"""


def _updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 (guide §2.4): one orders scan with a conditional op-array
    explode instead of a 2-branch union (2 scans per reference, and
    merge_upsert references the change-set twice — the anti-join key
    build and the union — so this halves 4 scans to 2). Same rows,
    same values."""
    o = load(spark, sf_dir, "orders")

    def opt(cond, entry):
        return F.slice(F.array(entry), F.lit(1), F.when(cond, 1).otherwise(0))

    rows = F.concat(
        opt(
            F.col("o_orderkey") % 10 == 0,
            F.struct(
                F.col("o_orderkey").alias("o_orderkey"),
                F.lit("U").alias("o_orderstatus"),
                (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
            ),
        ),
        opt(
            F.col("o_orderkey") % 13 == 0,
            F.struct(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice").alias("o_totalprice"),
            ),
        ),
    )
    return o.select(F.explode(rows).alias("z")).select(
        "z.o_orderkey", "z.o_orderstatus", "z.o_totalprice"
    )


@query(
    "merge_upsert",
    f"""
    WITH upd AS ({_UPDATES_SQL})
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS o_totalprice
    FROM upd
    UNION ALL
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO decomposed: target rows whose key appears in the
    change-set are replaced, the rest survive, inserts append —
    i.e. ``changes ∪ (target ⟕anti changes)``.

    The anti join carries only the change-set's KEY column, so the
    shuffle weight is |changes| keys vs the full target: with a
    day's changes ≪ the lake, the key set broadcasts and MERGE is a
    single map-side pass over the target — the same physical plan
    Delta's low-shuffle merge produces. Rewrite amplification (which
    FILES get rewritten) is the table format's concern, not the
    query plan's."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = _updates(spark, sf_dir)
    kept = o.join(F.broadcast(upd.select("o_orderkey")), "o_orderkey", "left_anti")
    return upd.unionByName(kept).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


# Deterministic CDC changelog derived from orders (TESTDATA.md has no
# CDC feed): every order INSERTs at seq 1; every 4th order UPDATEs at
# seq 2 (+50.00 — addition, not scaling, for the same half-cent ROUND
# reason as _UPDATES_SQL); every 8th UPDATEs again at seq 3 (+75.00 —
# multi-update last-wins; %8 not %12 because a multiple of 12 is also a
# multiple of 6, so that U2 would ALWAYS be erased by the tombstone and
# last-wins among updates would never reach the output); every 6th
# order DELETEs at seq 9
# (a tombstone must beat any earlier update). D rows carry placeholder
# values ('D', 0.0) rather than NULLs so the last-wins extraction never
# depends on either engine's NULL handling inside max_by/arg_max.
_CDC_SQL = """
  SELECT o_orderkey, 1 AS seq, 'I' AS op, o_orderstatus, o_totalprice
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U', 'U1', o_totalprice + 50.0
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'U', 'U2', o_totalprice + 75.0
  FROM orders WHERE o_orderkey % 8 = 0
  UNION ALL
  SELECT o_orderkey, 9, 'D', 'D', 0.0
  FROM orders WHERE o_orderkey % 6 = 0
"""


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 (guide §2.4): the four union branches each re-scanned
    orders (4 parquet scans per apply); the same rows now come from
    ONE scan via a conditional per-row op array + explode — every
    order emits its I row plus whichever U1/U2/D rows its key
    qualifies for, with identical (seq, op, status, price) values."""
    o = load(spark, sf_dir, "orders")

    def ent(seq: int, op: str, status, price):
        return F.struct(
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            (F.lit(status) if isinstance(status, str) else status).alias(
                "o_orderstatus"
            ),
            (F.lit(price) if isinstance(price, float) else price).alias(
                "o_totalprice"
            ),
        )

    def when_key(mod: int, entry):
        # slice to length 0 when the key doesn't qualify: an empty
        # array of the entry's exact struct type (a bare F.array()
        # would type-mismatch the concat)
        return F.slice(
            F.array(entry),
            F.lit(1),
            F.when(F.col("o_orderkey") % mod == 0, 1).otherwise(0),
        )

    ops = F.concat(
        F.array(ent(1, "I", F.col("o_orderstatus"), F.col("o_totalprice"))),
        when_key(4, ent(2, "U", "U1", F.col("o_totalprice") + 50.0)),
        when_key(8, ent(3, "U", "U2", F.col("o_totalprice") + 75.0)),
        when_key(6, ent(9, "D", "D", 0.0)),
    )
    return o.select("o_orderkey", F.explode(ops).alias("z")).select(
        "o_orderkey", "z.seq", "z.op", "z.o_orderstatus", "z.o_totalprice"
    )


# Shared verbatim by the streaming maintenance twin (stream_cdc_apply,
# streaming/pipelines.py): the per-batch incremental fold must converge
# to exactly this batch truth (the scd2_maintain discipline).
CDC_APPLY_SQL = f"""
    WITH log AS ({_CDC_SQL}),
    final AS (
      SELECT o_orderkey,
             arg_max(op, seq) AS last_op,
             arg_max(o_orderstatus, seq) AS o_orderstatus,
             arg_max(o_totalprice, seq) AS o_totalprice,
             CAST(MAX(seq) AS BIGINT) AS last_seq,
             CAST(COUNT(*) AS BIGINT) AS n_ops
      FROM log GROUP BY o_orderkey
    )
    SELECT o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 2) AS o_totalprice, last_seq, n_ops
    FROM final WHERE last_op != 'D'
    ORDER BY o_orderkey
    """


@query("cdc_apply_changelog", CDC_APPLY_SQL)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the current snapshot from an ordered I/U/D changelog
    — the Debezium/CDC apply step every lakehouse ingestion pipeline
    runs: per key take the HIGHEST-sequence operation (last-writer
    wins), drop keys whose final op is a delete tombstone, keep the
    final values for everything else. merge_upsert applies one
    idempotent change-set; this key folds an op-coded HISTORY with
    deletes, which is what an actual replication feed looks like.

    Shape: ONE groupBy(key) with max_by/max/count aggregates. Spark
    picks SortAggregate here (string-valued max_by buffers are
    immutable, which disables hash aggregation) but the PARTIAL
    instance still folds map-side, so the key exchange carries one
    folded row per key per map partition — versus the naive
    row_number-over-seq window plan, which shuffles EVERY changelog
    row before its per-key sort. At 100 TB with a daily changelog ≪
    the snapshot, the
    same fold runs per micro-batch through foreachBatch
    (stream_foreachbatch_upsert) against the maintained table.
    Determinism: seq values are distinct per key by construction (a
    real feed's log offsets), so max_by has no ties; prices stay exact
    IEEE additions of 2-dp literals until the final shared ROUND."""
    return fold_changelog(_changelog(spark, sf_dir)).orderBy("o_orderkey")


def fold_changelog(log: DataFrame) -> DataFrame:
    """The one CDC fold over an (o_orderkey, seq, op, o_orderstatus,
    o_totalprice) log frame — shared by the registry key and the
    hypothesis property test (tests/test_property.py drives it with
    random op logs against a Python dict fold), so the last-wins /
    tombstone semantics can never fork from what the random-input
    check verifies."""
    final = log.groupBy("o_orderkey").agg(
        F.max_by("op", "seq").alias("last_op"),
        F.max_by("o_orderstatus", "seq").alias("o_orderstatus"),
        F.max_by("o_totalprice", "seq").alias("o_totalprice"),
        F.max("seq").cast("bigint").alias("last_seq"),
        F.count(F.lit(1)).alias("n_ops"),
    )
    return final.filter(F.col("last_op") != "D").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "last_seq",
        "n_ops",
    )


# Shared verbatim by the streaming maintenance twin
# (stream_scd2_maintain, streaming/pipelines.py): the incremental
# affected-key rebuild must converge to exactly this batch truth.
SCD2_SQL = """
    WITH ordered AS (
      SELECT user_id, event_type, epoch_ns(ts) AS ts_ns, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
      WHERE user_id < 50
    ),
    changes AS (
      SELECT * FROM ordered WHERE prev_type IS NULL OR prev_type != event_type
    )
    SELECT user_id, event_type,
           ts_ns AS valid_from,
           lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
             AS valid_to,
           lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) IS NULL
             AS is_current
    FROM changes
    ORDER BY user_id, valid_from
    """


def collapse_scd2(ev: DataFrame) -> DataFrame:
    """The two-window SCD2 collapse over ``(user_id, event_type,
    ts_ns, event_id)`` rows — ONE implementation for the batch key and
    the streaming affected-key rebuild (never-fork rule)."""
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    changes = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    return changes.withColumn("valid_to", F.lead("ts_ns").over(w)).select(
        "user_id",
        "event_type",
        F.col("ts_ns").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


@query("scd2_intervals", SCD2_SQL)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: collapse an event log into validity
    intervals per user — a row per ATTRIBUTE CHANGE carrying
    [valid_from, valid_to) and an is_current flag on the open interval.

    Two stacked windows over the same (user_id → ts) partitioning:
    lag() marks changes, lead() over the surviving rows closes the
    intervals — Catalyst plans both in ONE shuffle + sort since the
    partitioning and ordering agree (plan-checked in tests). The
    user_id < 50 gate keeps the fixture small; at 100 TB the same two
    windows run per user shard unchanged.

    ts is int64 ns on the Spark side (windows.py): truncated to µs to
    match DuckDB's µs-precision read of parquet NANOS, emitted as
    epoch-ns longs on both engines."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .withColumn("ts_ns", ts_us_trunc())
    )
    return collapse_scd2(ev).orderBy("user_id", "valid_from")


@query(
    "snapshot_diff",
    f"""
    WITH upd AS ({_UPDATES_SQL}),
    new AS (
      SELECT * FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      ) WHERE o_orderkey % 97 != 0
    ),
    old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
    SELECT CASE WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderkey IS NULL THEN 'added'
                ELSE 'changed' END AS change_type,
           COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus != n.o_orderstatus
       OR o.o_totalprice != n.o_totalprice
    ORDER BY change_type, o_orderkey
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff: compare two snapshots of orders (the "new"
    snapshot is the merge_upsert result with every 97th key deleted —
    a deterministic stand-in for yesterday/today) and emit the
    key-level change log: added / removed / changed.

    One full-outer join on the key with value comparison — the
    relational core of snapshot diff / CDC-from-snapshots / data
    reconciliation. Comparing columns directly (not a hash) keeps the
    plan codegen-friendly here; at 100 TB the same diff runs with a
    precomputed xxhash64 over the value columns so the shuffle carries
    (key, 8-byte hash) instead of full rows, and partition-level
    min/max or metadata short-circuits untouched partitions entirely
    (the snapshot-diff trick every table format's incremental read
    implements)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = _updates(spark, sf_dir)
    kept = o.join(F.broadcast(upd.select("o_orderkey")), "o_orderkey", "left_anti")
    new = (
        upd.unionByName(kept)
        .filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("n_key"),
            F.col("o_orderstatus").alias("n_status"),
            F.col("o_totalprice").alias("n_price"),
        )
    )
    diff = o.join(new, o.o_orderkey == new.n_key, "full").filter(
        F.col("o_orderkey").isNull()
        | F.col("n_key").isNull()
        | (F.col("o_orderstatus") != F.col("n_status"))
        | (F.col("o_totalprice") != F.col("n_price"))
    )
    return diff.select(
        F.when(F.col("n_key").isNull(), "removed")
        .when(F.col("o_orderkey").isNull(), "added")
        .otherwise("changed")
        .alias("change_type"),
        F.coalesce("o_orderkey", "n_key").alias("o_orderkey"),
    ).orderBy("change_type", "o_orderkey")


# Change-set WITH the join key (o_custkey) — the MV maintenance delta.
_UPDATES_FK_SQL = """
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 100.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
         'N' AS o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
"""


def _mv_join_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per source generation) the denormalized join
    view orders ⋈ customer as a parquet artifact — the thing a real
    pipeline maintains instead of re-deriving."""
    from kinesis_adapter_spark.sources.scans import derived_dir
    from kinesis_adapter_spark.staging import staged
    from pathlib import Path

    def build(tmp: Path) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        c = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        )
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey).drop(
            "c_custkey"
        ).write.parquet(str(tmp))

    return str(
        staged(derived_dir(sf_dir) / "mv_orders_customer", [Path(sf_dir)], build)
    )


@query(
    "incremental_mv_join",
    f"""
    WITH upd AS ({_UPDATES_FK_SQL}),
    merged AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM upd
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    )
    SELECT m.o_orderkey, m.o_custkey, m.o_orderstatus,
           ROUND(m.o_totalprice, 2) AS o_totalprice,
           c.c_name, c.c_mktsegment
    FROM merged m JOIN customer c ON m.o_custkey = c.c_custkey
    """,
)
def incremental_mv_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized JOIN view (delta-join
    IVM): the denormalized orders ⋈ customer view exists as a staged
    parquet artifact; a change-set against the fact side is applied as
    ΔV = Δorders ⋈ customer, merged into the artifact by key — the
    view-maintenance identity V' = (ΔA ⋈ B) ∪ (V ∖ keys(ΔA)) that
    every IVM engine (Delta MV, Materialize, DBSP) executes for
    foreign-key joins when the dim side is unchanged.

    The oracle recomputes the whole view from scratch on the merged
    fact table, so the hash match proves the incremental path produces
    EXACTLY the full recompute — the IVM correctness contract.

    Scale shape: maintenance cost is |Δ| · broadcast(dim) for the
    delta join plus one anti-join of the view against the broadcast
    Δ-key set — the 100 TB view is read map-side (no shuffle; pinned
    in test_plans.py) and in a real table format only key-overlapping
    files rewrite. A full recompute would re-shuffle the entire fact
    table every refresh."""
    mv_old = spark.read.parquet(_mv_join_table(spark, sf_dir))
    o = load(spark, sf_dir, "orders")
    upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
    )
    ins = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    delta = upd.unionByName(ins)
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return apply_mv_delta(mv_old, delta, c)


def apply_mv_delta(mv_old: DataFrame, delta: DataFrame, c: DataFrame) -> DataFrame:
    """The IVM apply path itself — V' = (Δ ⋈ dim) ∪ (V ∖ keys(Δ)) —
    extracted so the scale smoke can drive the SAME executed code with
    a FIXED-size delta while the view grows (r6 directive #3): the
    registry fixture's delta is a fixed fraction of orders, so naive
    replication grows the delta with the view and measures harness
    combinatorics, not maintenance cost."""
    delta_v = delta.join(F.broadcast(c), delta.o_custkey == c.c_custkey).drop(
        "c_custkey"
    )
    kept = mv_old.join(
        F.broadcast(delta.select("o_orderkey")), "o_orderkey", "left_anti"
    )
    return delta_v.unionByName(kept).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "c_name",
        "c_mktsegment",
    )


PIT_OFFSET_NS = 1_800_000_000_000  # probe 30 min after each source event


@query(
    "join_point_in_time",
    f"""
    WITH ordered AS (
      SELECT user_id, event_type, epoch_ns(ts) AS ts_ns, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
      WHERE user_id < 50
    ),
    changes AS (
      SELECT * FROM ordered WHERE prev_type IS NULL OR prev_type != event_type
    ),
    versions AS (
      SELECT user_id, event_type, ts_ns AS valid_from,
             lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
               AS valid_to
      FROM changes
    ),
    probes AS (
      SELECT user_id, event_id AS probe_id,
             epoch_ns(ts) + {PIT_OFFSET_NS} AS probe_ts
      FROM events WHERE user_id < 50 AND event_id % 7 = 0
    )
    SELECT p.user_id, p.probe_id, p.probe_ts,
           v.event_type AS type_at_ts, v.valid_from
    FROM probes p
    JOIN versions v
      ON v.user_id = p.user_id
     AND v.valid_from <= p.probe_ts
     AND (v.valid_to IS NULL OR p.probe_ts < v.valid_to)
    ORDER BY p.user_id, p.probe_id
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 version history (the
    feature-store correctness join): for each probe (user, ts+30min,
    every 7th event), the attribute version whose validity interval
    [valid_from, valid_to) contains the probe timestamp — how
    training-set assembly must read a versioned dimension to avoid
    label leakage (joining is_current state instead leaks the
    future). Versions come from the shared collapse_scd2 (never-fork
    with scd2_intervals / stream_scd2_maintain).

    Plan shape: the oracle states interval CONTAINMENT (what the
    semantics ARE); the engine exploits that SCD2 intervals are
    contiguous and half-open per user, so containment degenerates to
    AS-OF — one union + one (user, t) sort + last(ignorenulls)
    window, the join_asof discipline (ONE shuffle, no range
    BroadcastNestedLoopJoin). Zero-length intervals (two changes at
    one timestamp) match nothing in the oracle; the as-of tie order
    (t, version-before-probe, valid_to NULLS LAST) picks the same
    surviving version. At 100 TB both sides shuffle once on user and
    the carried state is one version row per user."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .withColumn("ts_ns", ts_us_trunc())
    )
    versions = collapse_scd2(ev)
    vs = versions.select(
        "user_id",
        F.col("valid_from").alias("t"),
        F.lit(0).alias("is_probe"),
        "event_type",
        "valid_from",
        "valid_to",
        F.lit(None).cast("long").alias("probe_id"),
    )
    pr = ev.filter(F.col("event_id") % 7 == 0).select(
        "user_id",
        (F.col("ts_ns") + F.lit(PIT_OFFSET_NS)).alias("t"),
        F.lit(1).alias("is_probe"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.col("event_id").alias("probe_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            "t",
            "is_probe",
            F.col("valid_to").asc_nulls_last(),
            "probe_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = vs.unionByName(pr).select(
        "user_id",
        "t",
        "is_probe",
        "probe_id",
        F.last("event_type", ignorenulls=True).over(w).alias("type_at_ts"),
        F.last("valid_from", ignorenulls=True).over(w).alias("valid_from"),
    )
    return (
        merged.filter(
            (F.col("is_probe") == 1) & F.col("type_at_ts").isNotNull()
        )
        .select(
            "user_id",
            "probe_id",
            F.col("t").alias("probe_ts"),
            "type_at_ts",
            "valid_from",
        )
        .orderBy("user_id", "probe_id")
    )
