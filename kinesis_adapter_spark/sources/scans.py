"""Scan sources and sinks (SURVEY.md §2.1-A).

CSV/NDJSON fixtures are derived from the parquet tables into
/tmp/kas_derived/<version>/<sf-basename>/ (never into the read-only
testdata dir), each through ``staging.staged`` keyed by the
fingerprint of the tables it derives from. Numeric formatting is
pinned (%.2f for the 2-decimal `value`) so text round-trips reproduce
the exact doubles, letting the oracles compare against the ORIGINAL
events view — i.e. the whole export→parse path must be lossless to
pass.
"""

from __future__ import annotations

import json
import uuid
from pathlib import Path

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_adapter_spark.catalog import load
from kinesis_adapter_spark.plans.registry import query
from kinesis_adapter_spark.sources import aws
from kinesis_adapter_spark.staging import ephemeral_file, staged

# Bump the version when any derived-fixture FORMAT changes: staged
# fixtures are keyed by their SOURCE fingerprint, not by the code that
# wrote them, so a format change without a new directory would
# silently serve stale data to later runs.
# v2: fixtures changed events.ts to timestamp[us] — ts_ns derivation
# fixed accordingly; v1 dirs may hold data staged from ns-era files.
# v3: media.parquet image payloads became real P6 PPM rasters with
# resize ground-truth columns (mm_resize replaced mm_resize_stub);
# v2 dirs hold the old pseudo-byte image payloads.
# v4: image pixel base became mod-200 (headroom for brightness-shifted
# near-dup twin rows, media_id + 5M) and gt_phash joined the media
# fixture for dedup_image_phash; v3 dirs lack the twins.
# v5: audio payloads became real RIFF/WAVE PCM16 and video payloads
# real netpbm P6 streams, with gt_au_* columns and a
# media_frames.parquet ground-truth table; v4 dirs hold pseudo-bytes
# for those modalities.
# v6: every artifact is staged by staging.staged — <name> is a symlink
# to the build <name>@<fp16>, next to a .<name>.lock — instead of being
# rebuilt in place under a fingerprint marker file; v5 trees hold the
# in-place layout, which the symlink cannot replace.
DERIVED_VERSION = "v6"
DERIVED_ROOT = Path("/tmp/kas_derived") / DERIVED_VERSION


def derived_dir(sf_dir: str) -> Path:
    d = DERIVED_ROOT / Path(sf_dir).name
    d.mkdir(parents=True, exist_ok=True)
    return d


def _events_table(sf_dir: str):
    """events as pandas with ``ts`` canonicalized to int64 epoch-ns.

    Mirrors ``catalog._canonicalize``: fixtures have shipped ts as both
    INT64 ns (arrives as int64) and timestamp[us] (arrives as
    datetime64); both normalize to the same epoch-ns long here so the
    staged text exports always carry true nanoseconds.
    """
    pdf = pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
    ts = pdf["ts"]
    if ts.dtype.kind == "M":  # datetime64[*] → ns long
        ts = ts.astype("datetime64[ns]").astype("int64")
    else:
        ts = ts.astype("int64")
    return pdf.assign(ts=ts)


def ensure_events_csv(sf_dir: str) -> Path:
    """events → single CSV (event_id,user_id,event_type,value)."""

    def build(tmp: Path) -> None:
        pdf = _events_table(sf_dir)[["event_id", "user_id", "event_type", "value"]]
        pdf.to_csv(tmp, index=False, float_format="%.2f")

    return staged(
        derived_dir(sf_dir) / "events.csv", [Path(sf_dir) / "events.parquet"], build
    )


def ensure_events_ndjson(sf_dir: str) -> Path:
    """events → NDJSON files split by day (stands in for S3 objects).

    ts is exported as an ISO-µs string (the oracle's precision — DuckDB
    reads parquet NANOS at µs, SURVEY.md §5.3) plus the raw ns long.
    """

    def build(out: Path) -> None:
        out.mkdir()
        pdf = _events_table(sf_dir).sort_values("event_id")
        ts = pdf["ts"].astype("int64")
        pdf = pdf.assign(
            ts_ns=ts,
            ts_iso=(ts // 1000 * 1000)
            .pipe(lambda s: s.astype("datetime64[ns]"))
            .dt.strftime("%Y-%m-%dT%H:%M:%S.%f"),
            day=ts.astype("datetime64[ns]").dt.strftime("%Y%m%d"),
        )
        for day, grp in pdf.groupby("day"):
            with open(out / f"events-{day}.json", "w") as f:
                for r in grp.itertuples():
                    f.write(
                        json.dumps(
                            {
                                "event_id": int(r.event_id),
                                "ts_iso": r.ts_iso,
                                "ts_ns": int(r.ts_ns),
                                "user_id": int(r.user_id),
                                "event_type": r.event_type,
                                "value": round(float(r.value), 2),
                                "props": r.props,
                            }
                        )
                        + "\n"
                    )

    return staged(
        derived_dir(sf_dir) / "events_ndjson", [Path(sf_dir) / "events.parquet"], build
    )


EVENTS_JSON_SCHEMA = (
    "event_id BIGINT, ts_iso TIMESTAMP, ts_ns BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


@query(
    "scan_parquet",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar parquet scan with projection + pushed filter: the scan
    node must show PushedFilters [EqualTo(l_returnflag,R)] and a 4-col
    ReadSchema (asserted in tests/test_plans.py)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


@query(
    "scan_csv",
    """
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CSV read of the derived export; the oracle reads the
    ORIGINAL parquet, so the parquet→CSV→parse round-trip must be
    value-exact to hash-match."""
    path = ensure_events_csv(sf_dir)
    return spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).csv(str(path), header=True)


@query(
    "roundtrip_orc",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read round trip (the other columnar format Spark
    ships natively): orders → ORC → scan back. The oracle reads the
    ORIGINAL parquet, so the round trip must be value-exact. ORC gets
    the same pushdown/pruning treatment as parquet at the scan."""
    out = staged(
        derived_dir(sf_dir) / "orders_orc",
        [Path(sf_dir) / "orders.parquet"],
        lambda tmp: load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.orc(str(tmp)),
    )
    return spark.read.orc(str(out))


@query(
    "scan_json",
    """
    SELECT event_id, user_id, event_type, value,
           epoch_ns(ts) AS ts_ns
    FROM events
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd NDJSON read (the reference's decode stage: S3 objects
    hold newline-delimited JSON records — SURVEY.md §2.0)."""
    path = ensure_events_ndjson(sf_dir)
    return (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(str(path))
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            # exported ts_ns keeps full ns fidelity; the oracle sees µs
            (F.col("ts_ns") - F.col("ts_ns") % 1000).alias("ts_ns"),
        )
    )


@query(
    "sink_parquet_partitioned",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents partitioned by lang, read back, aggregate.

    partitionBy(lang) is the layout primitive behind partition pruning
    at 100 TB (scan only the partitions a filter names). The oracle
    aggregates the ORIGINAL documents table, so write+read must be
    lossless.
    """
    out = derived_dir(sf_dir) / "docs_by_lang.parquet"
    d = load(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("lang").parquet(str(out))
    back = spark.read.parquet(str(out))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "source_s3_moto",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
)
def source_s3_moto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SOURCE stage: list an S3 prefix, fetch objects,
    decode NDJSON (SURVEY.md §2.0 row 1). S3 is moto-served; objects
    are downloaded to a local staging dir and scanned with the same
    schema'd json reader (no hadoop-aws jar in this env — with one,
    this becomes spark.read.json('s3a://...') unchanged otherwise)."""
    ndjson = ensure_events_ndjson(sf_dir)
    s3 = aws.client("s3")
    bucket = f"kas-src-{Path(sf_dir).name.replace('.', '-')}"
    try:
        s3.create_bucket(Bucket=bucket)
    except Exception:
        pass  # bucket already exists from a prior call — idempotent staging
    staged = derived_dir(sf_dir) / "s3_download"
    staged.mkdir(exist_ok=True)
    for f in sorted(ndjson.glob("events-*.json")):
        key = f"incoming/{f.name}"
        try:
            s3.head_object(Bucket=bucket, Key=key)
        except Exception:
            s3.upload_file(str(f), bucket, key)
    listed = s3.list_objects_v2(Bucket=bucket, Prefix="incoming/")
    for obj in listed.get("Contents", []):
        dest = staged / Path(obj["Key"]).name
        if not dest.exists():
            s3.download_file(bucket, obj["Key"], str(dest))
    return (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .json(str(staged))
        .select("event_id", "user_id", "event_type")
    )


@query(
    "sink_kinesis",
    """
    SELECT event_id, event_type FROM events
    """,
)
def sink_kinesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SINK stage, batch form: PutRecords (≤500/call,
    retry w/ backoff) into moto Kinesis, then drain all shards and hand
    the payloads back as a DataFrame — the oracle compares against the
    original events, so the full serialize→put→shard→get round-trip
    must be lossless.

    The events are collected and put from the driver with one client,
    through the package's one put function,
    ``aws.put_records_with_retry``, as the streaming sink puts each
    micro-batch."""
    stream = f"kas-sink-{uuid.uuid4().hex[:10]}"
    kin = aws.create_stream(stream, shards=4)
    ephemeral_file(aws.moto_lock_path(stream))

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", (F.col("user_id") % 4).alias("pk")
    )
    aws.put_records_with_retry(kin, stream, aws.row_records(ev.collect()))

    records = aws.read_all_records(stream)
    payloads = [json.loads(r["Data"]) for r in records]
    # Fresh uuid stream per run (ADVICE r01): no distinct() masking —
    # a duplicate delivery must fail the losslessness check loudly.
    n_unique = len({tuple(sorted(p.items())) for p in payloads})
    if n_unique != len(payloads):
        raise RuntimeError(
            f"duplicate Kinesis delivery: {len(payloads)} records, "
            f"{n_unique} unique"
        )
    return spark.createDataFrame(payloads, "event_id BIGINT, event_type STRING")


N_BAD_LINES = 7


def ensure_events_ndjson_dirty(sf_dir: str) -> Path:
    """events NDJSON + one extra file of N_BAD_LINES malformed records
    (truncated JSON, bare words, wrong-type field) — the realistic
    state of any at-scale ingest directory."""
    clean = ensure_events_ndjson(sf_dir)

    def build(out: Path) -> None:
        out.mkdir()
        for f in clean.glob("events-*.json"):
            (out / f.name).write_bytes(f.read_bytes())
        bad = [
            '{"event_id": 1, "user_id": ',  # truncated mid-token
            "not json at all",
            '{"event_id": "NaN-ish", "user_id": {}}',  # wrong nesting
            '[1, 2, 3',  # unterminated array
            '{"event_id":, "user_id": 2}',  # missing value
            '{broken: true}',  # unquoted key
            '"just a string with no object"trailing',  # trailing garbage
        ]
        assert len(bad) == N_BAD_LINES
        (out / "events-badlines.json").write_text("\n".join(bad) + "\n")

    return staged(derived_dir(sf_dir) / "events_ndjson_dirty", [clean], build)


@query(
    "scan_json_badrecords",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST({N_BAD_LINES} AS BIGINT) AS n_corrupt,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    """,
)
def scan_json_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest of a dirty NDJSON directory: malformed
    lines land in ``_corrupt_record`` instead of failing the job, and
    the query quarantines them (count here; dead-letter path in
    production) while the clean rows flow on. At 100 TB failing a
    multi-hour job on one bad byte (FAILFAST) is not an option, and
    silently dropping (DROPMALFORMED) destroys the audit trail — the
    PERMISSIVE + quarantine split is the only scalable posture. The
    corrupt column must be requested in the schema to materialize;
    caching before the split avoids a double read.

    Oracle: clean rows equal the events table; the corrupt count is the
    fixture constant."""
    path = ensure_events_ndjson_dirty(sf_dir)
    schema = EVENTS_JSON_SCHEMA + ", _corrupt_record STRING"
    df = spark.read.schema(schema).json(str(path)).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    plan = (
        good.agg(
            F.count(F.lit(1)).alias("n_good"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .crossJoin(bad.agg(F.count(F.lit(1)).alias("n_corrupt")))
        .select("n_good", "n_corrupt", "n_users")
    )
    # 1-row result: materialize and release the split cache before
    # returning (cache-hygiene rule — a returned lazy frame cannot own
    # a persist; this was the last lingering cache in the engine)
    try:
        rows = plan.collect()
    finally:
        df.unpersist()
    return spark.createDataFrame(rows, plan.schema)


def ensure_parquet_evolving(sf_dir: str) -> Path:
    """Two parquet generations of the same logical table: gen1 is
    (doc_id, lang), gen2 adds n_chars — the normal state of a lake
    table after a schema migration."""

    def build(out: Path) -> None:
        out.mkdir()
        pdf = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
        pdf = pdf.sort_values("doc_id")
        gen1 = pdf[pdf.doc_id % 2 == 0][["doc_id", "lang"]]
        gen2 = pdf[pdf.doc_id % 2 == 1][["doc_id", "lang", "n_chars"]]
        import pyarrow as pa

        pq.write_table(pa.Table.from_pandas(gen1, preserve_index=False),
                       out / "gen1.parquet")
        pq.write_table(pa.Table.from_pandas(gen2, preserve_index=False),
                       out / "gen2.parquet")

    return staged(
        derived_dir(sf_dir) / "docs_evolving",
        [Path(sf_dir) / "documents.parquet"],
        build,
    )


@query(
    "scan_parquet_evolving",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS n_with_chars,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS sum_chars
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def scan_parquet_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: a directory holding files written before
    and after a column was added, unified with ``mergeSchema`` — rows
    from the old generation surface NULL for the new column instead of
    failing the scan. The aggregate counts both populations to prove
    the union really happened. At 100 TB mergeSchema's footer-merge
    cost scales with FILE COUNT, not data size — production lakes pin
    the merged schema in a metastore/table format and read with an
    explicit schema instead; the per-file null-fill behavior pinned
    here is identical."""
    path = ensure_parquet_evolving(sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(str(path))
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_chars").alias("n_with_chars"),
            F.sum(F.when(F.col("doc_id") % 2 == 1, F.col("n_chars"))).alias(
                "sum_chars"
            ),
        )
        .orderBy("lang")
    )


@query(
    "source_python_datasource",
    """
    SELECT CAST(g // 250 AS INT) AS pid,
           CAST(g AS INT) AS gid,
           (g * 7 % 1000) / 4.0 AS val
    FROM generate_series(0, 999) t(g)
    ORDER BY gid
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through a CUSTOM Python DataSource (Spark 4
    pyspark.sql.datasource API, sources/python_source.py): 4
    InputPartitions × 250 rows of a deterministic synthetic feed,
    executed partition-parallel as Arrow-batched Python tasks. The
    oracle recomputes the identical rows from generate_series, so the
    hash match proves the custom source's partitioning covers the row
    space exactly once with no gaps or overlaps — the correctness
    contract any source plugin must meet."""
    from kinesis_adapter_spark.sources.python_source import RangeFeedDataSource

    try:
        spark.dataSource.register(RangeFeedDataSource)
    except Exception:
        pass  # already registered in this session
    return (
        spark.read.format("kas_feed")
        .option("partitions", "4")
        .option("rows", "250")
        .load()
        .orderBy("gid")
    )


def ensure_media_files(sf_dir: str) -> Path:
    """Stage each IMAGE payload as its own .ppm file — the
    object-per-file layout multimodal corpora actually arrive in
    (S3 bucket of images), as opposed to media.parquet's
    blobs-in-columns layout. Source of truth is the media fixture, so
    fingerprint invalidation chains through documents.parquet."""
    from kinesis_adapter_spark.operators.multimodal import ensure_media_parquet

    media = ensure_media_parquet(sf_dir)

    def build(out: Path) -> None:
        out.mkdir()
        tbl = pq.read_table(
            str(media), columns=["media_id", "media_type", "payload"]
        )
        for mid, mt, payload in zip(
            tbl.column("media_id").to_pylist(),
            tbl.column("media_type").to_pylist(),
            tbl.column("payload").to_pylist(),
        ):
            if mt == "image":
                (out / f"media_{mid}.ppm").write_bytes(payload)

    return staged(
        derived_dir(sf_dir) / "media_files", [Path(sf_dir) / "documents.parquet"], build
    )


@query(
    "source_binaryfile",
    f"""
    SELECT media_id, gt_n_bytes AS n_bytes, gt_sha256_16 AS sha256_16
    FROM read_parquet('{DERIVED_ROOT / "sf0.01" / "media.parquet"}')
    WHERE media_type = 'image'
    ORDER BY media_id
    """,
)
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``binaryFile`` source over an object-per-file media
    directory — the ingest path for raw image/audio buckets (each S3
    object one blob): scan yields (path, modificationTime, length,
    content); the id parses from the file name and the digest is
    computed JVM-side with sha2 over the binary column — no Python in
    the loop. The oracle reads the fixture's independently-computed
    ground truth, so the hash match proves the file write + binaryFile
    read round-trip is lossless.

    100 TB notes: binaryFile parallelizes by file; selecting only
    (path, length) prunes ``content`` from the scan entirely
    (metadata-only listing), and ``pathGlobFilter`` prunes non-matching
    objects before any read."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "media_*.ppm")
        .load(str(ensure_media_files(sf_dir)))
    )
    return (
        df.select(
            F.regexp_extract(
                F.col("path"), r"media_(\d+)\.ppm$", 1
            ).cast("bigint").alias("media_id"),
            F.col("length").alias("n_bytes"),
            F.lower(F.substring(F.sha2("content", 256), 1, 16)).alias(
                "sha256_16"
            ),
        )
        .orderBy("media_id")
    )


@query(
    "source_python_stream",
    """
    SELECT CAST(g AS INT) AS gid, (g * 7 % 1000) / 4.0 AS val
    FROM generate_series(0, 999) t(g)
    ORDER BY gid
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM through a custom Python streaming DataSource (Spark 4
    ``simpleStreamReader`` API): offset-tracked micro-batches (100
    rows each over a bounded 1000-row feed) land in a memory sink via
    availableNow; the oracle recomputes the whole feed from
    generate_series, so the hash match proves the offset arithmetic
    covers the row space exactly once across ~10 micro-batches — no
    gap at batch boundaries, no replayed overlap. This is the
    PySpark-native version of writing a Kinesis/REST source plugin:
    initialOffset/read/readBetweenOffsets give checkpointed resume
    for free."""
    import uuid as _uuid

    from kinesis_adapter_spark.staging import ephemeral_dir

    from kinesis_adapter_spark.sources.python_source import (
        RangeFeedStreamDataSource,
    )

    try:
        spark.dataSource.register(RangeFeedStreamDataSource)
    except Exception:
        pass  # already registered in this session
    name = f"mem_{_uuid.uuid4().hex[:12]}"
    q = (
        spark.readStream.format("kas_feed_stream")
        .option("batch_rows", "100")
        .option("total_rows", "1000")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ephemeral_dir("kas_pysrc_"))
        .start()
    )
    # availableNow snapshots only the FIRST offset range for a simple
    # python stream reader (probed: one 100-row batch, then stop);
    # processAllAvailable drains the bounded feed through every
    # micro-batch before stopping.
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return spark.table(name).orderBy("gid")


@query(
    "scan_text_lines",
    """
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw ``text`` source + full-record from_json parse: each NDJSON
    line arrives as one string row and the typed record is extracted
    in a single from_json against the declared schema — the
    lowest-level ingest path (upstream of the schema'd json reader)
    and the one you reach for when lines need pre-cleaning before
    parse. Oracled against the ORIGINAL parquet, so text-split,
    JSON-parse, and numeric round-trip must all be lossless."""
    lines = spark.read.text(str(ensure_events_ndjson(sf_dir)))
    rec = F.from_json("value", EVENTS_JSON_SCHEMA)
    return lines.select(rec.alias("r")).select(
        "r.event_id", "r.user_id", "r.event_type", "r.value"
    )
