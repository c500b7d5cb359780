"""Multimodal binary-column operators (north-star mandate: image/audio/
video as opaque ``binary`` columns with typed metadata; decode /
feature-extract / resize / frame-sample over Arrow-batched Pandas UDFs).

No media LIBRARIES exist in this container, but no compressed codecs
are needed for the semantics to be real: every modality is staged in
a genuine uncompressed container format and genuinely decoded —
- IMAGE: binary P6 PPM rasters (netpbm: ``P6\\n<w> <h>\\n255\\n`` +
  interleaved RGB bytes); ``mm_resize`` parses the header, reshapes,
  2×2-box-downsamples; ``dedup_image_phash`` block-mean-hashes.
- AUDIO: RIFF/WAVE PCM16LE mono (the standard .wav layout — fmt and
  data chunks, 16-bit little-endian samples); ``mm_audio_features``
  walks the chunk structure and computes integer-exact sample stats.
- VIDEO: a netpbm P6 STREAM (concatenated full PPM frames — the
  actual output format of ``ffmpeg -f image2pipe``);
  ``mm_video_frame_extract`` splits frames by parsing each header and
  digests every fps-th frame.
The Spark-side plumbing (binary schema, Arrow transport into
mapInPandas, batch shapes, partition behavior, typed-metadata pruning)
is equally real and oracled:

- the derived ``media.parquet`` fixture stores, next to each payload,
  ground-truth feature columns computed by PLAIN PYTHON at fixture
  build time;
- the Spark pipeline recomputes those features FROM THE RAW BYTES via
  ``mapInPandas``/numpy, and the DuckDB oracle reads the stored
  ground truth — so a hash-match proves the whole binary round-trip
  (parquet → JVM → Arrow → pandas → numpy) is lossless.

At 100 TB: payloads live in parquet binary columns partitioned by
``media_type`` (so single-modality pipelines prune partitions), with
metadata in typed columns so planning-time filters never touch bytes;
mapInPandas keeps decode vectorized per Arrow batch and scales by
partition count, and ``spark.sql.files.maxPartitionBytes`` bounds the
per-task byte load.
"""

from __future__ import annotations

import hashlib

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_adapter_spark.plans.registry import query
from kinesis_adapter_spark.sources.scans import DERIVED_ROOT, derived_dir
from kinesis_adapter_spark.staging import staged

MEDIA_TYPES = ("image", "audio", "video")


AUDIO_SR = 8000
VIDEO_FRAME_W, VIDEO_FRAME_H = 16, 12
VIDEO_FPS = 12


def _audio_n_samples(media_id: int) -> int:
    return 2000 + media_id % 4000  # 0.25–0.75 s at 8 kHz


def _wav_payload(media_id: int) -> bytes:
    """Real RIFF/WAVE container, PCM16LE mono @ 8 kHz: canonical 44-byte
    header (RIFF size, fmt chunk with audio_format=1, data chunk) +
    samples s[i] = ((media_id*31 + i*7) mod 4001) - 2000 — deterministic,
    sign-alternating-ish int16 audio any .wav reader plays."""
    import struct

    import numpy as np

    n = _audio_n_samples(media_id)
    i = np.arange(n, dtype=np.int64)
    samples = ((media_id * 31 + i * 7) % 4001 - 2000).astype("<i2")
    data = samples.tobytes()
    byte_rate = AUDIO_SR * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, AUDIO_SR, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def _audio_gt(wav: bytes) -> tuple[int, int, int, int]:
    """Build-time ground truth for a PCM16 WAV: (n_samples,
    duration_ms, sum of squared samples, zero crossings) — ALL integer,
    so the engine's numpy recomputation is bit-exact. Implemented with
    plain struct iteration (sample-by-sample python loop) so the
    engine's vectorized path is independent code. Zero crossing :=
    sign bit of (s >= 0) flips between consecutive samples."""
    import struct

    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    # walk chunks to find fmt and data (never assume the 44-byte form)
    pos, sr, data = 12, None, None
    while pos + 8 <= len(wav):
        cid = wav[pos : pos + 4]
        (sz,) = struct.unpack("<I", wav[pos + 4 : pos + 8])
        body = wav[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt, ch, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            assert (fmt, ch, bits) == (1, 1, 16), "PCM16 mono expected"
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    n = len(data) // 2
    sum_sq = 0
    zc = 0
    prev_nonneg = None
    for k in range(n):
        (s,) = struct.unpack_from("<h", data, 2 * k)
        sum_sq += s * s
        nonneg = s >= 0
        if prev_nonneg is not None and nonneg != prev_nonneg:
            zc += 1
        prev_nonneg = nonneg
    return n, n * 1000 // sr, sum_sq, zc


def _video_frame(media_id: int, f: int):
    import numpy as np

    y = np.arange(VIDEO_FRAME_H, dtype=np.int64)[:, None, None]
    x = np.arange(VIDEO_FRAME_W, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((media_id + 97 * f + 31 * y + 7 * x + 11 * c) % 256).astype(
        np.uint8
    )


def _video_payload(media_id: int, n_frames: int) -> bytes:
    """Real netpbm P6 STREAM: ``n_frames`` complete PPM documents
    back-to-back — the exact byte layout ``ffmpeg -f image2pipe
    -vcodec ppm`` emits, decodable by walking headers frame by frame."""
    parts = []
    for f in range(n_frames):
        parts.append(
            _ppm_header(VIDEO_FRAME_W, VIDEO_FRAME_H)
            + _video_frame(media_id, f).tobytes()
        )
    return b"".join(parts)


def _video_frames_gt(payload: bytes) -> list[bytes]:
    """Build-time re-parse of a P6 stream into frame byte strings —
    walks the stream with plain index arithmetic (header regex-free),
    independent of both the builder loop above and the engine's
    decoder."""
    frames = []
    pos = 0
    while pos < len(payload):
        assert payload[pos : pos + 3] == b"P6\n", "not at a frame boundary"
        # token-walk the three header lines (magic, dims, maxval) —
        # searching for b'255\n' is ambiguous when a dim ends in 255
        dims_end = payload.index(b"\n", pos + 3)
        w, h = (int(t) for t in payload[pos + 3 : dims_end].split())
        hdr_end = payload.index(b"\n", dims_end + 1) + 1
        end = hdr_end + w * h * 3
        frames.append(payload[pos:end])
        pos = end
    return frames


def _ppm_header(w: int, h: int) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h)


def _ppm_parse_header(b: bytes, pos: int = 0) -> tuple[int, int, int]:
    """Parse a P6 header by consuming three newline-delimited tokens
    (magic, dims, maxval) starting at ``pos`` — never by searching for
    the first ``b'255\\n'``, which is ambiguous when a dimension token
    itself ends in 255 (e.g. height 255 makes the dims line end
    ``...255\\n`` and the search lands inside it; r6 advisory).
    Returns ``(w, h, offset_of_first_pixel_byte)``."""
    if b[pos : pos + 3] != b"P6\n":
        raise ValueError("payload is not a P6 PPM raster")
    dims_end = b.index(b"\n", pos + 3)
    w, h = (int(t) for t in b[pos + 3 : dims_end].split())
    return w, h, b.index(b"\n", dims_end + 1) + 1


def _image_payload(media_id: int, w: int, h: int, shift: int = 0) -> bytes:
    """Real P6 PPM raster: pixel (y, x, c) = (media_id + 31y + 7x
    + 11c) mod 200 + shift — deterministic, codec-free, and rich
    enough that a resize bug anywhere (header parse, stride, channel
    order, pooling) changes the output checksum. The mod-200 base
    leaves headroom so a small brightness ``shift`` never clamps —
    which makes the shifted near-dup copies EXACT perceptual-hash
    twins of their source (every pHash cell sum and the global sum
    move by the same constant, so no bit flips; see _phash_gt)."""
    import numpy as np

    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    pix = ((media_id + 31 * y + 7 * x + 11 * c) % 200 + shift).astype(np.uint8)
    return _ppm_header(w, h) + pix.tobytes()


PHASH_GRID = 8
NEAR_DUP_SHIFT = 10
NEAR_DUP_ID_OFFSET = 5_000_000


def _phash_gt(ppm: bytes) -> str:
    """Fixture-build ground-truth perceptual hash: crop to the largest
    8×8-divisible region, sum raw RGB values per grid cell (equal-size
    cells, INTEGER math only), set bit (cy, cx) iff cell_sum * 64 >
    total_sum, pack row-major into 16 hex chars. Integer comparison
    means the engine's vectorized recomputation is bit-exact by
    construction — no float-mean boundary can flip a bit between the
    two implementations. Implemented with per-cell PYTHON LOOPS so the
    engine's reshape/sum decomposition is independent code (same
    discipline as _gt_resized_ppm)."""
    import numpy as np

    dims_end = ppm.index(b"\n", 3)
    w, h = (int(t) for t in ppm[3:dims_end].split())
    hdr_end = ppm.index(b"\n", dims_end + 1) + 1
    pix = np.frombuffer(ppm[hdr_end:], dtype=np.uint8).reshape(h, w, 3)
    g = PHASH_GRID
    bh, bw = h // g, w // g
    cells = []
    for cy in range(g):
        for cx in range(g):
            cells.append(
                int(
                    pix[cy * bh : (cy + 1) * bh, cx * bw : (cx + 1) * bw]
                    .astype(np.int64)
                    .sum()
                )
            )
    total = sum(cells)
    bits = 0
    for s in cells:
        bits = (bits << 1) | (1 if s * g * g > total else 0)
    return f"{bits:016x}"


def _gt_resized_ppm(ppm: bytes) -> bytes:
    """Fixture-build ground-truth resize: decode the P6 payload and
    2×2-box-downsample (mean of each 2×2 block, floor division; odd
    edge rows/cols cropped). Implemented with STRIDED SLICES — the
    Spark-side decoder uses a reshape/sum decomposition instead, so the
    two paths share only the math, not the code, and a bug in either
    shows up as an oracle checksum mismatch (plus the hand-computed
    vector in tests/test_multimodal.py anchors the math itself)."""
    import numpy as np

    dims_end = ppm.index(b"\n", 3)
    w, h = (int(t) for t in ppm[3:dims_end].split())
    hdr_end = ppm.index(b"\n", dims_end + 1) + 1
    pix = np.frombuffer(ppm[hdr_end:], dtype=np.uint8).reshape(h, w, 3)
    h2, w2 = h // 2, w // 2
    p = pix[: 2 * h2, : 2 * w2].astype(np.uint16)
    out = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) // 4
    return _ppm_header(w2, h2) + out.astype(np.uint8).tobytes()


def ensure_media_parquet(sf_dir: str) -> Path:
    """Derive media.parquet from documents: binary payload + typed
    metadata + plain-Python ground-truth feature columns. Also stages
    media_frames.parquet (per-sampled-frame ground truth for the video
    stream decoder) from the same pass; both are staged by the
    documents.parquet fingerprint and the oracles read both names."""
    import functools

    import pyarrow.parquet as pq

    tables = functools.cache(lambda: _media_tables(sf_dir))
    src = [Path(sf_dir) / "documents.parquet"]
    staged(
        derived_dir(sf_dir) / "media_frames.parquet",
        src,
        lambda tmp: pq.write_table(tables()["frames"], tmp),
    )
    return staged(
        derived_dir(sf_dir) / "media.parquet",
        src,
        lambda tmp: pq.write_table(tables()["media"], tmp),
    )


def _media_tables(sf_dir: str) -> dict:
    """The media and media_frames tables ensure_media_parquet stages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"]
    ).to_pandas()
    rows = {
        "media_id": [],
        "media_type": [],
        "payload": [],
        "width": [],
        "height": [],
        "sample_rate": [],
        "n_frames": [],
        "fps": [],
        # ground truth (computed OUTSIDE Spark; the oracle reads these)
        "gt_n_bytes": [],
        "gt_byte_mean": [],
        "gt_sha256_16": [],
        # resize ground truth (image rows only; plain-numpy strided-
        # slice path at build time — mm_resize recomputes from the raw
        # payload via an independent reshape/sum decomposition)
        "gt_rs_width": [],
        "gt_rs_height": [],
        "gt_rs_n_bytes": [],
        "gt_rs_sha16": [],
        # perceptual hash ground truth (image rows only; loop-based
        # build impl — dedup_image_phash recomputes from the bytes)
        "gt_phash": [],
        # audio ground truth (audio rows only; struct-loop build impl —
        # mm_audio_features recomputes from the WAV bytes; all-integer)
        "gt_au_n_samples": [],
        "gt_au_duration_ms": [],
        "gt_au_sumsq": [],
        "gt_au_zero_cross": [],
    }
    frame_rows = {"media_id": [], "frame_id": [], "gt_frame_sha16": []}

    def _append(media_id: int, mt: str, p: bytes, w, h, src_id: int) -> None:
        if mt == "audio":
            n, dur, ssq, zc = _audio_gt(p)
            rows["gt_au_n_samples"].append(n)
            rows["gt_au_duration_ms"].append(dur)
            rows["gt_au_sumsq"].append(ssq)
            rows["gt_au_zero_cross"].append(zc)
        else:
            rows["gt_au_n_samples"].append(None)
            rows["gt_au_duration_ms"].append(None)
            rows["gt_au_sumsq"].append(None)
            rows["gt_au_zero_cross"].append(None)
        if mt == "video":
            frames = _video_frames_gt(p)
            for fid in range(0, len(frames), VIDEO_FPS):
                frame_rows["media_id"].append(media_id)
                frame_rows["frame_id"].append(fid)
                frame_rows["gt_frame_sha16"].append(
                    hashlib.sha256(frames[fid]).hexdigest()[:16]
                )
        if mt == "image":
            rs = _gt_resized_ppm(p)
            rows["gt_rs_width"].append(w // 2)
            rows["gt_rs_height"].append(h // 2)
            rows["gt_rs_n_bytes"].append(len(rs))
            rows["gt_rs_sha16"].append(hashlib.sha256(rs).hexdigest()[:16])
            rows["gt_phash"].append(_phash_gt(p))
        else:
            rows["gt_rs_width"].append(None)
            rows["gt_rs_height"].append(None)
            rows["gt_rs_n_bytes"].append(None)
            rows["gt_rs_sha16"].append(None)
            rows["gt_phash"].append(None)
        rows["media_id"].append(media_id)
        rows["media_type"].append(mt)
        rows["payload"].append(p)
        rows["width"].append(w)
        rows["height"].append(h)
        rows["sample_rate"].append(8000 if mt == "audio" else None)
        rows["n_frames"].append(24 + src_id % 96 if mt == "video" else None)
        rows["fps"].append(VIDEO_FPS if mt == "video" else None)
        rows["gt_n_bytes"].append(len(p))
        rows["gt_byte_mean"].append(round(sum(p) / len(p), 6))
        rows["gt_sha256_16"].append(hashlib.sha256(p).hexdigest()[:16])

    for doc_id, n_chars in zip(docs["doc_id"], docs["n_chars"]):
        doc_id, n_chars = int(doc_id), int(n_chars)
        mt = MEDIA_TYPES[doc_id % 3]
        w = 64 + doc_id % 64 if mt == "image" else None
        h = 48 + doc_id % 48 if mt == "image" else None
        if mt == "image":
            p = _image_payload(doc_id, w, h)
        elif mt == "audio":
            p = _wav_payload(doc_id)
        else:
            p = _video_payload(doc_id, 24 + doc_id % 96)
        _append(doc_id, mt, p, w, h, doc_id)
        # every 5th image gets a brightness-shifted near-dup twin: the
        # raw bytes differ everywhere (different sha256) but the
        # perceptual hash is provably identical — the recall fixture
        # for dedup_image_phash
        if mt == "image" and doc_id % 5 == 0:
            twin = _image_payload(doc_id, w, h, shift=NEAR_DUP_SHIFT)
            _append(doc_id + NEAR_DUP_ID_OFFSET, mt, twin, w, h, doc_id)
    schema = pa.schema(
        [
            ("media_id", pa.int64()),
            ("media_type", pa.string()),
            ("payload", pa.binary()),
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("sample_rate", pa.int32()),
            ("n_frames", pa.int32()),
            ("fps", pa.int32()),
            ("gt_n_bytes", pa.int64()),
            ("gt_byte_mean", pa.float64()),
            ("gt_sha256_16", pa.string()),
            ("gt_rs_width", pa.int32()),
            ("gt_rs_height", pa.int32()),
            ("gt_rs_n_bytes", pa.int64()),
            ("gt_rs_sha16", pa.string()),
            ("gt_phash", pa.string()),
            ("gt_au_n_samples", pa.int64()),
            ("gt_au_duration_ms", pa.int64()),
            ("gt_au_sumsq", pa.int64()),
            ("gt_au_zero_cross", pa.int64()),
        ]
    )
    frames = pa.table(
        frame_rows,
        schema=pa.schema(
            [
                ("media_id", pa.int64()),
                ("frame_id", pa.int64()),
                ("gt_frame_sha16", pa.string()),
            ]
        ),
    )
    return {"media": pa.table(rows, schema=schema), "frames": frames}


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(str(ensure_media_parquet(sf_dir)))


# Oracle path constant: tracks DERIVED_ROOT so a staged-fixture version
# bump can never strand the oracles on a stale directory.
_MEDIA_ORACLE_PATH = str(DERIVED_ROOT / "sf0.01" / "media.parquet")
_MEDIA_FRAMES_ORACLE_PATH = str(
    DERIVED_ROOT / "sf0.01" / "media_frames.parquet"
)

# NOTE: oracle SQL paths point at the sf0.01 staging dir — the scale
# the driver's verbatim gate oracles at. The Spark side of each key
# stages the fixture (per-sf, fingerprint-guarded) before the oracle
# runs, and at any OTHER sf the check layer re-points these literal
# paths at that sf's staging dir (tests.oracle.oracle_sql_for), so the
# sf0.1 replica sweep fully oracle-checks this family too (r12).


@query(
    "mm_decode_features",
    f"""
    SELECT media_id, media_type, gt_n_bytes AS n_bytes,
           gt_byte_mean AS byte_mean, gt_sha256_16 AS sha256_16
    FROM read_parquet('{_MEDIA_ORACLE_PATH}')
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-and-featurize over mapInPandas: recompute byte stats from
    the RAW binary column with numpy per Arrow batch; the oracle reads
    the plain-Python ground truth stored in the fixture, so a match
    proves the binary Arrow round-trip bit-exact."""
    import numpy as np
    import pandas as pd

    def featurize(batches):
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "byte_mean": payloads.map(
                        lambda b: round(
                            float(np.frombuffer(b, dtype=np.uint8).mean()), 6
                        )
                    ),
                    "sha256_16": payloads.map(
                        lambda b: hashlib.sha256(b).hexdigest()[:16]
                    ),
                }
            )

    return _media(spark, sf_dir).mapInPandas(
        featurize,
        "media_id bigint, media_type string, n_bytes bigint, "
        "byte_mean double, sha256_16 string",
    )


@query(
    "mm_metadata_profile",
    f"""
    SELECT media_type, COUNT(*) AS n,
           CAST(SUM(gt_n_bytes) AS BIGINT) AS total_bytes,
           CAST(MAX(width) AS INT) AS max_width,
           CAST(MAX(n_frames) AS INT) AS max_frames
    FROM read_parquet('{_MEDIA_ORACLE_PATH}')
    GROUP BY media_type
    """,
)
def mm_metadata_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality profile over typed metadata plus payload sizes.
    Everything except the length() probe is planned off the small typed
    columns; a variant that drops total_bytes prunes payload from
    ReadSchema entirely — at 100 TB that is the difference between
    scanning kilobytes of metadata and scanning every blob."""
    return (
        _media(spark, sf_dir)
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.max("width").alias("max_width"),
            F.max("n_frames").alias("max_frames"),
        )
    )


@query(
    "mm_frame_sample",
    f"""
    SELECT media_id, CAST(f.frame_id AS BIGINT) AS frame_id
    FROM read_parquet('{_MEDIA_ORACLE_PATH}'),
         LATERAL (SELECT unnest(range(0, CAST(n_frames AS BIGINT), CAST(fps AS BIGINT)))
                  AS frame_id) f
    WHERE media_type = 'video'
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling PLAN for video rows: one output row per sampled
    frame (every fps-th index, i.e. ~1/sec) — pure JVM sequence+explode
    on metadata, zero payload bytes read; ``mm_video_frame_extract`` is
    the companion that actually decodes those frames from the P6
    stream. Splitting plan from decode matters at 100 TB: the sampling
    schedule (which frames, how many rows) is computable from metadata
    alone for admission control before any blob is touched."""
    v = _media(spark, sf_dir).filter(F.col("media_type") == "video")
    return v.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_frames").cast("long") - 1,
                       F.col("fps").cast("long"))
        ).alias("frame_id"),
    )


@query(
    "pipeline_multimodal_curation",
    f"""
    SELECT d.lang, m.media_type,
           COUNT(*) AS n_docs,
           CAST(SUM(m.gt_n_bytes) AS BIGINT) AS total_media_bytes,
           ROUND(AVG(sqrt(list_aggregate(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6)
             AS avg_emb_norm
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    JOIN read_parquet('{_MEDIA_ORACLE_PATH}') m
      ON d.doc_id = m.media_id
    WHERE d.n_chars >= 100
    GROUP BY d.lang, m.media_type
    """,
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality curation composite: text ⋈ vector ⋈ binary media
    on the shared id, quality filter on text length, per (lang,
    media_type) accounting of corpus size in bytes and embedding norms
    — the shape of a real multimodal training-set audit, in ONE plan
    (both joins broadcast the bounded side at this sf; at 100 TB all
    three tables co-bucket on the id and the joins are exchange-free)."""
    from kinesis_adapter_spark.catalog import load as _load

    d = _load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    e = _load(spark, sf_dir, "embeddings")
    m = _media(spark, sf_dir)
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    norm = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda s, x: s + x))
    return (
        d.join(e, d.doc_id == e.vec_id)
        .join(m, d.doc_id == m.media_id)
        .groupBy("lang", "media_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("payload")).alias("total_media_bytes"),
            F.round(F.avg(norm), 6).alias("avg_emb_norm"),
        )
    )


@query(
    "mm_resize",
    f"""
    SELECT media_id,
           gt_rs_n_bytes AS n_bytes,
           gt_rs_width AS width,
           gt_rs_height AS height,
           gt_rs_sha16 AS sha256_16
    FROM read_parquet('{_MEDIA_ORACLE_PATH}')
    WHERE media_type = 'image'
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize over mapInPandas (replaced r5's
    ``mm_resize_stub`` — no simulated semantics left): each image
    payload is a genuine P6 PPM raster; the worker parses the header
    FROM THE BYTES (never trusting the metadata columns), reshapes the
    RGB buffer, 2×2-box-downsamples it (mean per block, floor
    division, odd edges cropped — bilinear at exactly 0.5 scale), and
    re-encodes P6. The emitted dims + sha256 of the resized bytes
    hash-match ground truth the fixture builder computed with an
    independent strided-slice implementation, so the oracle proves the
    whole decode→resample→encode path bit-exact through Arrow.

    At 100 TB this is the canonical multimodal transform shape: the
    modality filter prunes the media_type partition, the scan reads
    only (media_id, payload), and decode cost scales per Arrow batch
    across however many tasks ``maxPartitionBytes`` yields — no
    shuffle anywhere in the plan."""
    import numpy as np
    import pandas as pd

    def _resize_one(b: bytes) -> bytes:
        w, h, hdr_end = _ppm_parse_header(b)
        pix = np.frombuffer(b, dtype=np.uint8, offset=hdr_end).reshape(h, w, 3)
        h2, w2 = h // 2, w // 2
        blocks = (
            pix[: 2 * h2, : 2 * w2]
            .astype(np.uint16)
            .reshape(h2, 2, w2, 2, 3)
        )
        out = (blocks.sum(axis=(1, 3)) // 4).astype(np.uint8)
        return _ppm_header(w2, h2) + out.tobytes()

    def resize(batches):
        for pdf in batches:
            resized = pdf["payload"].map(_resize_one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": resized.map(len).astype("int64"),
                    "width": resized.map(
                        lambda r: _ppm_parse_header(r)[0]
                    ).astype("int32"),
                    "height": resized.map(
                        lambda r: _ppm_parse_header(r)[1]
                    ).astype("int32"),
                    "sha256_16": resized.map(
                        lambda r: hashlib.sha256(r).hexdigest()[:16]
                    ),
                }
            )

    return (
        _media(spark, sf_dir)
        .filter(F.col("media_type") == "image")
        .select("media_id", "payload")
        .mapInPandas(
            resize,
            "media_id bigint, n_bytes bigint, width int, height int, "
            "sha256_16 string",
        )
    )


def _phash_one(b: bytes) -> str:
    """Engine-side perceptual hash of a P6 payload — the vectorized
    twin of the fixture builder's loop-based ``_phash_gt``: crop to
    the largest 8×8-divisible region, integer RGB sum per grid cell
    via reshape, bit (cy, cx) = cell_sum * 64 > total. Integer-only
    comparisons make the two implementations bit-identical with no
    float boundary."""
    import numpy as np

    w, h, hdr_end = _ppm_parse_header(b)
    pix = np.frombuffer(b, dtype=np.uint8, offset=hdr_end).reshape(h, w, 3)
    g = PHASH_GRID
    bh, bw = h // g, w // g
    cells = (
        pix[: g * bh, : g * bw]
        .astype(np.int64)
        .reshape(g, bh, g, bw, 3)
        .sum(axis=(1, 3, 4))
    )
    total = int(cells.sum())
    bits = 0
    for s in cells.ravel():
        bits = (bits << 1) | (1 if int(s) * g * g > total else 0)
    return f"{bits:016x}"


# Shared by dedup_image_phash and its streaming maintenance twin
# (stream_phash_maintain): both must equal the ground-truth pair set.
PHASH_PAIRS_ORACLE = f"""
    SELECT a.media_id AS id_a, b.media_id AS id_b, a.gt_phash AS phash
    FROM read_parquet('{_MEDIA_ORACLE_PATH}') a
    JOIN read_parquet('{_MEDIA_ORACLE_PATH}') b
      ON a.gt_phash = b.gt_phash AND a.media_id < b.media_id
    WHERE a.media_type = 'image' AND b.media_type = 'image'
    ORDER BY id_a, id_b
    """


@query("dedup_image_phash", PHASH_PAIRS_ORACLE)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection on REAL image rasters —
    the multimodal member of the dedup family: a brightness-shifted
    re-encode of an image has different bytes (sha256 dedup misses it)
    but the identical 64-bit block-mean perceptual hash, because every
    cell sum and the global sum shift by the same constant. The
    fixture plants such twins (media_id + 5M, every 5th image); the
    oracle's ground-truth hashes come from an independent loop-based
    implementation at build time, so a match proves the whole
    decode→hash path.

    100 TB shape: the hash is computed in one mapInPandas pass over
    the payload column (map-only, no shuffle), and candidate pairs
    come from an equi-self-join on the 16-char hash — exact-hash
    blocking, the same bounded-bucket discipline as dedup_exact, never
    an all-pairs image comparison. Hamming-radius>0 matching would
    bucket by hash BANDS exactly like dedup_simhash does for text."""
    hashed = phash_frame(
        _media(spark, sf_dir).filter(F.col("media_type") == "image")
    ).drop("n_bytes")
    return phash_pairs(hashed)


def phash_frame(images: DataFrame) -> DataFrame:
    """(media_id, phash, n_bytes) for an image DataFrame carrying
    (media_id, payload) — THE single decode+hash mapInPandas; every
    phash consumer (batch dedup, the curation pipeline, the streaming
    index maintainer) maps this one function so the output contract
    can't fork (r6 review finding: three inline copies)."""
    import pandas as pd

    def _hash(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": pdf["payload"].map(_phash_one),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    return images.select("media_id", "payload").mapInPandas(
        _hash, "media_id bigint, phash string, n_bytes bigint"
    )


def phash_pairs(hashed: DataFrame) -> DataFrame:
    """Distinct-free equi self-join on the hash: (id_a, id_b, phash)
    with id_a < id_b — shared by dedup_image_phash and
    stream_phash_maintain, whose oracle-sharing contract requires the
    two joins to stay identical."""
    a = hashed.select(F.col("media_id").alias("id_a"), "phash")
    b = hashed.select(F.col("media_id").alias("id_b"), "phash")
    return (
        a.join(b, "phash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "phash")
        .orderBy("id_a", "id_b")
    )


def _wav_features_one(b: bytes) -> tuple[int, int, int, int]:
    """Engine-side PCM16 WAV feature extraction — the vectorized twin
    of the fixture builder's struct-loop ``_audio_gt``: walk the RIFF
    chunks, then numpy over the sample buffer. All-integer outputs, so
    the two implementations are bit-identical by construction."""
    import struct

    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("payload is not a RIFF/WAVE container")
    pos, sr, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (sz,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        if cid == b"fmt ":
            fmt, ch, sr, _, _, bits = struct.unpack(
                "<HHIIHH", b[pos + 8 : pos + 24]
            )
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError("PCM16 mono expected")
        elif cid == b"data":
            data = b[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    nonneg = s >= 0
    return (
        int(s.size),
        int(s.size) * 1000 // sr,
        int((s * s).sum()),
        int((nonneg[1:] != nonneg[:-1]).sum()),
    )


@query(
    "mm_audio_features",
    f"""
    SELECT media_id,
           gt_au_n_samples AS n_samples,
           gt_au_duration_ms AS duration_ms,
           gt_au_sumsq AS sum_sq,
           gt_au_zero_cross AS zero_crossings
    FROM read_parquet('{_MEDIA_ORACLE_PATH}')
    WHERE media_type = 'audio'
    ORDER BY media_id
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction over mapInPandas: each audio
    payload is a genuine RIFF/WAVE PCM16 file; the worker walks the
    chunk structure (never assuming the canonical 44-byte layout),
    decodes the int16 samples with numpy, and emits sample count,
    duration, energy (sum of squares) and zero-crossing count — the
    classic cheap speech/music discriminators a corpus-curation
    pipeline gates on. All outputs are integers, so the oracle match
    against the struct-loop build-time ground truth is exact, not
    tolerance-based.

    Same 100 TB shape as mm_resize: modality partition pruned, scan
    reads (media_id, payload) only, decode is map-only per Arrow
    batch — no shuffle in the plan."""
    import pandas as pd

    def feats(batches):
        for pdf in batches:
            vals = pdf["payload"].map(_wav_features_one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": vals.map(lambda t: t[0]).astype("int64"),
                    "duration_ms": vals.map(lambda t: t[1]).astype("int64"),
                    "sum_sq": vals.map(lambda t: t[2]).astype("int64"),
                    "zero_crossings": vals.map(lambda t: t[3]).astype("int64"),
                }
            )

    return (
        _media(spark, sf_dir)
        .filter(F.col("media_type") == "audio")
        .select("media_id", "payload")
        .mapInPandas(
            feats,
            "media_id bigint, n_samples bigint, duration_ms bigint, "
            "sum_sq bigint, zero_crossings bigint",
        )
        .orderBy("media_id")
    )


@query(
    "mm_video_frame_extract",
    f"""
    SELECT media_id, frame_id, gt_frame_sha16 AS frame_sha16
    FROM read_parquet('{_MEDIA_FRAMES_ORACLE_PATH}')
    ORDER BY media_id, frame_id
    """,
)
def mm_video_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame extraction: each video payload is a netpbm P6
    STREAM (concatenated PPM frames — ffmpeg's image2pipe format); the
    worker walks the stream header-by-header, slices out every fps-th
    frame, and emits its digest. One input row fans out to ~n_frames/
    fps output rows through mapInPandas — the row-explosion shape that
    distinguishes frame extraction from per-blob featurization, and
    the reason the 100 TB version partitions by media_id BEFORE
    sampling (downstream per-frame models consume co-located frames).

    The oracle reads media_frames.parquet, built by an independent
    stream re-parse at fixture time, so a hash match proves frame
    boundaries, sampling stride, and byte slicing all agree."""
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            out_mid, out_fid, out_sha = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                pos, fid = 0, 0
                while pos < len(b):
                    fw, fh, hdr_end = _ppm_parse_header(b, pos)
                    end = hdr_end + fw * fh * 3
                    if fid % VIDEO_FPS == 0:
                        out_mid.append(mid)
                        out_fid.append(fid)
                        out_sha.append(
                            hashlib.sha256(b[pos:end]).hexdigest()[:16]
                        )
                    pos = end
                    fid += 1
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_mid, dtype="int64"),
                    "frame_id": pd.Series(out_fid, dtype="int64"),
                    "frame_sha16": pd.Series(out_sha, dtype="object"),
                }
            )

    return (
        _media(spark, sf_dir)
        .filter(F.col("media_type") == "video")
        .select("media_id", "payload")
        .mapInPandas(
            extract, "media_id bigint, frame_id bigint, frame_sha16 string"
        )
        .orderBy("media_id", "frame_id")
    )


@query(
    "pipeline_image_curation",
    f"""
    WITH img AS (
      SELECT media_id, gt_phash, gt_n_bytes
      FROM read_parquet('{_MEDIA_ORACLE_PATH}')
      WHERE media_type = 'image'
    ),
    kept AS (
      SELECT * FROM img
      QUALIFY row_number() OVER (PARTITION BY gt_phash ORDER BY media_id) = 1
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(k.gt_n_bytes) AS BIGINT) AS total_bytes
    FROM kept k JOIN documents d ON k.media_id = d.doc_id
    WHERE d.n_chars >= 100
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def pipeline_image_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE curation composite, one Catalyst plan: decode
    every raster to its perceptual hash (mapInPandas, map-only) →
    near-dup collapse keeping the lowest media_id per hash (the
    brightness-shifted twins lose to their originals by id order) →
    join surviving images to their documents' text-quality gate
    (n_chars ≥ 100) → per-language byte accounting. This is the
    multimodal sibling of pipeline_text_curation — the report a
    vision-language training-set build reads before packing.

    At 100 TB: the decode pass is map-only over the payload column,
    the dedup shuffles 16-char hashes (never pixels), the documents
    join broadcasts the metadata side after its filter, and the final
    agg is map-side combined — pixels are touched exactly once."""
    from kinesis_adapter_spark.catalog import load as _load
    from pyspark.sql import Window

    hashed = phash_frame(
        _media(spark, sf_dir).filter(F.col("media_type") == "image")
    )
    w = Window.partitionBy("phash").orderBy("media_id")
    kept = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    d = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 100)
        .select("doc_id", "lang")
    )
    return (
        kept.join(F.broadcast(d), kept.media_id == d.doc_id)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_audio_curation",
    f"""
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_clips,
           CAST(SUM(m.gt_au_duration_ms) AS BIGINT) AS total_ms,
           CAST(SUM(m.gt_au_n_samples) AS BIGINT) AS total_samples
    FROM read_parquet('{_MEDIA_ORACLE_PATH}') m
    JOIN documents d ON m.media_id = d.doc_id
    WHERE m.media_type = 'audio'
      AND d.n_chars >= 100
      AND m.gt_au_zero_cross * 10000 >= 35 * m.gt_au_n_samples
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def pipeline_audio_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO curation composite — the speech-corpus sibling of
    pipeline_image_curation: decode every WAV (mapInPandas), gate on a
    signal-activity heuristic (zero-crossing rate ≥ 0.0035, i.e. at
    least 35 crossings per 10k samples — the cheap silence/tone
    screen; silent or constant clips have near-zero crossings; the
    predicate is the integer form ``zero_crossings * 10000 >=
    35 * n_samples`` so both engines compare exact integers), join
    the surviving clips to their transcripts'
    text-quality gate, and account duration per language — the
    hours-per-language table every ASR/TTS dataset card leads with.

    One plan: map-only decode, broadcast metadata join, map-side
    combined agg; the oracle reads the independently-built ground
    truth so the decode path stays proven end-to-end."""
    import pandas as pd

    from kinesis_adapter_spark.catalog import load as _load

    def feats(batches):
        for pdf in batches:
            vals = pdf["payload"].map(_wav_features_one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": vals.map(lambda t: t[0]).astype("int64"),
                    "duration_ms": vals.map(lambda t: t[1]).astype("int64"),
                    "zero_crossings": vals.map(lambda t: t[3]).astype("int64"),
                }
            )

    au = (
        _media(spark, sf_dir)
        .filter(F.col("media_type") == "audio")
        .select("media_id", "payload")
        .mapInPandas(
            feats,
            "media_id bigint, n_samples bigint, duration_ms bigint, "
            "zero_crossings bigint",
        )
        .filter(F.col("zero_crossings") * 10000 >= 35 * F.col("n_samples"))
    )
    d = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 100)
        .select("doc_id", "lang")
    )
    return (
        au.join(F.broadcast(d), au.media_id == d.doc_id)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("duration_ms").alias("total_ms"),
            F.sum("n_samples").alias("total_samples"),
        )
        .orderBy("lang")
    )
