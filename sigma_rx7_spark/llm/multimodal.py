"""Multimodal columns (SURVEY.md §2.11 L4): image/audio/video as opaque
binary columns with typed metadata, processed via Arrow-batched Pandas
UDFs.

North-star operator (BASELINE.json mandate). The container has no
image/audio codecs, so the *decode kernels* are deterministic fakes (or
``NotImplementedError`` for real formats — clearly marked below), while
everything Spark-owned is real and tested: the schema, the binary-column
fixtures, the ``mapInPandas`` batch shape, the row-expansion semantics
(frame sampling), and the partitioning story.

Scale design: payloads stay opaque bytes end-to-end — Spark shuffles and
stores them without interpretation; only the Pandas UDF touches content,
one Arrow batch at a time (bounded memory regardless of corpus size).
Feature extraction emits fixed-width vectors so downstream similarity
(llm/similarity.py) applies unchanged. On a cluster the media table is
written ``partitionBy(kind)`` so per-modality jobs prune at the scan
(io.write_table).
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import staging
from ..io import read_staged
from ..registry import query

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("payload", T.BinaryType()),    # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ])),
])

# Fake wire format for fixtures: magic 'SGMA' + width + height + n_frames
# + pixel bytes. Stands in for JPEG/WAV/MP4 so the decode path has real
# bytes to parse deterministically.
_MAGIC = b"SGMA"
_HEADER = struct.Struct(">4sHHH")

DECODED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_intensity", T.DoubleType()),
    T.StructField("histogram", T.ArrayType(T.LongType())),  # 16 bins
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_bytes", T.BinaryType()),
])


def encode_fake_media(media_id: int, kind: str, width: int, height: int,
                      n_frames: int = 1) -> tuple:
    """One deterministic fixture row (pure function of media_id)."""
    body = bytes(
        (media_id * 31 + i * 7) % 256
        for i in range(width * height * n_frames)
    )
    payload = _HEADER.pack(_MAGIC, width, height, n_frames) + body
    return (media_id, kind, payload,
            {"format": "sgma", "width": width, "height": height,
             "n_frames": n_frames})


def build_media_table(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic media fixture: images and tiny 'videos'."""
    rows = []
    for i in range(n):
        if i % 4 == 0:
            rows.append(encode_fake_media(i, "video", 8, 6, n_frames=5))
        else:
            rows.append(encode_fake_media(i, "image", 16, 12))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode one payload -> (width, height, n_frames, pixels).

    STUB BOUNDARY: real formats would dispatch to PIL/ffmpeg here; this
    container has neither, so only the deterministic 'sgma' fixture
    format decodes and anything else raises.
    """
    magic, width, height, n_frames = _HEADER.unpack_from(payload)
    if magic != _MAGIC:
        raise NotImplementedError(
            "real image/audio codecs unavailable in this environment; "
            "only the deterministic 'sgma' fixture format is decodable")
    return width, height, n_frames, payload[_HEADER.size:]


def decode_features(media: DataFrame) -> DataFrame:
    """Image → fixed-width features via mapInPandas (Arrow batches).

    Emits mean intensity + a 16-bin byte histogram per media row — the
    feature-extraction stage an embedding model would replace, with the
    identical batch shape and output contract.
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, _, px = _decode(bytes(payload))
                frame = px[: w * h]
                hist = [0] * 16
                for b in frame:
                    hist[b >> 4] += 1
                out.append((
                    mid, w, h,
                    (sum(frame) / len(frame)) if frame else 0.0,
                    hist,
                ))
            yield pd.DataFrame(
                out, columns=[f.name for f in DECODED_SCHEMA.fields])

    return media.select("media_id", "payload").mapInPandas(
        batches, DECODED_SCHEMA)


def sample_frames(media: DataFrame, stride: int = 2) -> DataFrame:
    """Video → one row per sampled frame (row-expanding mapInPandas):
    the frame-sampling stage of a video pipeline."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, n_frames, px = _decode(bytes(payload))
                size = w * h
                for f_idx in range(0, n_frames, stride):
                    out.append(
                        (mid, f_idx, px[f_idx * size:(f_idx + 1) * size]))
            yield pd.DataFrame(
                out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.where(F.col("kind") == "video").select(
        "media_id", "payload").mapInPandas(batches, FRAME_SCHEMA)


@query("q_multimodal_features", oracle=None, tags=("L4", "rows-only"))
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract the media fixture; aggregate per (width,
    height) to keep the output stable. sf_dir ignored (engine fixture)."""
    media = build_media_table(spark)
    feats = decode_features(media)
    return feats.groupBy("width", "height").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.col("mean_intensity").cast("decimal(20,6)"))
        .cast("double").alias("sum_intensity"),
    )


@query("q_multimodal_frames", oracle=None, tags=("L4", "rows-only"))
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one row per kept frame with frame byte length."""
    media = build_media_table(spark)
    return sample_frames(media).select(
        "media_id", "frame_idx",
        F.length("frame_bytes").alias("frame_len"),
    )


# ---- Oracle-gated binary-column plumbing ---------------------------------

def stage_media(spark: SparkSession) -> DataFrame:
    """Write the deterministic media fixture to parquet and read it back,
    so Spark and the DuckDB oracle consume identical payload bytes (the
    domain-staging contract)."""
    def build(path: str) -> None:
        build_media_table(spark).coalesce(1).write.mode("overwrite") \
            .parquet(path)
    return read_staged(spark, staging.stage(
        "media_fixture", None, build, code=(build_media_table,)))


_FINGERPRINT_ORACLE = f"""
WITH m AS (
  SELECT * FROM read_parquet('{staging.path('media_fixture')}/*.parquet')
), h AS (
  SELECT media_id, kind, meta, hex(payload) AS hx,
         octet_length(payload) AS n_bytes
  FROM m
), p AS (
  SELECT media_id, kind, meta, n_bytes,
         md5(hx) AS payload_md5,
         CAST(concat('0x', substr(hx, 9, 4)) AS INTEGER) AS hdr_width,
         CAST(concat('0x', substr(hx, 13, 4)) AS INTEGER) AS hdr_height,
         CAST(concat('0x', substr(hx, 17, 4)) AS INTEGER) AS hdr_frames
  FROM h
)
SELECT media_id, kind,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       payload_md5, hdr_width, hdr_height, hdr_frames,
       (hdr_width = struct_extract(meta, 'width')
        AND hdr_height = struct_extract(meta, 'height')
        AND hdr_frames = struct_extract(meta, 'n_frames'))
         AS meta_consistent
FROM p
"""


@query("q_multimodal_fingerprint", oracle=_FINGERPRINT_ORACLE,
       tags=("L4", "multimodal"))
def q_multimodal_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-GATED half of the multimodal surface: binary payloads
    staged to parquet, fingerprinted (byte length + md5-of-hex), and the
    container header parsed FROM THE BYTES with pure column expressions
    (big-endian u16 fields via hex/substr/conv — the same arithmetic the
    Pandas-UDF codec stub performs in Python), cross-checked against the
    typed metadata struct. Proves the BinaryType plumbing end to end:
    payload bytes survive the parquet round trip bit-identically in both
    engines, struct metadata rides alongside, and header decode is
    JVM-side — only pixel-level work needs the Arrow batch path
    (q_multimodal_features, rows-only by env cap: no codecs in this
    container). sf_dir ignored (engine fixture)."""
    m = stage_media(spark)
    h = F.hex("payload")
    p = m.select(
        "media_id", "kind", "meta",
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.md5(h).alias("payload_md5"),
        F.conv(F.substring(h, 9, 4), 16, 10).cast("int").alias("hdr_width"),
        F.conv(F.substring(h, 13, 4), 16, 10).cast("int")
        .alias("hdr_height"),
        F.conv(F.substring(h, 17, 4), 16, 10).cast("int")
        .alias("hdr_frames"),
    )
    return p.select(
        "media_id", "kind", "n_bytes", "payload_md5",
        "hdr_width", "hdr_height", "hdr_frames",
        ((F.col("hdr_width") == F.col("meta.width"))
         & (F.col("hdr_height") == F.col("meta.height"))
         & (F.col("hdr_frames") == F.col("meta.n_frames")))
        .alias("meta_consistent"),
    )


# ---- binaryFile source (S-family: raw media files -> DataFrame) ----------

def stage_media_files(spark: SparkSession) -> str:
    """Materialize each fixture payload as an individual ``.bin`` file —
    the on-disk shape a media corpus actually arrives in (one object per
    asset) before ingestion. Driver-side writes are fine HERE because
    this is fixture generation (the fixture builder is already
    driver-side Python); the INGEST direction below is the distributed
    path being certified."""
    def build(path: str) -> None:
        for r in stage_media(spark).select("media_id", "payload").collect():
            with open(os.path.join(path, f"{r['media_id']:04d}.bin"),
                      "wb") as fh:
                fh.write(bytes(r["payload"]))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return staging.stage("media_files", None, build,
                         code=(build_media_table,))


@query(
    "q_source_binaryfile",
    oracle=f"""
    SELECT media_id,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           md5(hex(payload)) AS payload_md5
    FROM read_parquet('{staging.path('media_fixture')}/*.parquet')
    """,
    tags=("L4", "S1", "multimodal", "source-binaryfile"),
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` SOURCE end to end: raw per-asset ``.bin``
    files ingested with ``spark.read.format('binaryFile')`` (path,
    length, content), the asset id recovered from the filename, and the
    content fingerprinted. The oracle fingerprints the same payloads
    from the staged parquet — a hash match proves the file-based ingest
    yields byte-identical content to the columnar staging, which is the
    property that lets a 100 TB media lake be re-ingested from object
    storage into BinaryType columns without corruption. sf_dir ignored
    (engine fixture). Scale note: binaryFile splits per-file (one row
    per object); at cluster scale set pathGlobFilter + a sane
    maxPartitionBytes so many small assets batch into one task."""
    path = stage_media_files(spark)
    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.bin").load(path))
    return raw.select(
        F.regexp_extract(F.col("path"), r"(\d{4})\.bin$", 1)
        .cast("int").alias("media_id"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5(F.hex("content")).alias("payload_md5"),
    )


# ---- Payload-digest exact dedup audit (L4d) --------------------------------

_REINGEST_OFFSET = 1000  # re-keyed ids of the simulated duplicate batch


_MM_DEDUP_ORACLE = f"""
WITH base AS (
  SELECT media_id, kind, payload
  FROM read_parquet('{staging.path('media_fixture')}/*.parquet')
),
reingested AS (
  SELECT media_id + {_REINGEST_OFFSET} AS media_id, kind, payload
  FROM base WHERE kind = 'video'
),
corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM reingested
),
digests AS (
  SELECT media_id, kind, md5(hex(payload)) AS payload_md5,
         octet_length(payload) AS n_bytes
  FROM corpus
),
groups AS (
  SELECT kind, payload_md5,
         COUNT(*) AS n_copies,
         MIN(media_id) AS keeper_id,
         MAX(n_bytes) AS n_bytes
  FROM digests GROUP BY kind, payload_md5
)
SELECT kind,
       CAST(SUM(n_copies) AS BIGINT) AS n_assets,
       CAST(COUNT(*) AS BIGINT) AS n_unique_payloads,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_dup_assets,
       CAST(SUM((n_copies - 1) * n_bytes) AS BIGINT)
         AS bytes_reclaimable
FROM groups
GROUP BY kind
"""


@query("q_multimodal_dedup", oracle=_MM_DEDUP_ORACLE,
       tags=("L4d", "multimodal", "dedup"))
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAYLOAD-DIGEST EXACT DEDUP over binary media — the L1 exact-dedup
    discipline applied to the modality where it matters most per byte
    (the same asset re-ingested under a new id is the single most common
    media-lake defect, and payload bytes are the only truth — ids,
    paths, and metadata all lie after a re-ingest). The corpus is the
    fixture UNION a re-keyed copy of its videos (the simulated duplicate
    batch), grouped by md5-of-hex digest; reported per kind: asset
    count, unique payloads, duplicate assets, and reclaimable bytes —
    the dedup savings estimate a storage review reads.

    Deterministic keeper election (min media_id) makes the implied
    keep-list engine-exact. Scale shape: one digest projection (the
    shuffle carries 32-hex digests + ints, never payload bytes — the
    L1 id-not-text posture) and two hash aggregates; at lake scale the
    digest relation is the dedup index a catalog would persist.
    sf_dir ignored (engine fixture)."""
    base = stage_media(spark).select("media_id", "kind", "payload")
    reingested = base.where(F.col("kind") == "video").select(
        (F.col("media_id") + _REINGEST_OFFSET).alias("media_id"),
        "kind", "payload")
    corpus = base.unionAll(reingested)
    digests = corpus.select(
        "media_id", "kind",
        F.md5(F.hex("payload")).alias("payload_md5"),
        F.length("payload").cast("bigint").alias("n_bytes"))
    groups = digests.groupBy("kind", "payload_md5").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("media_id").alias("keeper_id"),
        F.max("n_bytes").alias("n_bytes"))
    return groups.groupBy("kind").agg(
        F.sum("n_copies").cast("bigint").alias("n_assets"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique_payloads"),
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("n_dup_assets"),
        F.sum((F.col("n_copies") - 1) * F.col("n_bytes")).cast("bigint")
        .alias("bytes_reclaimable"))
