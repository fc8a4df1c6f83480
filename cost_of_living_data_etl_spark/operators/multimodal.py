"""Multimodal columns: images/audio/video as opaque binary + typed
metadata, with decode / feature-extraction / frame-sampling as
Arrow-batched pandas stages over mapInPandas.

The real codecs (PIL/torchaudio/ffmpeg) are NOT in this container, so
the DEFAULT decode kernel is STUBBED: if a codec import fails, a
clearly-marked deterministic fake decoder runs instead. The decode
step is an explicit injectable seam — ``extract_features(assets,
decoder=my_real_decoder)`` swaps in a production codec without
touching any Spark plumbing. Everything AROUND the stub —
the asset schema, binary payload handling, batch iteration shape,
output schemas, partitioning — is real Spark plumbing and is what
matters at 100 TB:

- payloads stay in executor memory as Arrow binary columns; nothing
  ever collects to the driver;
- mapInPandas streams batches of `arrow.maxRecordsPerBatch` rows, so
  peak memory is bounded per batch regardless of table size;
- feature extraction emits fixed-width array<float> — the shape the
  similarity operators (operators/similarity.py) consume directly.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# Pandas-UDF kernels in this module must reach Python workers even when
# the package is not importable on their path (the driver may load this
# repo by file path). By-value pickling ships the code with the task.
try:  # pragma: no cover - depends on bundled cloudpickle version
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("n_bytes", LongType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                ]
            ),
        ),
    ]
)

N_FEATURES = 16
_KINDS = ("image", "audio", "video")


def documents_to_assets(docs: DataFrame) -> DataFrame:
    """Deterministic fake asset table derived from documents.

    Stands in for `spark.read.format("binaryFile")` over an object
    store: payload = utf-8 bytes of the text, kind cycles by doc_id,
    metadata synthesized from byte length. The downstream pipeline is
    agnostic to where the bytes came from.
    """
    # octet_length, not length: the payload is the utf-8 ENCODING of
    # the text, so byte metadata must count bytes (length() counts
    # characters and diverges on any non-ASCII text)
    n_bytes = F.octet_length(F.col("text")).cast("long")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            n_bytes.alias("n_bytes"),
            (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (n_bytes * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def read_binary_assets(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """Object-store ingestion: ``binaryFile`` source → asset schema.

    The production entry point for real media: Spark's binaryFile
    source reads each object as one row (path, modificationTime,
    length, content) with the bytes staying on executors. asset_id is
    the digits in the filename (upload convention `<id>.<ext>`);
    decode-time metadata (width/height/...) is NULL at ingest — a real
    decode stage (the production replacement for the _decode_payload
    stub) is what would populate it; geometry-dependent stages
    (resize_thumbnails) skip NULL-geometry assets. Ingest never opens
    the payload.
    At 100 TB, parallelism is per-object; pair with
    ``pathGlobFilter`` and partitioned prefixes for pruning.
    """
    raw = spark.read.format("binaryFile").load(path)
    n_bytes = F.col("length").cast("long")
    return raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.\w+$", 1).cast("long").alias("asset_id"),
        F.lit(kind).alias("kind"),
        F.col("content").alias("payload"),
        F.struct(
            n_bytes.alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _decode_payload(payload: bytes, kind: str) -> np.ndarray:
    """Decode bytes → sample array.

    REAL decode would be: PIL.Image.open for images, soundfile/ffmpeg
    for audio/video. Those libs are absent here, so this STUB falls
    back to interpreting the raw bytes as uint8 samples — a
    deterministic fake with the same array-out contract.
    """
    try:  # pragma: no cover - codec libs not installed in this container
        if kind == "image":
            import io

            from PIL import Image  # noqa: F401

            return np.asarray(Image.open(io.BytesIO(payload)), dtype=np.uint8).ravel()
        raise ImportError("no audio/video codec wired up")
    except ImportError:
        # STUB: deterministic fake decode (raw bytes as samples)
        return np.frombuffer(payload, dtype=np.uint8)


def _feature_vector(samples: np.ndarray, n_features: int = N_FEATURES) -> np.ndarray:
    """Normalized byte histogram — a stand-in embedding that is
    deterministic, fixed-width, and cheap."""
    if samples.size == 0:
        return np.zeros(n_features, dtype=np.float32)
    hist, _ = np.histogram(samples, bins=n_features, range=(0, 256))
    return (hist / samples.size).astype(np.float32)


FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_samples", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def extract_features(
    assets: DataFrame,
    decoder: "Callable[[bytes, str], np.ndarray] | None" = None,
) -> DataFrame:
    """mapInPandas decode + featurize: Arrow batches in, Arrow batches
    out, bounded memory per batch, no driver involvement.

    ``decoder`` is the EXPLICIT production seam: any callable ``(payload: bytes, kind: str) -> np.ndarray`` of
    samples — e.g. PIL/ffmpeg wrappers outside this sandbox — drops in
    as a one-line swap; it must be cloudpickle-serializable (a module-
    level function or a closure over picklable state). The default is
    the documented deterministic stub ``_decode_payload`` (raw bytes as
    uint8 samples), which is what every oracle replays bit-for-bit.

    The kernel closes over local copies of the decode/featurize
    helpers so cloudpickle serializes it fully BY VALUE — Python
    workers need no importable copy of this package on their path.
    """
    decode = decoder if decoder is not None else _decode_payload
    featurize, n_features = _feature_vector, N_FEATURES

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            samples = [decode(p, k) for p, k in zip(pdf["payload"], pdf["kind"])]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_samples": [int(s.size) for s in samples],
                    "features": [featurize(s, n_features) for s in samples],
                }
            )

    return assets.mapInPandas(kernel, schema=FEATURES_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(assets: DataFrame, frame_bytes: int = 64, every: int = 4) -> DataFrame:
    """Frame sampling for video assets: split the payload into
    fixed-size chunks, keep every Nth — one output row per frame.

    Real ffmpeg frame extraction drops into `kernel` unchanged; the
    row-explosion shape (1 asset → many frames) is the part Spark has
    to handle, and mapInPandas lets one input batch emit any number of
    output rows."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_frames = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                chunks = [
                    payload[i : i + frame_bytes]
                    for i in range(0, len(payload), frame_bytes)
                ]
                for j, chunk in enumerate(chunks[::every]):
                    out_ids.append(aid)
                    out_idx.append(j)
                    out_frames.append(chunk)
            yield pd.DataFrame(
                {"asset_id": out_ids, "frame_idx": out_idx, "frame": out_frames}
            )

    return assets.filter(F.col("kind") == "video").mapInPandas(
        kernel, schema=FRAMES_SCHEMA
    )


# DuckDB mirror of the deterministic fake decode + featurize path.
# The fake decode reads the utf-8 payload bytes as uint8 samples and
# featurize is a 16-bin histogram over [0,256) — so bin(byte) is
# byte >> 4, which is exactly the FIRST HEX NIBBLE of the byte:
# regexp-dropping every second char of hex(payload) leaves one nibble
# per byte, and each bin count is a per-digit character count. The
# float32 rounding of each histogram entry (numpy .astype(float32))
# is replayed with CAST(... AS FLOAT), and the fold order of the
# feature-mass sum (bins 0..15, double accumulator) is preserved by
# the left-associative + chain.
_HEX_DIGITS = "0123456789ABCDEF"
_MASS_TERMS = " + ".join(
    f"CAST(CAST((length(nib) - length(replace(nib, '{d}', ''))) / n AS FLOAT) AS DOUBLE)"
    for d in _HEX_DIGITS
)
_MM_ORACLE = f"""
WITH b AS (
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n,
           regexp_replace(hex(encode(text)), '(.).', '\\1', 'g') AS nib
    FROM documents
),
m AS (
    SELECT kind, n,
           CASE WHEN n = 0 THEN 0.0 ELSE {_MASS_TERMS} END AS mass
    FROM b
)
SELECT kind,
       CAST(count(*) AS BIGINT)  AS n_assets,
       CAST(sum(n) AS BIGINT)    AS total_samples,
       avg(mass)                 AS avg_feature_mass
FROM m GROUP BY kind
"""


@register(
    "q_multimodal_features_by_kind", oracle=_MM_ORACLE, tags=("multimodal", "pandas-udf")
)
def q_multimodal_features_by_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → binary assets → mapInPandas decode/featurize →
    per-kind profile. The deterministic fake decode contract (raw
    payload bytes as uint8 samples, 16-bin normalized histogram) is
    mirrored bit-for-bit in DuckDB (see _MM_ORACLE), so the whole
    mapInPandas plumbing — binary payloads, Arrow batching, schema —
    is hash-verified end-to-end, not rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(documents_to_assets(docs))
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_samples").alias("total_samples"),
            F.avg(F.expr("aggregate(features, cast(0.0 as double), (a, x) -> a + x)")).alias(
                "avg_feature_mass"
            ),
        )
    )


# DuckDB mirror of the frame-sampling path. sample_frames keeps every
# 4th 64-byte chunk of the payload, i.e. chunks starting at byte
# 0, 256, 512, ... — substr over hex(payload) at 2× offsets replays
# the exact chunking, and each frame's byte checksum is recovered from
# hex-digit counts: byte value = 16·hi_nibble + lo_nibble, so
# sum(bytes) = Σ_d d·(16·count_d(hi) + count_d(lo)).
_FRAME_BYTES = 64
_FRAME_EVERY = 4
_DIGIT_VAL = {d: i for i, d in enumerate("0123456789ABCDEF")}
_BYTESUM_TERMS = " + ".join(
    f"{v} * (16 * (length(hi) - length(replace(hi, '{d}', '')))"
    f" + (length(lo) - length(replace(lo, '{d}', ''))))"
    for d, v in _DIGIT_VAL.items()
    if v > 0
)
_FRAME_ORACLE = f"""
WITH v AS (
    SELECT doc_id AS asset_id, hex(encode(text)) AS h,
           octet_length(encode(text)) AS n
    FROM documents WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0
),
starts AS (
    SELECT asset_id,
           substr(h, 2 * unnest(generate_series(0, n - 1,
                  {_FRAME_BYTES * _FRAME_EVERY})) + 1,
                  {2 * _FRAME_BYTES}) AS fh
    FROM v
),
per_frame AS (
    SELECT asset_id, CAST(length(fh) / 2 AS BIGINT) AS fbytes,
           regexp_replace(fh, '(.).', '\\1', 'g') AS hi,
           regexp_replace(fh, '.(.)', '\\1', 'g') AS lo
    FROM starts
)
SELECT asset_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(fbytes) AS BIGINT) AS frame_bytes,
       CAST(sum({_BYTESUM_TERMS}) AS BIGINT) AS byte_checksum
FROM per_frame GROUP BY asset_id
"""


@register(
    "q_multimodal_frame_digest", oracle=_FRAME_ORACLE, tags=("multimodal", "pandas-udf")
)
def q_multimodal_frame_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video assets → stride frame sampling → per-asset frame count,
    sampled bytes, and byte checksum.

    Hash-verifies the 1-asset→N-frames explosion path end-to-end: the
    mapInPandas chunking in `sample_frames`, binary frame payloads
    through Arrow, and a vectorized pandas_udf digest stand in for
    real ffmpeg frame extraction + per-frame hashing. The oracle
    replays the exact chunk boundaries and checksums from the hex
    encoding of the payload, so any drift in batching or byte
    handling breaks the hash. Scale shape: frames never leave
    executors; the only shuffle carries (asset_id, 3 longs).
    """
    import numpy as np
    import pandas as pd

    @F.pandas_udf("long")
    def byte_sum(frames: pd.Series) -> pd.Series:
        return frames.map(
            lambda b: int(np.frombuffer(b, dtype=np.uint8).sum())
        )

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(
        documents_to_assets(docs), frame_bytes=_FRAME_BYTES, every=_FRAME_EVERY
    )
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame")).alias("frame_bytes"),
        F.sum(byte_sum(F.col("frame"))).alias("byte_checksum"),
    )


# --- resize (thumbnail) stage ----------------------------------------------

THUMB_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("n_thumb_bytes", LongType()),
        StructField("thumb_checksum", LongType()),
    ]
)


def resize_thumbnails(assets: DataFrame) -> DataFrame:
    """Image resize stage: interpret each image payload as a row-major
    ``height x width`` byte grid (width from metadata, height =
    n_bytes div width) and 2x-downsample it by nearest-neighbor stride
    (``grid[::2, ::2]``) — the thumbnail pass of an image-curation
    pipeline.

    Real decode-and-resize (PIL.Image.thumbnail) drops into ``kernel``
    unchanged; what Spark owns — and what this verifies — is the
    plumbing: binary payloads as Arrow columns, metadata-driven per-row
    geometry, bounded-memory batch iteration, fixed-schema manifest
    out. Emits dims + byte checksum, NOT thumbnail bytes: downstream
    dedup/quality passes consume the manifest, and at 100 TB the
    resized payloads would be written straight to an object store from
    the executors, never shuffled.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ows, ohs, nbs, cks = [], [], [], [], []
            for aid, payload, meta in zip(
                pdf["asset_id"], pdf["payload"], pdf["meta"]
            ):
                if meta["width"] is None:
                    # decode-time geometry absent (e.g. raw binaryFile
                    # ingest before a real decode stage) — cannot grid
                    continue
                w = int(meta["width"])
                arr = np.frombuffer(payload, dtype=np.uint8)
                h = len(arr) // w
                if h < 1:
                    continue  # payload smaller than one pixel row
                thumb = arr[: h * w].reshape(h, w)[::2, ::2]
                ids.append(aid)
                ows.append(thumb.shape[1])
                ohs.append(thumb.shape[0])
                nbs.append(int(thumb.size))
                cks.append(int(thumb.astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "out_w": pd.array(ows, dtype="int32"),
                    "out_h": pd.array(ohs, dtype="int32"),
                    "n_thumb_bytes": pd.array(nbs, dtype="int64"),
                    "thumb_checksum": pd.array(cks, dtype="int64"),
                }
            )

    return assets.filter(F.col("kind") == "image").mapInPandas(
        kernel, schema=THUMB_SCHEMA
    )


# DuckDB replay of the thumbnail pass from hex(payload): selected rows
# r = 0, 2, ... are 2w-hex-char slices; within a row, even columns are
# kept by collapsing every 4-hex-char group to its first 2 chars (the
# trailing 2-char remainder of an odd-width row is an even column and
# survives verbatim); the byte checksum is recovered from hex-digit
# counts exactly as in _FRAME_ORACLE.
_THUMB_ORACLE = f"""
WITH g AS (
    SELECT doc_id AS asset_id,
           hex(encode(text)) AS hx,
           CAST(doc_id % 640 + 1 AS BIGINT) AS w,
           octet_length(encode(text)) // (doc_id % 640 + 1) AS h
    FROM documents
    WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= doc_id % 640 + 1
),
rows_ AS (
    SELECT asset_id, w, h,
           substr(hx, 2 * unnest(range(0, h, 2)) * w + 1, 2 * w) AS rowhex
    FROM g
),
sub AS (
    SELECT asset_id, w, h,
           regexp_replace(rowhex, '(..)..', '\\1', 'g') AS evenhex
    FROM rows_
),
per_row AS (
    SELECT asset_id, w, h,
           length(evenhex) // 2 AS n_px,
           regexp_replace(evenhex, '(.).', '\\1', 'g') AS hi,
           regexp_replace(evenhex, '.(.)', '\\1', 'g') AS lo
    FROM sub
)
SELECT asset_id,
       CAST((w + 1) // 2 AS INT)      AS out_w,
       CAST((h + 1) // 2 AS INT)      AS out_h,
       CAST(sum(n_px) AS BIGINT)      AS n_thumb_bytes,
       CAST(sum({_BYTESUM_TERMS}) AS BIGINT) AS thumb_checksum
FROM per_row
GROUP BY asset_id, w, h
"""


@register(
    "q_multimodal_thumbnail_manifest",
    oracle=_THUMB_ORACLE,
    tags=("multimodal", "pandas-udf", "resize"),
)
def q_multimodal_thumbnail_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image assets → mapInPandas 2x nearest-neighbor resize →
    per-asset thumbnail manifest (dims, byte count, checksum).

    Completes the multimodal stage set (decode, featurize, frame
    sampling, RESIZE). The metadata-driven geometry (width from meta,
    height derived from payload length) and the row-major grid
    subsample are replayed positionally from hex(payload) in the
    oracle, so the whole Arrow-batched kernel is hash-verified, not
    rows-only.
    """
    docs = load_table(spark, sf_dir, "documents")
    return resize_thumbnails(documents_to_assets(docs))
