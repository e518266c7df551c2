"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata. The container has no decode libraries, so the decode step is
a clearly-marked deterministic stub — but the Spark-side plumbing (schema,
partitioning, Arrow batch shape, mapInPandas signature) is real and tested.

``documents.text`` stands in for the payload source: we materialize a
``binary`` column (utf-8 bytes) exactly as a real pipeline would carry JPEG
bytes read from object storage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from . import query

FEATURE_DIM = 16


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           source AS container
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque payload: byte length + content digest.
    This is the manifest-building step of a multimodal pipeline — pure
    column expressions, no decode needed."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.col("source").alias("container"),
    )


def decode_image(payload: bytes) -> "object":
    """Decode an image payload → pixel array. STUB: the image libraries
    (Pillow/opencv) are not in this container. A real deployment replaces
    this body with e.g. ``PIL.Image.open(io.BytesIO(payload))``."""
    raise NotImplementedError("image decode requires Pillow/opencv — not in this container")


def resample_audio(payload: bytes, target_hz: int = 16_000) -> "object":
    """Decode + resample an audio payload. STUB: no soundfile/librosa in
    this container; the mapInPandas plumbing (batch shape, binary column,
    typed metadata) is identical to image_features_stub's."""
    raise NotImplementedError("audio decode requires soundfile/librosa — not in this container")


def _byte_histogram(payload: bytes) -> list[float]:
    """Deterministic fake feature extractor standing in for decode →
    resize → embed: a 16-bin byte histogram, L1-normalized. Keeps the
    Arrow batch shape and output schema identical to a real extractor."""
    counts = [0] * FEATURE_DIM
    for b in payload:
        counts[b % FEATURE_DIM] += 1
    total = float(len(payload)) or 1.0
    return [c / total for c in counts]


_FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, bucket int, fraction double"


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one Arrow batch in, 16 histogram rows per input
    row out (long form — comparator-friendly, the shape a feature store
    ingests). At scale each batch is ~10k rows × payload bytes; the
    per-batch loop is where a vectorized decoder (numpy/torch) slots in."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "n_bytes": [], "bucket": [], "fraction": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for b, frac in enumerate(_byte_histogram(payload)):
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                out["bucket"].append(b)
                out["fraction"].append(frac)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "n_bytes": pd.Series(out["n_bytes"], dtype="int64"),
                "bucket": pd.Series(out["bucket"], dtype="int32"),
                "fraction": pd.Series(out["fraction"], dtype="float64"),
            }
        )


FRAME_SIZE = 256  # bytes per fake "frame"
FRAME_STRIDE = 1024


def decode_video_frames(payload: bytes) -> "object":
    """Decode video → frame array. STUB: no av/opencv in this container; a
    real deployment replaces the body with PyAV/ffmpeg frame iteration."""
    raise NotImplementedError("video decode requires av/opencv — not in this container")


def _sample_frames(payload: bytes) -> list[bytes]:
    """Deterministic fake frame sampler standing in for decode →
    every-Nth-frame extraction: fixed-size byte windows at a fixed stride.
    Batch shape and schema identical to a real sampler's output."""
    return [
        payload[off : off + FRAME_SIZE]
        for off in range(0, max(len(payload) - FRAME_SIZE, 0) + 1, FRAME_STRIDE)
    ]


_FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame binary, frame_bytes bigint"


def _extract_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one payload row → 0..n frame rows (the UDTF
    shape — output cardinality differs from input, which is why this is
    mapInPandas and not a scalar pandas_udf)."""
    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "frame": [], "frame_bytes": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for i, frame in enumerate(_sample_frames(payload)):
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame"].append(frame)
                out["frame_bytes"].append(len(frame))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "frame": pd.Series(out["frame"], dtype="object"),
                "frame_bytes": pd.Series(out["frame_bytes"], dtype="int64"),
            }
        )


@query(
    "frame_sample_stub",
    oracle=f"""
    WITH offs AS (
      SELECT doc_id, strlen(text) AS n,
             unnest(range(0, greatest(strlen(text) - {FRAME_SIZE}, 0) + 1,
                          {FRAME_STRIDE})) AS off
      FROM documents
    )
    SELECT doc_id,
           CAST(off / {FRAME_STRIDE} AS INT) AS frame_idx,
           CAST(least({FRAME_SIZE}, n - off) AS BIGINT) AS frame_bytes
    FROM offs
    """,
)
def frame_sample_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-like binary payloads via mapInPandas
    (1 row → n frame rows). The decode is stubbed (decode_video_frames);
    the frame-window arithmetic is real and oracle-checked on
    (doc_id, frame_idx, frame_bytes) — the binary frame column itself is
    dropped for the comparison (DuckDB twin mirrors offsets, not bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    frames = payloads.mapInPandas(_extract_frames, schema=_FRAME_SCHEMA)
    return frames.select("doc_id", "frame_idx", "frame_bytes")


@query(
    "image_features_stub",
    oracle=f"""
    WITH buckets AS (SELECT unnest(range(0, {FEATURE_DIM})) AS bucket),
    chars AS (
      SELECT doc_id, strlen(text) AS n_bytes,
             unicode(text[i:i]) % {FEATURE_DIM} AS bucket
      FROM documents, unnest(range(1, strlen(text) + 1)) AS t(i)
    ),
    counts AS (
      SELECT doc_id, n_bytes, bucket, COUNT(*) AS c
      FROM chars GROUP BY 1, 2, 3
    )
    SELECT d.doc_id, d.n_bytes, CAST(b.bucket AS INT) AS bucket,
           CAST(COALESCE(c.c, 0) AS DOUBLE) / d.n_bytes AS fraction
    FROM (SELECT DISTINCT doc_id, n_bytes FROM counts) d
    CROSS JOIN buckets b
    LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bucket = b.bucket
    """,
)
def image_features_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas (Arrow
    batches). The decode step is stubbed (see decode_image) with a
    deterministic byte-histogram; partitioning: payload-bearing rows are
    repartitioned so batches are balanced regardless of upstream file
    layout — at 100 TB this is the step that sizes GPU/decoder batches.

    Oracle note: the testdata payloads are ASCII, so byte == char ordinal
    and the fake-decode histogram is SQL-expressible — even the Pandas-UDF
    path gets an exact cross-engine check (count/total division is a
    single deterministic float op)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    balanced = payloads.repartition("doc_id")
    return balanced.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA)


@query(
    "payload_byte_stats",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) - strlen(replace(text, ' ', '')) AS BIGINT)
             AS n_spaces
    FROM documents
    """,
)
def payload_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level payload statistics through mapInArrow — the RecordBatch
    API whose point is binary-heavy columns: bytes go Arrow→Arrow through
    vectorized pyarrow.compute kernels with NO pandas materialization (a
    pandas round-trip copies every payload into Python objects; at 100 TB
    of media that copy is the pipeline's bottleneck)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def _stats(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            payload = b.column("payload")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.binary_length(payload).cast(pa.int64()),
                    pc.count_substring(
                        payload.cast(pa.string()), pattern=" "
                    ).cast(pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_spaces"],
            )

    return docs.mapInArrow(
        _stats, schema="doc_id bigint, n_bytes bigint, n_spaces bigint"
    )


_AUDIO_FRAME = 128  # samples per fake PCM frame
_AUDIO_CENTER = 100  # DC offset of the fake PCM mapping


@query(
    "audio_energy_stub",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, CAST(off // {_AUDIO_FRAME} AS BIGINT) AS frame_idx,
             substring(text, off + 1, {_AUDIO_FRAME}) AS fr
      FROM documents, unnest(range(0, length(text), {_AUDIO_FRAME})) AS t(off)
    )
    SELECT doc_id, frame_idx, CAST(length(fr) AS BIGINT) AS n_samples,
           ROUND(sqrt(CAST(list_sum(list_transform(range(1, length(fr) + 1),
                    i -> CAST(ascii(substring(fr, i, 1)) - {_AUDIO_CENTER} AS BIGINT)
                         * (ascii(substring(fr, i, 1)) - {_AUDIO_CENTER})))
                 AS DOUBLE) / CAST(length(fr) AS DOUBLE)), 6) AS rms_energy
    FROM f
    """,
)
def audio_energy_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame RMS energy over an opaque audio payload — the third
    modality's plumbing (image = features, video = frames, audio =
    windowed signal stats). The real decode is `resample_audio` above
    (an honest NotImplementedError stub); the deterministic stand-in
    maps each code point to a fake PCM sample (ord(c) − 100) and frames
    the stream at 128 samples. The SUM of squares per frame is exact
    integers; sqrt + one division at the end, rounded — so the oracle
    replays it bit-for-bit. mapInPandas kernel: 1 payload row → n frame
    rows, dict state per Arrow batch, same shape a librosa/torchaudio
    kernel would fill; frames never cross a shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "n_samples": [],
                "rms_energy": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                chars = bytes(payload).decode("utf-8")
                for idx in range(0, (len(chars) + _AUDIO_FRAME - 1) // _AUDIO_FRAME):
                    fr = chars[idx * _AUDIO_FRAME : (idx + 1) * _AUDIO_FRAME]
                    ss = sum((ord(c) - _AUDIO_CENTER) ** 2 for c in fr)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["n_samples"].append(len(fr))
                    out["rms_energy"].append(round((ss / len(fr)) ** 0.5, 6))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int64"),
                    "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                    "rms_energy": pd.Series(out["rms_energy"], dtype="float64"),
                }
            )

    return src.mapInPandas(
        _frames, schema="doc_id bigint, frame_idx bigint, n_samples bigint, rms_energy double"
    )
