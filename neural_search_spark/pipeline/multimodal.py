"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference's multimodal surface (`processor/TextImageEmbeddingProcessor.java:42`)
sends image bytes to an external model; the decode itself is out of scope
here (no image/audio libs in this container — see :func:`decode_image_stub`).
What IS real and tested is the Spark-side plumbing a 100 TB multimodal
pipeline needs:

- an opaque `binary` column with typed metadata alongside it,
- Arrow-batched `mapInPandas` feature extraction with a stable schema
  (the batch shape a real decoder would slot into),
- declarative frame/offset sampling (`F.sequence` + `explode`, JVM-side).

The deterministic "features" (byte length + md5-prefix checksum) stand in
for real decoded features so the whole path is oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

BINARY_META_SCHEMA = StructType(
    [
        StructField("docID", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("checksum", LongType(), False),
    ]
)


def with_binary_payload(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """Attach an opaque binary column (utf-8 payload standing in for
    image/audio bytes) plus typed metadata — the multimodal table shape."""
    return df.select(
        F.col(id_col).alias("docID"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def decode_image_stub(payload: bytes) -> "object":
    """REAL image decode would live here (PIL/libvips); the container has
    no image libraries, so this is a clearly-marked stub. The Spark-side
    batch plumbing around it (`extract_binary_features`) is real."""
    raise NotImplementedError(
        "image decode requires an image library not present in this environment; "
        "plug a decoder into extract_binary_features' per-batch loop"
    )


def rechunk_ingest_batches(
    batches: Iterator[pd.DataFrame],
    batch_size: int,
    sort_by_length: str | None = None,
) -> Iterator[pd.DataFrame]:
    """Re-chunk Arrow batches into model micro-batches of at most
    ``batch_size`` rows — the Spark analog of the reference's ingest
    sub-batching (``processor/InferenceProcessor.java:199-229`` cuts the
    doc list into ``semantic_ingest_batch_size`` slices per model call).
    Arrow hands `mapInPandas` ~10k-row batches; a model server has its own
    max batch, so the loop slices before each "inference" call.

    ``sort_by_length``: name of a text/bytes column to STABLY sort each
    Arrow batch by element length before slicing — the reference's
    padding-waste optimization
    (``InferenceProcessor.sortByLengthAndReturnOriginalOrder``,
    ``doSubBatchExecute`` at ``InferenceProcessor.java:217-229``): every
    model call then sees similar-length inputs, so a real batched model
    pads far less. The reference restores original list order afterwards
    (``restoreToOriginalOrder``) because ingest-document lists are
    positional; DataFrame rows are unordered and every result row carries
    its id, so no restore step exists to get wrong here."""
    for pdf in batches:
        if sort_by_length is not None and len(pdf) > 1:
            order = pdf[sort_by_length].map(len).argsort(kind="stable")
            pdf = pdf.iloc[order]
        for start in range(0, len(pdf), batch_size):
            yield pdf.iloc[start : start + batch_size]


def extract_binary_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    (docID, payload, meta) → (docID, n_bytes, checksum). A real decoder
    replaces the checksum with decoded features; batch shape, schema and
    partitioning are exactly what that decoder would need. Each model
    micro-batch is capped at the ``semantic_ingest_batch_size`` setting
    (``settings/NeuralSearchSettings.java`` intSetting default 10, 1..100).
    """
    from neural_search_spark import settings

    batch_size = settings.get("semantic_ingest_batch_size")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in rechunk_ingest_batches(batches, batch_size, sort_by_length="payload"):
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "docID": pdf["docID"].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "checksum": payloads.map(
                        lambda b: int(hashlib.md5(bytes(b)).hexdigest()[:8], 16)
                    ).astype("int64"),
                }
            )

    return binary_df.select("docID", "payload").mapInPandas(_extract, BINARY_META_SCHEMA)


def binary_meta_features(binary_df: DataFrame) -> DataFrame:
    """JVM-native twin of :func:`extract_binary_features` for the
    deterministic stand-in features: ``n_bytes`` is ``octet_length`` and
    the md5-prefix checksum is ``conv(substr(md5(payload), 1, 8), 16, 10)``
    — the identical values, computed without crossing the Python boundary
    (guide rule: built-ins over UDFs when the function exists; the
    micro-batched Arrow path above remains the slot a REAL decoder plugs
    into, and stays covered by the ingest-batching tests)."""
    return binary_df.select(
        F.col("docID"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.conv(F.substring(F.md5(F.col("payload")), 1, 8), 16, 10)
        .cast("long")
        .alias("checksum"),
    )


TEXT_DIMS = 8  # text sub-vector (same stand-in as pipeline/embedding.py)
IMAGE_DIMS = 4  # image sub-vector: one dim per checksum byte


def text_image_embedding_stub(
    df: DataFrame,
    text_col: str = "content",
    payload_col: str = "payload",
    id_col: str = "docID",
) -> DataFrame:
    """``text_image_embedding`` processor stand-in
    (``processor/TextImageEmbeddingProcessor.java:42-55``: ONE joint
    embedding from the ``{text, image}`` field map — not two separate
    vectors). The model is deterministic so both engines agree exactly:

    - text sub-vector: bag of ``len(token) % 8`` counts (the shared text
      stand-in);
    - image sub-vector: the 4 bytes of the payload's 32-bit md5-prefix
      checksum (the binary feature the decode stub exposes);
    - joint vector: the 12 dims L2-normalized TOGETHER (one embedding).

    Everything is JVM-side column algebra (hash, shifts, explode) — a real
    multimodal model drops in as an Arrow UDF over the same (text, payload)
    batch shape. Returns long form (docID, dim, value) for the oracle gate.
    """
    from neural_search_spark import stats as _stats
    from neural_search_spark.analysis.tokenizer import analyzed_tokens

    _stats.record_event("text_image_embedding_executions")
    toks = analyzed_tokens(text_col)
    tcnt = (
        df.select(F.col(id_col).alias("docID"), F.explode(toks).alias("term"))
        .groupBy("docID", (F.length("term") % TEXT_DIMS).cast("int").alias("dim"))
        .agg(F.count("*").cast("double").alias("v"))
    )
    checksum = F.conv(F.substring(F.md5(F.col(payload_col)), 1, 8), 16, 10).cast("long")
    img_vals = F.array(
        *[
            F.shiftright(checksum, 8 * j).bitwiseAND(F.lit(255)).cast("double")
            for j in range(IMAGE_DIMS)
        ]
    )
    icnt = df.select(
        F.col(id_col).alias("docID"), F.posexplode(img_vals).alias("_j", "v")
    ).select("docID", (F.col("_j") + TEXT_DIMS).cast("int").alias("dim"), "v")
    long = tcnt.unionByName(icnt)
    nrm = long.groupBy("docID").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    return (
        long.join(nrm, "docID")
        .select(
            "docID",
            "dim",
            F.round(
                F.when(F.col("nrm") > 0, F.col("v") / F.col("nrm")).otherwise(F.lit(0.0)), 6
            ).alias("value"),
        )
    )


def frame_sample(
    binary_df: DataFrame, frame_stride: int = 64, max_frames: int = 16
) -> DataFrame:
    """Declarative frame/offset sampling: every `frame_stride` bytes, up
    to `max_frames` offsets per payload — the video-frame-sampling plan
    shape (JVM-side sequence + explode; no Python)."""
    n = F.col("meta.n_bytes")
    n_frames = F.least(
        F.floor((n + frame_stride - 1) / frame_stride), F.lit(max_frames)
    ).cast("int")
    offs = F.when(n_frames > 0, F.sequence(F.lit(0), n_frames - 1)).otherwise(
        F.expr("CAST(array() AS array<int>)")
    )
    return binary_df.select(
        "docID", F.posexplode(offs).alias("frame_idx", "_i")
    ).select(
        "docID",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        (F.col("_i").cast("long") * frame_stride).alias("byte_offset"),
    )
