"""Multimodal-column plumbing: image/audio/video payloads as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` kernels.

The Spark-side machinery — schema, batch shape, partitioning, UDF
signatures — is real and tested; the media decode is a deterministic
fake header parse (``parse_fake_header``), so the engine carries no
codec dependency and the pipeline is end-to-end runnable and
oracle-checkable. This mirrors how the engine
treats html (BinaryType payload + vectorized kernel,
functions/extract.py) — same slot, different media type.

Metadata derivation is md5-arithmetic over the payload bytes, portable
to the SQL oracle twin (queries/multimodal.py).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FRAME_BYTES = 64  # fixed "frame" size for the chunker

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_len", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def dims_from_digest(h: str) -> tuple[int, int]:
    """Fake dimensions from an already-computed payload md5 — split out
    so callers that hash the payload anyway never hash it twice (md5
    over the full payload is the kernel's dominant per-row cost)."""
    return 1 + int(h[:3], 16) % 1024, 1 + int(h[3:6], 16) % 1024


def parse_fake_header(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for a header parse: dimensions derived
    from the payload's md5 (portable to the SQL oracle)."""
    return dims_from_digest(hashlib.md5(payload).hexdigest())


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build the multimodal table: utf-8 payload bytes (the stand-in
    for raw image/audio bytes) + a media-type tag."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_type", F.lit("fake/image")
    )


def extract_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched metadata extraction over the binary column.

    mapInPandas: each Arrow batch arrives as a pandas DataFrame; the
    kernel is vectorized per batch (hashlib per row is the stand-in for
    a real decoder call — still batch-amortized, never per-row Python
    *serialization*)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # na_action='ignore' everywhere: a null payload (null source
            # text — a real corpus case) yields a row with null meta,
            # matching the oracle's SQL-null propagation, instead of a
            # TypeError killing the task. One md5 per payload; dims are
            # derived from the same digest.
            md5s = payloads.map(
                lambda b: hashlib.md5(b).hexdigest(), na_action="ignore"
            )
            dims = md5s.map(dims_from_digest, na_action="ignore")
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(pdf[id_col], dtype="Int64"),
                    "n_bytes": pd.array(
                        payloads.map(len, na_action="ignore"), dtype="Int32"
                    ),
                    "payload_md5": md5s,
                    "width": pd.array(
                        dims.map(lambda t: t[0], na_action="ignore"),
                        dtype="Int32",
                    ),
                    "height": pd.array(
                        dims.map(lambda t: t[1], na_action="ignore"),
                        dtype="Int32",
                    ),
                }
            )

    return df.select(id_col, "payload").mapInPandas(kernel, META_SCHEMA)


def sample_frames(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Frame sampling: split each payload into fixed-size chunks, one
    output row per chunk (the video-frame-sample shape: one input row
    fans out to many). mapInPandas handles the 1->N fan-out naturally —
    each yielded DataFrame may be longer than its input batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, lens, md5s = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                if payload is None:
                    continue  # null payload contributes no frames
                n_frames = max(1, math.ceil(len(payload) / FRAME_BYTES))
                for i in range(n_frames):
                    chunk = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    ids.append(doc_id)
                    frame_nos.append(i)
                    lens.append(len(chunk))
                    # Fingerprint = md5 of the chunk's LOWERCASE HEX, not
                    # of the raw bytes: the SQL oracle twin has no BLOB
                    # md5/slicing, but hex(encode(text)) is an ASCII
                    # string where 2 chars == 1 byte, so char-based
                    # substr reproduces byte slicing exactly for ANY
                    # UTF-8 content (raw-bytes hashing was only
                    # oracle-reproducible for pure-ASCII corpora).
                    md5s.append(hashlib.md5(chunk.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "frame_no": pd.Series(frame_nos, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_md5": pd.Series(md5s, dtype="object"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(kernel, FRAME_SCHEMA)
