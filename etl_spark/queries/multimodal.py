"""Multimodal-column queries: binary payloads + Arrow-batched
mapInPandas kernels (operators/multimodal.py). The "image decode" is a
deterministic fake-header parse (the engine carries no codec
dependency); the Spark plumbing
(BinaryType columns, mapInPandas batch shape, 1->N frame fan-out,
typed output schemas) is real and oracle-checked via md5 arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_spark.operators import multimodal as M
from etl_spark.queries import query
from etl_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# One driver row for BOTH multimodal kernels since r4 (gate-slot cap):
# the per-doc metadata kernel (extract_meta) and the 1->N frame-sampling
# kernel (sample_frames) joined on doc_id, so each kernel's output is
# still independently hash-proven — a wrong width or a wrong frame_md5
# each break the row hash on their own.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_frames",
    # Byte-true for ANY UTF-8 content: frames are sliced on the
    # lowercase-hex encoding (2 chars == 1 byte, plain ASCII), so
    # char-based substr reproduces the kernel's byte slicing exactly;
    # the fingerprint on both sides is md5(hex-of-chunk). A raw
    # substr(text, ...) would slice CHARACTERS and silently diverge
    # from the kernel on the first multi-byte document.
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             strlen(text)::INT AS n_bytes,
             md5(text) AS payload_md5,
             (1 + ('0x' || substr(md5(text), 1, 3))::BIGINT % 1024)::INT AS width,
             (1 + ('0x' || substr(md5(text), 4, 3))::BIGINT % 1024)::INT AS height
      FROM documents
    ),
    frames AS (
      SELECT doc_id,
             lower(hex(encode(text))) AS hx,
             octet_length(encode(text)) AS fr_bytes,
             unnest(range(0, greatest(
               ceil(octet_length(encode(text)) / {M.FRAME_BYTES}.0)::BIGINT, 1
             ))) AS frame_no
      FROM documents
      WHERE text IS NOT NULL
    )
    SELECT m.doc_id, m.n_bytes, m.payload_md5, m.width, m.height,
           f.frame_no::INT AS frame_no,
           least({M.FRAME_BYTES}, f.fr_bytes - f.frame_no * {M.FRAME_BYTES})::INT AS frame_len,
           md5(substr(f.hx, (f.frame_no * {2 * M.FRAME_BYTES} + 1)::INT,
                      {2 * M.FRAME_BYTES})) AS frame_md5
    FROM meta m JOIN frames f USING (doc_id)
    """,
)
def mm_decode_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both multimodal kernels, one result: per-doc metadata via
    mapInPandas (payload size, md5, header-derived dimensions — fake
    parser standing in for the codec) joined to the frame sampling
    fan-out (each payload -> fixed-size chunks, output rows > input
    rows, handled natively by the Arrow iterator contract). One Arrow
    batch per task — no per-row serialization. Null text contributes
    no frames (on both twins)."""
    d = load_table(spark, sf_dir, "documents")
    payload = M.with_binary_payload(d)
    meta = M.extract_meta(payload, "doc_id")
    frames = M.sample_frames(payload, "doc_id")
    return meta.join(frames, "doc_id")
