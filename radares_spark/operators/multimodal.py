"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / audio / video ride through the engine as ``binary`` columns
with typed metadata structs, processed by Arrow-batched pandas UDFs
over ``mapInPandas``. The decode libraries (PIL / ffmpeg / torchcodec)
are not in this container, so the decode step is a clearly-marked
deterministic stub (`inspect_features`) — but everything Spark
cares about is real and tested: the binary schema, the mapInPandas
batch shape, the partitioning, and the metadata projection.

At 100 TB: binary payloads dominate bytes, so the layout rule is
metadata and payload in the same row-group with payload-column lazy
materialization (Parquet does this for free when filters touch only
metadata columns) — queries that filter on metadata never read the
bytes (column pruning), and decode UDFs run on the pruned survivors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.registry import register

INSPECT_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, channels int, mean_luma double, "
    "payload_md5 string, magic string"
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Stand-in ingestion: encode the text column as the opaque binary
    payload (real pipelines land bytes via ``binaryFile`` source —
    radares_spark.io.ingest uses the same reader for xlsx)."""
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"), "source", "lang"
    )


def inspect_features(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB decoder + metadata (content hash / magic prefix) in the
    same Arrow pass — the registered ``multimodal_inspect`` shape: one
    scan, one mapInPandas, no second metadata projection or join.

    A real implementation decodes image bytes (PIL / libvips) and
    emits width/height/channels/feature stats. The container has no
    image libs, so this derives the same-shaped features
    deterministically from the payload's md5 — the Spark-side contract
    (Arrow batches in, typed rows out, one output row per input row)
    is exactly what a real decoder uses. Swap the body, keep the plan.
    """
    import hashlib

    for pdf in it:
        h = pdf["payload"].map(lambda b: hashlib.md5(bytes(b)).hexdigest())
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_bytes": pdf["payload"].map(len).astype("int32"),
            "width": (h.map(lambda x: int(x[0:4], 16)) % 1920 + 1).astype("int32"),
            "height": (h.map(lambda x: int(x[4:8], 16)) % 1080 + 1).astype("int32"),
            "channels": (h.map(lambda x: int(x[8], 16)) % 3 + 1).astype("int32"),
            "mean_luma": (h.map(lambda x: int(x[9:13], 16)) / 65535.0).round(6),
            "payload_md5": h,
            "magic": h.str[:8],
        })


@register(
    "multimodal_inspect",
    oracle="""
    SELECT doc_id,
           octet_length(text::BLOB) AS n_bytes,
           (('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 + 1)::INT AS width,
           (('0x' || substr(md5(text), 5, 4))::BIGINT % 1080 + 1)::INT AS height,
           (('0x' || substr(md5(text), 9, 1))::BIGINT % 3 + 1)::INT    AS channels,
           round(('0x' || substr(md5(text), 10, 4))::BIGINT / 65535.0, 6) AS mean_luma,
           md5(text)                 AS payload_md5,
           substr(md5(text), 1, 8)   AS magic
    FROM documents
    """,
    survey="multimodal (binary column metadata + mapInPandas decode "
    "pipeline, one Arrow pass)",
    doc="The multimodal inspection pipeline end-to-end: binary payload "
    "-> mapInPandas Arrow batches -> typed feature rows (decode stats) "
    "PLUS payload metadata (content hash, magic prefix) in the same "
    "pass — one scan, no metadata/decode join. Decode kernel is a "
    "deterministic md5-derived stub (no image libs in container) so "
    "the oracle can verify the full Spark plumbing; a real decoder "
    "swaps the kernel body only. At scale, metadata-only consumers "
    "use the pure-column projection (with_binary_payload + length/md5 "
    "expressions) so payload bytes never materialize for filtered "
    "rows.",
)
def multimodal_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_binary_payload(docs).mapInPandas(inspect_features, schema=INSPECT_SCHEMA)
