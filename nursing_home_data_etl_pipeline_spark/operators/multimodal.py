"""Multimodal (binary) column operators (north star): payloads are opaque
``BinaryType`` columns + a typed metadata struct; all per-item processing
runs Arrow-batched over ``mapInArrow`` — bytes never leave Arrow buffers.
``mapInArrow``, NOT ``mapInPandas`` (round-8, execution-confirmed): the
pandas boundary turns one NULL doc_id into a float64 batch, corrupting
ids above 2^53 and conflating NULL with NaN — Arrow int64 passes through
exact. A deterministic fake decoder exercises the full plumbing; a real
codec is the same mapInArrow shape. Full notes:
docs/DESIGN.md#multimodal-module."""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of the (fake) decoder — what a real image decode would
#: produce: dimensions + a small feature header.
DECODE_SCHEMA = (
    "doc_id long, n_bytes long, header_hex string, fake_width int, fake_height int"
)


def with_binary_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Model a multimodal table: payload bytes + metadata struct. (Test data
    has no real media, so the payload is the UTF-8 text — the engine-side
    handling is identical for real image/audio bytes.)"""
    payload = F.col(text_col).cast("binary")
    meta = F.struct(
        F.lit("application/octet-stream").alias("mime"),
        F.length(payload).alias("n_bytes"),
        F.lit("synthetic").alias("source"),
    )
    return df.select(F.col(id_col), payload.alias("payload"), meta.alias("meta"))


def _cols(batch: pa.RecordBatch, *names: str) -> list[pa.Array]:
    return [batch.column(batch.schema.get_field_index(n)) for n in names]


def decode_fake(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake decode over mapInArrow: per-batch ops on the raw
    bytes (length, 8-byte header hex, fake dimensions derived from byte
    content). Exercises the exact plumbing a real decoder uses; the id
    column passes through as an Arrow int64 array, never a pandas double.
    """

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids, payload_arr = _cols(batch, id_col, "payload")
            payload = payload_arr.to_pylist()
            # NULL payload (row never had media attached) decodes to NULL
            # metadata — distinct from an EMPTY payload (0 bytes, header "").
            n_bytes = [len(b) if b is not None else None for b in payload]
            yield pa.RecordBatch.from_arrays(
                [
                    ids.cast(pa.int64()),
                    pa.array(n_bytes, pa.int64()),
                    pa.array(
                        [b[:8].hex() if b is not None else None for b in payload],
                        pa.string(),
                    ),
                    pa.array(
                        [n % 640 if n is not None else None for n in n_bytes],
                        pa.int32(),
                    ),
                    pa.array(
                        [
                            (b[0] if len(b) else 0) if b is not None else None
                            for b in payload
                        ],
                        pa.int32(),
                    ),
                ],
                names=["doc_id", "n_bytes", "header_hex", "fake_width", "fake_height"],
            )

    return df.mapInArrow(decode, schema=DECODE_SCHEMA)

