"""Streaming product-quantization gate: encode arriving embedding rows
to their m-byte PQ codes LIVE, against a codebook fitted once batch-side.

The batch encode (``operators/similarity.pq_encode``) is a pure function
of the ROW (its own vector) and the FIXED codebook, so the streaming
form is the stateless map-only Arrow gate of
``streaming/decontam.py``: fit once on a corpus snapshot
(``pq_sample_codebook`` — deterministic md5-bottom-k, so refitting on
the same snapshot reproduces the same codebook), project live, no state
store, no watermark, no shuffle. Exactly-once and kill/resume come for
free from the source/sink contract — a replayed row re-encodes to the
same codes because everything is exact int64.

At 10^12-sequence scale this is the ingest-side indexer: vectors arrive,
8 bytes of codes leave for the ANN index, and the 32×-smaller code
column is what downstream ``pq_topk`` scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bistro_spark.operators.similarity import pq_encode


def pq_gate(
    df: DataFrame,
    codebook: list,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
    keep: list[str] | None = None,
) -> DataFrame:
    """Append ``codes array<int>`` to a batch OR streaming DataFrame:
    the batch ``pq_encode`` kernel (per-subspace exact-int64 argmin
    against the closed-over codebook), which is a pure projection.
    ``keep`` lists passthrough columns for the downstream sink."""
    return pq_encode(df, codebook, m, id_col, vec_col, scale, keep=keep)
