"""Streaming decontamination gate: drop (or flag) eval-set-contaminated
documents on a LIVE ingest stream.

The batch scan (``operators/curation.contamination``) counts each train
document's n-gram collisions against a broadcast eval-gram set — and
that count is a pure function of the ROW (its own grams) and the FIXED
eval set, so the streaming form is a stateless map-only Arrow gate: fit
once batch-side, project live, no state store, no watermark, no
shuffle.

The kernel reproduces ``dedup.ngram_set``'s gram definition exactly —
consecutive word n-grams of the space-split text, hashed to the first 8
md5 hex digits as BIGINT — so the gate's collision count EQUALS the
batch operator's for every document (pytest-pinned, including the gram
hashing and the <n-words empty-set contract).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def fit_eval_grams(
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 13,
    max_grams: int = 50_000_000,
) -> frozenset:
    """Collect the eval set's distinct hashed n-grams driver-side —
    eval sets are benchmark-sized (thousands of documents), guarded by
    ``max_grams``; on a real cluster the set ships once per executor
    via the closure, like the tokenizer vocabularies."""
    from bistro_spark.operators.dedup import ngram_set

    rows = (
        eval_df.select(
            F.explode(ngram_set(F.col(text_col), n=n)).alias("g")
        )
        .distinct()
        .collect()
    )
    if len(rows) > max_grams:
        raise ValueError(
            f"eval-gram set has {len(rows)} grams > max_grams="
            f"{max_grams}; shard the eval set"
        )
    return frozenset(int(r["g"]) for r in rows)


def _gram_hashes(text: str, n: int) -> set:
    words = (text or "").split(" ")
    if len(words) < n:
        return set()
    out = set()
    for i in range(len(words) - n + 1):
        g = " ".join(words[i : i + n])
        out.add(int(hashlib.md5(g.encode()).hexdigest()[:8], 16))
    return out


def decontam_gate(
    df: DataFrame,
    eval_grams: frozenset,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    keep: list[str] | None = None,
) -> DataFrame:
    """Append ``n_collisions`` (distinct own-grams hitting the eval set)
    to a batch OR streaming DataFrame — map-only Arrow projection.
    Filter ``n_collisions == 0`` for the clean stream; keep the rest for
    the audit sink."""
    grams = eval_grams
    n_ = int(n)

    @pandas_udf("long")
    def _collide(texts: pd.Series) -> pd.Series:
        return pd.Series(
            np.array(
                [len(_gram_hashes(t, n_) & grams) for t in texts],
                dtype="int64",
            )
        )

    cols = [id_col] + (keep or [])
    return df.select(*cols, _collide(F.col(text_col)).alias("n_collisions"))
