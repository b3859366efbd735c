"""Streaming twin of the Kneser-Ney LM scorer
(``operators/curation.kneser_ney_logprob``): fit the model ONCE on a
reference corpus (four vocabulary-sized integer aggregates), then score
arriving documents with a map-only Arrow kernel — a stateless gate, the
same contract as ``streaming/pack.streaming_encode_gate``.

Why a fixed-model twin at all: the batch scorer is corpus-fit (it scores
the same corpus the counts came from, so every bigram is seen — that is
what makes it exactly SQL-oracle-able). A live ingest gate scores text
the model has NEVER seen, which is precisely the case Kneser-Ney
smoothing exists for. OOV semantics here (documented, deterministic):

- seen history w1:  p = (max(c-D,0) + D*N1+(w1,.)*pcont(w2)) / h(w1)
  — c=0 for an unseen bigram, leaving only the interpolation mass;
- unseen history w1: back off to the continuation unigram pcont(w2);
- pcont(w2) = N1+(.,w2)/T for seen w2, else 0.5/T (half a type — the
  standard "count of things never seen" stand-in, kept integer-exact).

**Parity anchor (pytest-pinned):** scoring the TRAINING corpus with the
fixed model equals the hash-checked batch scorer exactly — every bigram
is then seen with a seen history, so the kernel evaluates the identical
expression; per-pair logs are rounded to 9 digits and summed as scaled
integers (exact), matching the engine's decimal-sum discipline.

Scale: the model is bigram-TYPE-sized, not corpus-sized (guarded by
``max_types``); on a real cluster it ships once per executor via the
closure like the tokenizer vocabularies. Scoring fuses into the source
scan — no state store, no watermark, no shuffle.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from bistro_spark.operators.curation import word_ngrams


def fit_kn_model(
    df: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    max_types: int = 5_000_000,
) -> dict:
    """Collect the four Kneser-Ney sufficient statistics driver-side:
    bigram counts, per-history (total, distinct-successor) counts,
    per-word distinct-predecessor counts, and the bigram-type total.
    All are type-vocabulary-sized; ``max_types`` raises with sizing
    guidance instead of materializing an unboundedly large model."""
    pairs = word_ngrams(df, 2, text_col)
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c"))
        .collect()
    )
    if len(bc) > max_types:
        raise ValueError(
            f"KN model has {len(bc)} bigram types > max_types={max_types}; "
            "prune the corpus (e.g. frequency-threshold the vocabulary) or "
            "raise max_types if the driver/executors can hold the model"
        )
    bcd: dict[tuple[str, str], int] = {}
    hc: dict[str, int] = {}
    n1fw: dict[str, int] = {}
    n1bw: dict[str, int] = {}
    for r in bc:
        bcd[(r["w1"], r["w2"])] = r["c"]
        hc[r["w1"]] = hc.get(r["w1"], 0) + r["c"]
        n1fw[r["w1"]] = n1fw.get(r["w1"], 0) + 1
        n1bw[r["w2"]] = n1bw.get(r["w2"], 0) + 1
    return {
        "bc": bcd,
        "hc": hc,
        "n1fw": n1fw,
        "n1bw": n1bw,
        "tt": len(bcd),
        "discount": float(discount),
    }


def kn_score_fixed(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: list[str] | None = None,
) -> DataFrame:
    """Score a (batch or streaming) DataFrame against a fixed KN model:
    one Arrow-batched pandas UDF, pure projection — Structured Streaming
    accepts it with no state store or watermark. Docs with <2 words
    score NULL (same absence contract as the batch scorer, kept as an
    explicit row here so a streaming sink never drops arrivals)."""
    bc, hc = model["bc"], model["hc"]
    n1fw, n1bw = model["n1fw"], model["n1bw"]
    tt, d = model["tt"], model["discount"]

    @pandas_udf("struct<n_bigrams: long, mean_logprob: double>")
    def _score(texts: pd.Series) -> pd.DataFrame:
        q9, q6 = Decimal(1), Decimal("0.000001")
        ns, means = [], []
        for t in texts:
            # consecutive non-empty pairs, matching the engine's
            # split-then-filter semantics (a doubled space kills both
            # pairs touching the empty token)
            raw = (t or "").split(" ")
            prs = [
                (raw[i], raw[i + 1])
                for i in range(len(raw) - 1)
                if raw[i] != "" and raw[i + 1] != ""
            ] if len(raw) >= 2 else []
            if not prs:
                ns.append(None)
                means.append(None)
                continue
            total = 0  # scaled-integer sum of 9-digit-rounded logs
            for w1, w2 in prs:
                pcont = (n1bw.get(w2, 0) or 0.5) / tt
                h = hc.get(w1)
                if h is None:
                    p = pcont
                else:
                    p = (
                        max(bc.get((w1, w2), 0) - d, 0.0)
                        + d * n1fw[w1] * pcont
                    ) / h
                # HALF_UP at 9 digits on the double's exact binary
                # expansion — bit-for-bit what F.round(log, 9) does
                total += int(
                    Decimal(math.log(p)).scaleb(9).quantize(q9, ROUND_HALF_UP)
                )
            ns.append(len(prs))
            mean = total / 1e9 / len(prs)
            means.append(
                float(Decimal(mean).quantize(q6, ROUND_HALF_UP))
            )
        return pd.DataFrame({
            "n_bigrams": pd.array(ns, dtype="Int64"),
            "mean_logprob": np.array(means, dtype="float64"),
        })

    cols = [id_col] + (keep or [])
    out = df.select(*cols, _score(F.col(text_col)).alias("_s"))
    return out.select(
        *cols, F.col("_s.n_bigrams").alias("n_bigrams"),
        F.col("_s.mean_logprob").alias("mean_logprob"),
    )


# ------------------------------------------------- trigram fixed model ----


def fit_kn3_model(
    df: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    max_types: int = 5_000_000,
) -> dict:
    """Collect the Kneser-Ney TRIGRAM sufficient statistics driver-side
    (the ``operators/curation.kneser_ney3_logprob`` model): trigram
    counts, per-(w1,w2) history totals + distinct-successor counts, the
    (w2,w3) continuation type table with its per-w2 totals, and the
    continuation-unigram counts — all trigram-TYPE-sized, guarded by
    ``max_types``."""
    triples = word_ngrams(df, 3, text_col)
    tc = (
        triples.groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("long").alias("c"))
        .collect()
    )
    if len(tc) > max_types:
        raise ValueError(
            f"KN3 model has {len(tc)} trigram types > max_types="
            f"{max_types}; prune the corpus or raise max_types"
        )
    tcd: dict = {}
    h12: dict = {}
    n1fw12: dict = {}
    m: dict = {}
    for r in tc:
        k = (r["w1"], r["w2"], r["w3"])
        tcd[k] = r["c"]
        h12[(r["w1"], r["w2"])] = h12.get((r["w1"], r["w2"]), 0) + r["c"]
        n1fw12[(r["w1"], r["w2"])] = n1fw12.get((r["w1"], r["w2"]), 0) + 1
        m[(r["w2"], r["w3"])] = m.get((r["w2"], r["w3"]), 0) + 1
    mh: dict = {}
    n1fw2c: dict = {}
    bw: dict = {}
    for (w2, w3), cnt in m.items():
        mh[w2] = mh.get(w2, 0) + cnt
        n1fw2c[w2] = n1fw2c.get(w2, 0) + 1
        bw[w3] = bw.get(w3, 0) + 1
    return {
        "tc": tcd,
        "h12": h12,
        "n1fw12": n1fw12,
        "m": m,
        "mh": mh,
        "n1fw2c": n1fw2c,
        "bw": bw,
        "tt": len(m),
        "discount": float(discount),
    }


def kn3_score_fixed(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: list[str] | None = None,
) -> DataFrame:
    """Score a (batch or streaming) DataFrame against a fixed trigram KN
    model — map-only Arrow projection, no state store, no watermark.
    OOV backoff chain (documented, deterministic, never -inf):

    - unseen w3 type: continuation unigram gets half a type (0.5/T);
    - unseen middle w2: back off to the continuation unigram;
    - unseen (w1,w2) history: back off to p_bi(w3|w2);
    - seen history, unseen trigram: interpolation mass only (c=0).

    Parity anchor (pytest-pinned): on the TRAINING corpus every level is
    seen, so the kernel reproduces the hash-checked batch scorer exactly
    (HALF_UP scaled-integer sums at 9 digits, mean rounded at 6)."""
    tcd, h12 = model["tc"], model["h12"]
    n1fw12, m = model["n1fw12"], model["m"]
    mh, n1fw2c, bw = model["mh"], model["n1fw2c"], model["bw"]
    tt, d = model["tt"], model["discount"]

    @pandas_udf("struct<n_trigrams: long, mean_logprob: double>")
    def _score(texts: pd.Series) -> pd.DataFrame:
        q9, q6 = Decimal(1), Decimal("0.000001")
        ns, means = [], []
        for t in texts:
            raw = (t or "").split(" ")
            tris = (
                [
                    (raw[i], raw[i + 1], raw[i + 2])
                    for i in range(len(raw) - 2)
                    if raw[i] != "" and raw[i + 1] != "" and raw[i + 2] != ""
                ]
                if len(raw) >= 3
                else []
            )
            if not tris:
                ns.append(None)
                means.append(None)
                continue
            total = 0
            for w1, w2, w3 in tris:
                p_uni = (bw.get(w3, 0) or 0.5) / tt
                h2 = mh.get(w2)
                if h2 is None:
                    p_bi = p_uni
                else:
                    p_bi = (
                        max(m.get((w2, w3), 0) - d, 0.0)
                        + d * n1fw2c[w2] * p_uni
                    ) / h2
                h = h12.get((w1, w2))
                if h is None:
                    p = p_bi
                else:
                    p = (
                        max(tcd.get((w1, w2, w3), 0) - d, 0.0)
                        + d * n1fw12[(w1, w2)] * p_bi
                    ) / h
                total += int(
                    Decimal(math.log(p)).scaleb(9).quantize(q9, ROUND_HALF_UP)
                )
            ns.append(len(tris))
            mean = total / 1e9 / len(tris)
            means.append(float(Decimal(mean).quantize(q6, ROUND_HALF_UP)))
        return pd.DataFrame({
            "n_trigrams": pd.array(ns, dtype="Int64"),
            "mean_logprob": np.array(means, dtype="float64"),
        })

    cols = [id_col] + (keep or [])
    out = df.select(*cols, _score(F.col(text_col)).alias("_s"))
    return out.select(
        *cols,
        F.col("_s.n_trigrams").alias("n_trigrams"),
        F.col("_s.mean_logprob").alias("mean_logprob"),
    )
