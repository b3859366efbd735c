"""Streaming twin of ``operators/olap.vocab_growth``: the Heaps-law
vocabulary-growth curve maintained live.

The batch operator's checkpoint is an md5 bucket of the DOC ID — a
property of the data, not of arrival — and a term's first-appearance
checkpoint is a MIN over the buckets of the documents containing it.
Min is commutative, associative, and idempotent, and the per-bucket
token counts are additive, so full-history parity with the batch curve
(and its fitted exponent) is EXACT at every trigger in ANY arrival
order.

State: one (term → first_bucket) entry per distinct term plus
#checkpoints token counters — vocabulary-bounded, which is exactly what
Heaps' law itself promises stays sublinear (the monitor measures the
growth of its own state). The fold tags tokens with the batch
operator's ``vocab_growth_terms``, and the report hands the rebuilt
(b, n_tokens, new_terms) grid to its finalizer
``vocab_growth_from_grid``, so rows hash-match batch ``vocab_growth``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.operators.olap import vocab_growth_from_grid, vocab_growth_terms
from bistro_spark.session import local_frame


class StreamingVocabGrowth:
    """Feed per-trigger document deltas to :meth:`process_batch`; read
    the live Heaps curve + fit via :meth:`report` — same schema and
    rows as batch ``vocab_growth`` over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_checkpoints: int = 10,
        max_terms: int = 50_000_000,
    ):
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.nb = int(n_checkpoints)
        self.max_terms = int(max_terms)
        self._first: dict[str, int] = {}  # term -> min bucket seen
        self._tok: dict[int, int] = {}  # bucket -> token count
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return {
            "first": dict(self._first),
            "tok": {str(k): v for k, v in self._tok.items()},
        }

    def restore_state(self, snapshot: dict) -> None:
        self._first = {str(k): int(v) for k, v in snapshot["first"].items()}
        self._tok = {int(k): int(v) for k, v in snapshot["tok"].items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Absorb one trigger: per-term min bucket + per-bucket token
        counts, both reduced DISTRIBUTED-side before the driver merge
        (delta-vocabulary-sized collect, never delta-row-sized)."""
        self.batches_seen += 1
        terms = vocab_growth_terms(batch_df, self.id_col, self.text_col, self.nb)
        agg = terms.groupBy("term").agg(
            F.min("b").alias("fb"), F.count("*").cast("long").alias("c")
        )
        per_bucket = (
            terms.groupBy("b")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        )
        rows = agg.collect()
        if len(self._first) + len(rows) > self.max_terms:
            raise ValueError(
                f"StreamingVocabGrowth: term store exceeds "
                f"{self.max_terms}; frequency-prune or shard by term"
            )
        absorbed = 0
        for r in per_bucket:
            self._tok[int(r["b"])] = self._tok.get(int(r["b"]), 0) + int(
                r["n"]
            )
            absorbed += int(r["n"])
        for r in rows:
            t = r["term"]
            fb = int(r["fb"])
            cur = self._first.get(t)
            if cur is None or fb < cur:
                self._first[t] = fb
        return absorbed

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """The batch finalizer over the grid rebuilt from the integer
        state, so rows hash-match the batch operator."""
        assert self._tok, "no rows absorbed yet"
        new: dict[int, int] = {}
        for fb in self._first.values():
            new[fb] = new.get(fb, 0) + 1
        buckets = sorted(set(self._tok) | set(new))
        grid = local_frame(
            self.spark,
            [(b, self._tok.get(b, 0), new.get(b, 0)) for b in buckets],
            "b long, n_tokens long, new_terms long",
        )
        return vocab_growth_from_grid(grid)
