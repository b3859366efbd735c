"""Streaming twin of heavy hitters (`operators.text.heavy_hitters`).

The batch op is exact because it can recount candidates over the whole
corpus; an unbounded stream by definition cannot replay history, so the
streaming twin keeps the strongest contract that IS maintainable in
O(k) state — the mergeable Misra-Gries summary (Agarwal et al. 2012,
"Mergeable summaries"; same rule the batch op's per-partition kernel
uses):

- **no false negatives**: any word whose true frequency over EVERYTHING
  seen exceeds N/(k+1) is present in the summary;
- **one-sided error**: true(w) - N/(k+1) <= est(w) <= true(w).

Both properties survive arbitrary merge trees, so the monitor reduces
each micro-batch to a batch-level summary in Spark (per-partition
vectorized MG kernels via ``mapInPandas`` — the collect is bounded by
k x partitions rows, never vocabulary-sized) and MG-merges it into the
retained summary on the driver: add counters, subtract the (k+1)-th
largest, drop the non-positive remainder. State: one k-row pandas
Series + the running word total — checkpoint-trivial.

When exactness is needed (e.g. end of day), pass the retained candidate
set to the batch op's recount over the at-rest corpus; the summary's
superset property makes that recount sufficient. The parity tests pin
the superset property against the batch op over the accumulated union,
the two-sided estimate bound against exact counts, and the k-row state
bound across replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bistro_spark.operators.text import mg_cap, mg_summaries


class StreamingHeavyHitters:
    """O(k)-state heavy-hitter monitor over an unbounded word stream."""

    def __init__(self, k: int = 50, text_col: str = "text"):
        import pandas as pd

        self.k = k
        self.text_col = text_col
        self._counters = pd.Series(dtype="int64")
        self.n_total = 0  # words seen across the whole stream
        self.batches_seen = 0

    def process_batch(self, batch_df: DataFrame) -> "StreamingHeavyHitters":
        """Fold one micro-batch into the summary. Spark-side work is one
        scan producing per-partition MG summaries (<= k rows each, the
        batch operator's ``mg_summaries`` kernel) plus a codegen count;
        the driver merge touches <= k x (partitions + 1) rows."""
        import pandas as pd

        terms = batch_df.select(
            F.explode(F.split(F.col(self.text_col), " ")).alias("word")
        )
        rows = mg_summaries(terms, self.k).collect()
        self.n_total += terms.count()
        self.batches_seen += 1
        if rows:
            batch_sum = pd.Series(
                [r["est"] for r in rows],
                index=[r["word"] for r in rows],
                dtype="int64",
            ).groupby(level=0).sum()  # union-add partition summaries
            self._counters = mg_cap(
                self._counters.add(batch_sum, fill_value=0), self.k
            )
        return self

    def candidates(self):
        """Current summary as a dict word -> estimated count (superset of
        every word with true stream frequency > n_total/(k+1))."""
        return {w: int(c) for w, c in self._counters.items()}

    def threshold(self) -> float:
        """The frequency bar the summary is guaranteed to cover."""
        return self.n_total / (self.k + 1)
