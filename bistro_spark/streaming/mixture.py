"""Streaming twin of the data-mixing schedule
(``operators/curation.mixture_schedule``): keep the mixture's source
counts warm inside the ingest loop, so the training scheduler can be
re-planned from live corpus composition at any trigger without a corpus
re-scan.

State is ONE BIGINT per source (additive counts — commutative and
associative), so full-history parity with the batch operator is EXACT at
every trigger in ANY arrival order: the schedule is a pure function of
the count vector, and the count vector is arrival-order-invariant. The
per-trigger cost is one partial-agg count over the delta; the schedule
itself is computed driver-side over the #sources-sized vector with the
same overflow-safe q/r integer factorization as the batch operator
(``cum_s(t) = q*t + (r*t) // N`` with ``q = (n_s*B) // N``,
``r = (n_s*B) % N`` — exact in BIGINT at 10^12-sequence scale; Python
ints cannot overflow, but the factored form keeps the twin textually
parallel to the distributed expression it mirrors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingMixtureScheduler:
    """Feed per-trigger corpus deltas (any frame with a source column) to
    :meth:`process_batch`; :meth:`schedule` returns the live mixing grid
    — same schema and same rows as batch ``mixture_schedule`` over
    everything seen so far."""

    def __init__(
        self,
        spark: SparkSession,
        source_col: str = "source",
        n_steps: int = 100,
        batch_size: int = 1024,
        max_sources: int = 1_000_000,
    ):
        self.spark = spark
        self.source_col = source_col
        self.n_steps = int(n_steps)
        self.batch_size = int(batch_size)
        self.max_sources = int(max_sources)
        self._counts: dict[str, int] = {}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict[str, int]:
        """Full recovery state: one BIGINT per source."""
        return dict(self._counts)

    def restore_state(self, snapshot: dict[str, int]) -> None:
        self._counts = {str(k): int(v) for k, v in snapshot.items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Add one trigger's delta to the count vector; returns the
        number of rows absorbed."""
        self.batches_seen += 1
        rows = (
            batch_df.groupBy(self.source_col)
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        )
        if len(self._counts) + len(rows) > self.max_sources:
            raise ValueError(
                f"StreamingMixtureScheduler: source count would exceed "
                f"{self.max_sources}"
            )
        absorbed = 0
        for r in rows:
            s = r[self.source_col]
            self._counts[s] = self._counts.get(s, 0) + int(r["n"])
            absorbed += int(r["n"])
        return absorbed

    # ------------------------------------------------------ schedule --
    def schedule(self) -> DataFrame:
        """The live mixing grid: per (step, source), sequences to draw
        this step and cumulatively — floor(n_s*B*t/N) via the q/r
        factorization, identical to the batch operator's expression."""
        n_total = sum(self._counts.values())
        assert n_total > 0, "no rows absorbed yet"
        b = self.batch_size
        out = []
        for s in sorted(self._counts):  # sorted-key order: deterministic
            n_s = self._counts[s]
            q, r = (n_s * b) // n_total, (n_s * b) % n_total
            for t in range(1, self.n_steps + 1):
                cum = q * t + (r * t) // n_total
                prev = q * (t - 1) + (r * (t - 1)) // n_total
                out.append((t, s, cum - prev, cum))
        return local_frame(
            self.spark,
            out,
            f"step long, {self.source_col} string, n_seqs long, "
            "cum_seqs long",
        )
