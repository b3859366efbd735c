"""Streaming context-truncation monitor: the context-window sizing
sweep (``curation.context_truncation_sweep``) kept live as sequences
arrive — every column of the report is an ADDITIVE integer sum over
rows (doc count, token total, per-L truncated-doc count and lost-token
mass), so the state is one fixed vector of BIGINT counters
(2 + 2·|grid| integers, grid-bounded, never stream-bounded), each
trigger's delta is reduced DISTRIBUTED-side to that same vector by the
batch operator's own conditional-sum aggregation, and the merge is
plain addition: commutative and associative, so full-history parity
with the batch sweep is EXACT at every trigger in ANY arrival order
(the ``StreamingSkewMonitor`` discipline). Addition is NOT idempotent —
exactly-once replay protection belongs to the foreachBatch epoch guard,
as with every additive monitor in this package. The report rows are
rebuilt from the exact integers with the batch operator's expressions,
so they hash-match the batch columns verbatim."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingTruncationMonitor:
    """Feed per-trigger deltas of rows carrying ``len_col`` to
    :meth:`process_batch`; read the live sweep via :meth:`report` —
    same schema and rows as batch ``context_truncation_sweep`` over
    everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        len_col: str = "n_tok",
        lengths: tuple[int, ...] = (128, 256, 512, 1024),
    ):
        self.spark = spark
        self.len_col = len_col
        self.lengths = tuple(int(x) for x in lengths)
        self.total_docs = 0
        self.total_tokens = 0
        self._trunc = {L: 0 for L in self.lengths}
        self._lost = {L: 0 for L in self.lengths}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return {
            "total_docs": self.total_docs,
            "total_tokens": self.total_tokens,
            "trunc": {str(L): v for L, v in self._trunc.items()},
            "lost": {str(L): v for L, v in self._lost.items()},
        }

    def restore_state(self, snapshot: dict) -> None:
        self.total_docs = int(snapshot["total_docs"])
        self.total_tokens = int(snapshot["total_tokens"])
        self._trunc = {int(L): int(v) for L, v in snapshot["trunc"].items()}
        self._lost = {int(L): int(v) for L, v in snapshot["lost"].items()}
        if set(self._trunc) != set(self.lengths):
            raise ValueError(
                "StreamingTruncationMonitor: snapshot grid "
                f"{sorted(self._trunc)} != configured {self.lengths}"
            )

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> None:
        """Merge one trigger's delta — the distributed side runs the
        batch operator's conditional sums, the driver adds one
        grid-sized counter vector."""
        self.batches_seen += 1
        n = F.col(self.len_col).cast("long")
        aggs = [
            F.count(F.lit(1)).cast("long").alias("d"),
            F.coalesce(F.sum(n), F.lit(0)).cast("long").alias("t"),
        ]
        for L in self.lengths:
            aggs.append(
                F.sum(F.when(n > L, F.lit(1)).otherwise(0))
                .cast("long")
                .alias(f"tr_{L}")
            )
            aggs.append(
                F.coalesce(F.sum(F.greatest(n - L, F.lit(0))), F.lit(0))
                .cast("long")
                .alias(f"lost_{L}")
            )
        row = batch_df.agg(*aggs).collect()[0]
        self.total_docs += row["d"]
        self.total_tokens += row["t"]
        for L in self.lengths:
            self._trunc[L] += row[f"tr_{L}"] or 0
            self._lost[L] += row[f"lost_{L}"] or 0

    # --------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """The live sweep — columns and rows exactly as the batch
        operator emits them (frac_lost computed by the ENGINE with the
        batch expression, so rounding is bit-identical)."""
        rows = [
            (
                L,
                self._trunc[L],
                self._lost[L],
                self.total_docs,
                self.total_tokens,
            )
            for L in self.lengths
        ]
        df = local_frame(
            self.spark,
            rows,
            "context_len long, n_truncated long, tokens_lost long, "
            "total_docs long, total_tokens long",
        )
        return df.withColumn(
            "frac_lost",
            F.round(
                F.when(
                    F.col("total_tokens") > 0,
                    F.col("tokens_lost") / F.col("total_tokens"),
                ).otherwise(F.lit(0.0)),
                9,
            ),
        )
