"""Streaming twin of ``operators/trainprep.curriculum_schedule``: the
curriculum-learning step report maintained live.

The batch report is a pure function of the SIGNAL HISTOGRAM: ranks are
assigned by (signal, id), but a step boundary that splits a tie group
moves only WHICH ids sit either side — never how many, nor their signal
mass/min/max, because tied rows carry the same signal value. So state is
the value-domain histogram, one BIGINT per distinct signal value.

The report rebuilds the batch bucketing ENGINE-side from the histogram:
each signal value occupies the rank interval [cum-c+1, cum]; step ``t``
owns ranks (ceil(t*N/T), ceil((t+1)*N/T)] (the integer inversion of
``step = (rank-1)*T DIV N``); the overlap grid is (#distinct values × T)
— domain-bounded, never corpus-bounded — and one grid aggregate yields
the same (step, n_docs, sig_sum, sig_min, sig_max) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bistro_spark.operators.olap import histogram_counts
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingCurriculumMonitor(DriverSumGrid):
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    curriculum grid via :meth:`report` — same schema and rows as batch
    ``curriculum_schedule`` over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        signal_col: str = "n_words",
        n_steps: int = 20,
        max_domain: int = 10_000_000,
    ):
        super().__init__(
            spark, ["v"], ["c"], int(max_domain), "signal domain"
        )
        self.signal_col = signal_col
        self.n_steps = int(n_steps)

    def process_batch(self, batch_df: DataFrame) -> int:
        """Absorb a delta's (value, count) rows; returns rows absorbed."""
        rows = self.add(histogram_counts(batch_df, self.signal_col))
        return sum(r["c"] for r in rows)

    def report(self) -> DataFrame:
        """Engine-computed from the histogram with the batch operator's
        integer expressions, so rows hash-match batch
        ``curriculum_schedule`` over everything seen."""
        self.require_rows()
        T = self.n_steps
        n_total = sum(c for (c,) in self._cells.values())
        if n_total * T > 2**62:  # the batch operator's overflow bound
            raise ValueError(
                "StreamingCurriculumMonitor: rank*n_steps would overflow "
                "BIGINT; reduce n_steps"
            )
        vc = self.frame("v long, c long")
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        vals = vc.select(
            "v",
            "c",
            F.sum("c").over(w).cast("long").alias("hi_r"),
        ).withColumn("lo_r", F.col("hi_r") - F.col("c") + 1)
        # step t owns 1-based ranks (ceil(t*N/T), ceil((t+1)*N/T)] — the
        # integer inversion of step = (rank-1)*T DIV N; operands are all
        # positive so ceil(a/b) = (a + b - 1) DIV b is exact
        steps = self.spark.range(T).select(
            F.col("id").cast("long").alias("step"),
            F.expr(f"(id * {n_total} + {T} - 1) DIV {T} + 1")
            .cast("long")
            .alias("lo_t"),
            F.expr(f"((id + 1) * {n_total} + {T} - 1) DIV {T}")
            .cast("long")
            .alias("hi_t"),
        )
        grid = vals.crossJoin(F.broadcast(steps)).withColumn(
            "n",
            F.greatest(
                F.least("hi_r", "hi_t") - F.greatest("lo_r", "lo_t") + 1,
                F.lit(0),
            ).cast("long"),
        )
        return (
            grid.filter(F.col("n") > 0)
            .groupBy("step")
            .agg(
                F.sum("n").cast("long").alias("n_docs"),
                F.sum(F.col("n") * F.col("v")).cast("long").alias("sig_sum"),
                F.min("v").cast("long").alias("sig_min"),
                F.max("v").cast("long").alias("sig_max"),
            )
        )
