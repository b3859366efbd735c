"""Streaming twin of ``operators/trainprep.curriculum_schedule``: the
curriculum-learning step report maintained live.

The batch report is a pure function of the SIGNAL HISTOGRAM: ranks are
assigned by (signal, id), but a step boundary that splits a tie group
moves only WHICH ids sit either side — never how many, nor their signal
mass/min/max, because tied rows carry the same signal value. So state is
the value-domain histogram (one additive BIGINT per distinct signal
value — the ``StreamingQuantileMonitor`` discipline), and full-history
parity with the batch operator is EXACT at every trigger in ANY arrival
order.

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

from bistro_spark.session import local_frame


class StreamingCurriculumMonitor:
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
        self.spark = spark
        self.signal_col = signal_col
        self.n_steps = int(n_steps)
        self.max_domain = int(max_domain)
        self._hist: dict[int, int] = {}  # signal value -> count
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        """JSON-safe full recovery state: the signal histogram."""
        return {str(k): v for k, v in self._hist.items()}

    def restore_state(self, snapshot: dict) -> None:
        self._hist = {int(k): int(v) for k, v in snapshot.items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Absorb a delta: one distributed partial-agg to the delta's
        (value, count) rows — domain-bounded, never delta-bounded —
        merged additively into the histogram. Returns rows absorbed."""
        self.batches_seen += 1
        rows = (
            batch_df.select(
                F.col(self.signal_col).cast("long").alias("v")
            )
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("c"))
            .collect()
        )
        if len(self._hist) + len(rows) > self.max_domain:
            raise ValueError(
                f"StreamingCurriculumMonitor: signal domain exceeds "
                f"{self.max_domain}; quantize the signal first"
            )
        absorbed = 0
        for r in rows:
            v = int(r["v"])
            self._hist[v] = self._hist.get(v, 0) + int(r["c"])
            absorbed += int(r["c"])
        return absorbed

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """Engine-computed from the histogram with the batch operator's
        integer expressions, so rows hash-match batch
        ``curriculum_schedule`` over everything seen."""
        assert self._hist, "no rows absorbed yet"
        T = self.n_steps
        n_total = sum(self._hist.values())
        if n_total * T > 2**62:  # the batch operator's overflow bound
            raise ValueError(
                "StreamingCurriculumMonitor: rank*n_steps would overflow "
                "BIGINT; reduce n_steps"
            )
        vc = local_frame(
            self.spark,
            sorted(self._hist.items()), "v long, c long"
        )
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
