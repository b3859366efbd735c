"""Streaming Bradley-Terry monitor: the head-to-head leaderboard kept
live as game outcomes arrive (an RLHF eval loop's judge verdicts, an
A/B arena's votes).

State is the (winner, loser) → count win grid — items²-bounded; each
trigger's delta is aggregated distributed-side by the batch operator's
groupBy. The leaderboard is a pure function of the grid through the
SHARED :func:`preference.bt_fixpoint` (one code path, so batch/stream
parity is structural, not coincidental).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.operators.preference import bt_fixpoint
from bistro_spark.session import local_frame
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingBTMonitor(DriverSumGrid):
    """Feed per-trigger deltas of (winner, loser) outcomes to
    :meth:`process_batch`; read the live leaderboard via
    :meth:`ratings` — same schema and rows as batch ``bt_ratings``
    over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        winner_col: str = "winner",
        loser_col: str = "loser",
        iters: int = 20,
        max_items: int = 256,
        item_type: str = "string",
    ):
        super().__init__(
            spark, ["a", "b"], ["n"], int(max_items) ** 2,
            "win grid (max_items squared)",
        )
        self.winner_col = winner_col
        self.loser_col = loser_col
        self.iters = int(iters)
        self.max_items = int(max_items)
        self.item_type = item_type

    def state_size(self) -> int:
        return len(self._cells)

    def process_batch(self, batch_df: DataFrame) -> int:
        """Merge one trigger's delta (aggregated distributed-side
        first); returns the number of games added."""
        rows = self.add(
            batch_df.groupBy(
                F.col(self.winner_col).alias("a"),
                F.col(self.loser_col).alias("b"),
            ).agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        return sum(r["n"] for r in rows)

    def _check_delta(self, rows: list) -> None:
        """Self-games and item overflow raise at arrival, before the
        grid changes."""
        if any(r["a"] == r["b"] for r in rows):
            raise ValueError("StreamingBTMonitor: self-game (winner == loser)")
        items = {x for k in self._cells for x in k}
        items |= {r["a"] for r in rows} | {r["b"] for r in rows}
        if len(items) > self.max_items:
            raise ValueError(
                f"StreamingBTMonitor: {len(items)} items exceed "
                f"max_items={self.max_items}"
            )

    # --------------------------------------------------------- report --
    def win_matrix(self) -> DataFrame:
        """The live head-to-head matrix — columns and rows exactly as
        batch ``preference.win_rate_matrix`` emits them. The monitor's
        grid IS the matrix's sufficient statistic, so this is a pure
        driver-side reshape: per unordered pair, merge both directed
        counts and emit the exact-ppm lo-side win rate."""
        cells: dict = {}
        for (a, b), (n,) in self._cells.items():
            lo, hi = (a, b) if a <= b else (b, a)
            g, wl = cells.get((lo, hi), (0, 0))
            cells[(lo, hi)] = (g + n, wl + (n if a == lo else 0))
        rows = [
            (lo, hi, g, wl, g - wl, (wl * 1_000_000) // g)
            for (lo, hi), (g, wl) in cells.items()
        ]
        return local_frame(
            self.spark,
            rows,
            f"item_lo {self.item_type}, item_hi {self.item_type}, "
            "games long, wins_lo long, wins_hi long, "
            "win_rate_lo_ppm long",
        )

    def ratings(self) -> DataFrame:
        """The live leaderboard — columns and rows exactly as batch
        ``bt_ratings`` emits them (shared fixpoint code path)."""
        out = bt_fixpoint(
            [(a, b, n) for (a, b), (n,) in self._cells.items()],
            iters=self.iters,
            max_items=self.max_items,
        )
        return local_frame(
            self.spark,
            out,
            f"item {self.item_type}, n_wins long, n_losses long, "
            "rating long, rank long",
        )
