"""Streaming preference miner: the DPO/RM pair set and the per-prompt
signal audit kept live as scored candidates arrive.

Unlike the contrastive miner there is nothing to prune: EVERY candidate
participates in the pair set (each losing candidate is a rejected row),
so the state is one integer row per candidate — (prompt, cand) →
reward, the vocab-monitor discipline: the store is corpus-CONTENT
bounded (prompts × candidates-per-prompt, best-of-n sampling makes the
per-prompt side 4–64 in practice), never stream-length bounded beyond
that content, and the monitor can measure its own growth
(``state_size``). Each trigger's delta is first deduplicated
DISTRIBUTED-side (groupBy (prompt, cand) with an any-value reward — a
candidate id has exactly one reward), so the driver transfer is
delta-candidate-bounded and a replayed delta merges to a no-op.

The fold is a dict insert keyed by (prompt, cand) with an immutable
value: commutative, associative, idempotent ⇒ full-history parity with
the batch operators is EXACT at every trigger in ANY arrival order, and
exactly-once comes free. A candidate re-arriving with a DIFFERENT
reward is upstream corruption and raises loudly instead of silently
keeping either value. Reports (:meth:`pairs`, :meth:`stats`) are rebuilt
from the exact integer state with the batch operators' own rules, so
rows match ``operators/preference.preference_pairs`` /
``preference_stats`` verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingPreferenceMiner:
    """Feed per-trigger deltas of (prompt, cand, reward) rows to
    :meth:`process_batch`; read the live artifacts via :meth:`pairs`
    (same schema/rows as batch ``preference_pairs(all_seen)``) and
    :meth:`stats` (same as ``preference_stats(all_seen)``)."""

    def __init__(
        self,
        spark: SparkSession,
        prompt_col: str = "prompt_id",
        cand_col: str = "cand_id",
        reward_col: str = "reward",
        min_margin: int = 1,
        max_state: int = 50_000_000,
    ):
        self.spark = spark
        self.prompt_col = prompt_col
        self.cand_col = cand_col
        self.reward_col = reward_col
        self.min_margin = int(min_margin)
        self.max_state = int(max_state)
        # prompt -> {cand: reward}
        self._cands: dict = {}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        """JSON-safe: '<prompt>' -> [[cand, reward], ...]."""
        return {
            str(p): [[c, r] for c, r in sorted(m.items())]
            for p, m in self._cands.items()
        }

    def restore_state(self, snapshot: dict) -> None:
        self._cands = {
            int(p): {int(c): int(r) for c, r in rows}
            for p, rows in snapshot.items()
        }

    def state_size(self) -> int:
        return sum(len(m) for m in self._cands.values())

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Merge one trigger's delta (deduplicated distributed-side
        first); returns the number of NEW candidate slots (0 on a pure
        replay)."""
        self.batches_seen += 1
        delta = (
            batch_df.groupBy(
                F.col(self.prompt_col).alias("p"),
                F.col(self.cand_col).alias("c"),
            )
            .agg(
                F.min(self.reward_col).cast("long").alias("r"),
                F.max(self.reward_col).cast("long").alias("r2"),
            )
            .collect()
        )
        added = 0
        for row in delta:
            if row["r"] is None or row["r"] != row["r2"]:
                raise ValueError(
                    "StreamingPreferenceMiner: NULL or conflicting "
                    f"reward for candidate ({row['p']}, {row['c']})"
                )
            m = self._cands.setdefault(row["p"], {})
            if row["c"] in m:
                if m[row["c"]] != row["r"]:
                    raise ValueError(
                        "StreamingPreferenceMiner: candidate "
                        f"({row['p']}, {row['c']}) re-arrived with a "
                        f"different reward {row['r']} != {m[row['c']]}"
                    )
                continue
            m[row["c"]] = row["r"]
            added += 1
        if self.state_size() > self.max_state:
            raise ValueError(
                f"StreamingPreferenceMiner: state {self.state_size()} "
                f"exceeds max_state={self.max_state}"
            )
        return added

    # --------------------------------------------------------- report --
    def _chosen(self, m: dict) -> tuple:
        """(cand, reward) under the batch rule (reward DESC, cand ASC)."""
        return min(m.items(), key=lambda cr: (-cr[1], cr[0]))

    def pairs(self) -> DataFrame:
        """Live best_vs_rest pair set — columns and rows exactly as
        batch ``preference_pairs`` emits them."""
        rows = []
        for p, m in self._cands.items():
            bc, br = self._chosen(m)
            for c, r in m.items():
                if c != bc and br - r >= self.min_margin:
                    rows.append((p, bc, c, br, r, br - r))
        return local_frame(
            self.spark,
            rows,
            f"{self.prompt_col} long, chosen long, rejected long, "
            "chosen_reward long, rejected_reward long, margin long",
        )

    def normalized(self) -> DataFrame:
        """Live per-prompt rank normalization — columns and rows
        exactly as batch ``preference.reward_normalize`` emits them
        (rank under (reward DESC, cand ASC), exact-integer ppm)."""
        rows = []
        for p, m in self._cands.items():
            order = sorted(m.items(), key=lambda cr: (-cr[1], cr[0]))
            n = len(order)
            for rk, (c, r) in enumerate(order, 1):
                rows.append(
                    (
                        p,
                        c,
                        r,
                        rk,
                        n,
                        ((rk - 1) * 1_000_000) // (n - 1)
                        if n > 1
                        else None,
                    )
                )
        return local_frame(
            self.spark,
            rows,
            f"{self.prompt_col} long, {self.cand_col} long, reward long, "
            "rank long, n_cands long, norm_ppm long",
        )

    def pipeline_pairs(self, min_gap: int = 1) -> DataFrame:
        """The live end-to-end DPO set — columns and rows exactly as
        batch ``preference.preference_pipeline`` emits them: prompts
        whose best-vs-runner-up gap is below ``min_gap`` (or undefined)
        are gated out, survivors emit best_vs_rest pairs with the
        rejected candidate's exact-ppm rank position."""
        rows = []
        for p, m in self._cands.items():
            if len(m) < 2:
                continue
            order = sorted(m.items(), key=lambda cr: (-cr[1], cr[0]))
            (bc, br), (_sc, sr) = order[0], order[1]
            if br - sr < min_gap:
                continue
            n = len(order)
            for rk, (c, r) in enumerate(order, 1):
                if c != bc and br - r >= self.min_margin:
                    rows.append(
                        (
                            p,
                            bc,
                            c,
                            br,
                            r,
                            br - r,
                            ((rk - 1) * 1_000_000) // (n - 1),
                        )
                    )
        return local_frame(
            self.spark,
            rows,
            f"{self.prompt_col} long, chosen long, rejected long, "
            "chosen_reward long, rejected_reward long, margin long, "
            "rejected_ppm long",
        )

    def stats(self) -> DataFrame:
        """Live per-prompt signal audit — columns and rows exactly as
        batch ``preference_stats`` emits them."""
        rows = []
        for p, m in self._cands.items():
            bc, br = self._chosen(m)
            rest = [r for c, r in m.items() if c != bc]
            second = max(rest) if rest else None
            rows.append(
                (
                    p,
                    len(m),
                    br,
                    second,
                    br - second if second is not None else None,
                    br - min(m.values()),
                )
            )
        return local_frame(
            self.spark,
            rows,
            f"{self.prompt_col} long, n_cands long, best_reward long, "
            "second_reward long, gap long, reward_range long",
        )
