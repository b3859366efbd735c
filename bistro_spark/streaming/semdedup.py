"""Streaming twin of SemDeDup (operators/similarity.semdedup): an
incremental centroid-bucket store.

Batch SemDeDup (Abbas et al. 2023) marks a vector duplicate iff some
LOWER-id vector in the same centroid cluster has cosine ≥ threshold —
the keep-first rule. That verdict depends only on the SET of lower-id
vectors in the cluster, so an incremental flow can decide each arriving
vector against everything seen so far:

- state = the per-cluster vector store (id, vec, cluster) of everything
  seen — assigned ONCE on arrival by the same deterministic unit-norm
  Weyl centroids as the batch op (map-only Arrow GEMM, no shuffle), then
  appended. On a real cluster this is an Iceberg table partitioned by
  cluster, so the probe groupBy below is storage-partition-local.
- per trigger: the delta assigns (one GEMM), joins the store
  cluster-locally, and ONE applyInPandas per touched cluster scores each
  NEW vector against the lower-id rows present (store + same-batch).
  Per-trigger cost is O(|delta_c| × |cluster_c|) per touched cluster —
  delta-bounded, never a full-history re-pair.

Parity contract (pytest-pinned, the repo's streaming-twin standard):
when arrival order is id-monotone (the natural crawl/backfill pattern —
ids assigned by the ingest offset), the union of all emissions equals
batch ``semdedup`` on everything seen, exactly, after every trigger.
Out-of-id-order arrival is the pinned DIVERGENCE counter-example: a
lower-id vector arriving AFTER a higher-id near-twin cannot retroflip
the twin's already-emitted keep verdict (the batch op would have marked
the higher id the duplicate). The emission omits batch's
``n_in_cluster`` column by design — cluster sizes grow monotonically
under streaming, so a per-trigger snapshot of it cannot equal the
final batch value; :meth:`cluster_sizes` exposes the CURRENT sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.operators.similarity import _semdedup_centroids


class StreamingSemDedup(PinOwner):
    """Feed micro-batches of (id, embedding) rows to
    :meth:`process_batch`; each call returns (id, cluster, is_dup) for
    the batch rows (valid until the next call — consumed-within-trigger,
    as foreachBatch does)."""

    def __init__(
        self,
        spark: SparkSession,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_clusters: int = 8,
        threshold: float = 0.99,
        dim: int = 64,
    ):
        super().__init__(spark)
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_clusters = n_clusters
        self.threshold = threshold
        self.dim = dim
        self._store: DataFrame | None = None  # (id, vec, cluster)
        self.batches_seen = 0

    def store_rows(self) -> int:
        return 0 if self._store is None else self._store.count()

    def cluster_sizes(self) -> DataFrame:
        """CURRENT per-cluster store sizes (grows per trigger)."""
        if self._store is None:
            raise ValueError("no batches processed")
        return self._store.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("long").alias("n_in_cluster")
        )

    def _assign(self, df: DataFrame) -> DataFrame:
        """Same map-only centroid GEMM as the batch op (shared Weyl
        centroids — identical assignment on every engine / restart)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        cn = _semdedup_centroids(self.n_clusters, self.dim)

        @pandas_udf("int")
        def assign(v):
            if not len(v):
                return pd.Series([], dtype="int32")
            x = np.stack([np.asarray(e, dtype=np.float64) for e in v])
            scores = np.round(x @ cn.T, 6)
            return pd.Series(np.argmax(scores, axis=1).astype("int32"))

        return df.select(
            F.col(self.id_col).alias("id"),
            F.col(self.vec_col).alias("vec"),
            assign(F.col(self.vec_col)).alias("cluster"),
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        import numpy as np
        import pandas as pd

        self.batches_seen += 1
        self._begin()
        delta = self._pin(self._assign(batch_df), trigger=True)
        flagged = delta.withColumn("_new", F.lit(True))
        if self._store is not None:
            # cluster-pruned: only store rows in clusters the delta
            # touches participate (semi-join; partition-local when the
            # store is bucketed by cluster)
            touched = delta.select("cluster").distinct()
            relevant = self._store.join(
                F.broadcast(touched), "cluster", "left_semi"
            ).withColumn("_new", F.lit(False))
            flagged = flagged.unionByName(relevant)
        thr = self.threshold

        def verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id").reset_index(drop=True)
            new_mask = pdf["_new"].to_numpy()
            x = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["vec"]]
            )
            nrm = np.linalg.norm(x, axis=1)
            xi = np.flatnonzero(new_mask)
            # sims of NEW rows vs everything — O(|delta_c| × |cluster_c|)
            sims = np.round(
                (x[xi] @ x.T) / np.outer(nrm[xi], nrm), 6
            )
            # dup iff any strictly-lower-id row (new or stored) ≥ thr
            dup = np.array(
                [bool((sims[r, :i] >= thr).any()) for r, i in enumerate(xi)]
            )
            return pd.DataFrame(
                {
                    "id": pdf["id"].iloc[xi].to_numpy(),
                    "cluster": pdf["cluster"].iloc[xi].to_numpy(),
                    "is_dup": dup,
                }
            )

        id_t = dict(delta.dtypes)["id"]
        out = flagged.groupBy("cluster").applyInPandas(
            verdicts, f"id {id_t}, cluster int, is_dup boolean"
        )
        merged = (
            delta
            if self._store is None
            else self._store.unionByName(delta)
        )
        self._store = self._pin(merged)
        # `out` still reads delta's checkpoint and the previous store —
        # both stay pinned until the next trigger
        self._commit(hold=True)
        return out
