"""Streaming twin of lakehouse compaction planning
(``operators/maintenance.compaction_plan`` / ``compaction_report``).

A per-trigger-committing streaming ingest is exactly what CREATES the
small-files problem, so the natural place to decide "compact now" is the
ingest loop itself: consume each trigger's manifest delta (the files the
epoch just committed), keep the greedy merge-group fold warm per
partition, and read the decision artifact live instead of re-scanning
the full manifest per maintenance cycle.

Shape (the ``StreamingPacker`` discipline, applied to files):

- the greedy no-split fold is sequential per partition, so the monitor
  carries ONE ``(group_id, fill)`` cursor per partition across triggers
  and runs the batch plan's own fold (``compaction_groups``) over each
  delta from it — state is #partitions-sized, never manifest-sized;
- the report counters (n_files, small files, bytes) are ADDITIVE, so
  they are a partition-keyed :class:`DriverSumGrid`, exact in any
  arrival order; ``n_files_after`` comes from the fold cursor
  (group_id + 1).

**Parity contract (pytest-pinned):** under file_id-monotone arrival per
partition — the natural case, file ids are assigned at commit time —
the union of per-trigger plan outputs EQUALS batch ``compaction_plan``
over everything seen, and :meth:`report` equals batch
``compaction_report`` at every trigger: both run the one
``curation.next_fit`` kernel, whose fold depends only on each
partition's bytes sequence in file_id order, and monotone arrival makes
the concatenation of per-batch folds THE single fold. Out-of-order
arrival diverges by construction (an earlier-id file arriving late
would have folded sooner) — pinned by counter-example, mirroring the
packer's contract: an emitted merge group cannot be reopened.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.operators.curation import fold_end
from bistro_spark.operators.maintenance import compaction_groups
from bistro_spark.session import local_frame
from bistro_spark.streaming.incremental import DriverSumGrid

_COUNTS = ("n_files", "n_small_files", "bytes_total")


def _ts(us: int):
    """Exact naive-UTC timestamp from integer microseconds (timedelta
    arithmetic — no float rounding), matching the TIMESTAMP_NTZ inputs."""
    from datetime import datetime, timedelta

    return datetime(1970, 1, 1) + timedelta(microseconds=int(us))


class StreamingCompactionMonitor(DriverSumGrid, PinOwner):
    """Feed per-trigger manifest deltas to :meth:`process_batch` (rows:
    partition, file_id, bytes); each call returns the delta's merge-group
    assignments — same schema as batch ``compaction_plan`` — valid until
    the next call (consumed-within-trigger, the foreachBatch contract).
    :meth:`report` returns the live decision artifact."""

    def __init__(
        self,
        spark: SparkSession,
        partition_col: str = "part",
        file_col: str = "file_id",
        bytes_col: str = "bytes",
        target_bytes: int = 512 * 1024 * 1024,
        small_bytes: int | None = None,
        max_files_per_batch_partition: int = 50_000_000,
    ):
        DriverSumGrid.__init__(
            self, spark, [partition_col], _COUNTS, None, "partitions"
        )
        PinOwner.__init__(self, spark)
        self.partition_col = partition_col
        self.file_col = file_col
        self.bytes_col = bytes_col
        self.target = int(target_bytes)
        self.small = int(
            small_bytes if small_bytes is not None else target_bytes // 2
        )
        self.max_files = max_files_per_batch_partition
        # partition -> (group_id, fill): the fold cursor beside the grid
        self._cursors: dict[str, tuple[int, int]] = {}

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict[str, list[int]]:
        """Full recovery state: per touched partition, its cursor then
        its counters (5 ints)."""
        return {r[0]: [*self._cursors[r[0]], *r[1:]] for r in self.rows()}

    def restore_state(self, snapshot: dict[str, list[int]]) -> None:
        """Resume from a snapshot taken after the last COMMITTED trigger
        (persist with the foreachBatch epoch, restore before
        reprocessing) — kill/resume parity is pytest-pinned."""
        super().restore_state(
            {
                "columns": [self.partition_col, *_COUNTS],
                "rows": [[p, *v[2:]] for p, v in snapshot.items()],
            }
        )
        self._cursors = {
            str(p): (int(v[0]), int(v[1])) for p, v in snapshot.items()
        }

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self._begin()
        pcol, fcol, bcol = self.partition_col, self.file_col, self.bytes_col
        src = batch_df.select(
            F.col(pcol), F.col(fcol), F.col(bcol).cast("long").alias(bcol)
        )
        guard = (
            self.max_files,
            "max_files_per_batch_partition",
            "StreamingCompactionMonitor",
        )
        plan = compaction_groups(
            src, pcol, fcol, bcol, self.target, guard, dict(self._cursors)
        )
        out = self._pin(plan, trigger=True)
        # one row per touched partition: cursor advance + additive counts
        rows = self.add(
            out.groupBy(pcol).agg(
                fold_end("group_id", "group_offset", bcol, fcol).alias("c"),
                F.count("*").cast("long").alias("n_files"),
                F.sum((F.col(bcol) < self.small).cast("long"))
                .cast("long")
                .alias("n_small_files"),
                F.sum(bcol).cast("long").alias("bytes_total"),
            )
        )
        for r in rows:
            self._cursors[r[pcol]] = (r["c"]["group_id"], r["c"]["end"])
        return out

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """Live decision artifact — same schema and (under monotone
        arrival) same rows as batch ``compaction_report`` over everything
        seen so far."""
        rows = []
        for p, n_files, n_small, n_bytes in self.rows():
            after = self._cursors[p][0] + 1
            rows.append((p, n_files, n_small, after, n_files - after, n_bytes))
        return local_frame(
            self.spark,
            rows,
            f"{self.partition_col} string, n_files long, n_small_files long, "
            "n_files_after long, files_removed long, bytes_total long",
        )


class StreamingExpiryMonitor:
    """Streaming twin of ``operators/maintenance.snapshot_expiry_plan``:
    the expire-snapshots decision kept live inside the commit loop that
    GROWS the lineage. Feed each trigger's newly committed snapshots
    (rows: table, snapshot_id, committed_at) to :meth:`process_batch`;
    it returns the snapshots that just became expirable — the actions a
    maintenance job executes — and drops them from state.

    **State is exactly what Iceberg itself retains**: the live (not yet
    expired) snapshots per table — the ``retain_last`` newest plus the
    younger-than-cutoff tail — so state is policy-bounded, not
    history-bounded.

    **Parity contract (pytest-pinned, ANY arrival order):** cumulative
    emitted expiries plus :meth:`report`'s live rows carry exactly the
    per-snapshot status of the batch plan over everything seen. The
    any-order argument: the ``retain_last`` newest snapshots seen are
    never expired, so if any snapshot newer than ``s`` has been expired
    there were at least ``retain_last`` LIVE snapshots newer than it —
    hence newer than ``s`` — at that trigger, which expires ``s`` too
    (when old). Contrapositive: a live snapshot has no expired newer
    sibling, so its live-set rank EQUALS its full-history rank — rank
    parity holds for every retained row. Ranks on EXPIRED rows are
    frozen at emission time (the batch plan keeps deepening them as the
    lineage grows) — the one documented divergence, pinned by
    counter-example.
    """

    def __init__(
        self,
        spark: SparkSession,
        retain_last: int = 3,
        older_than: str = "2024-01-25",
        table_col: str = "tbl",
        snapshot_col: str = "snapshot_id",
        ts_col: str = "committed_at",
        max_live_per_table: int = 10_000_000,
    ):
        self.spark = spark
        self.retain_last = int(retain_last)
        self.older_than = older_than
        self.table_col = table_col
        self.snapshot_col = snapshot_col
        self.ts_col = ts_col
        self.max_live = int(max_live_per_table)
        # tbl -> list of (ts_us, snapshot_id) LIVE snapshots — integer
        # micros only, so state_snapshot is JSON-persistable; emitted
        # timestamps are reconstructed exactly from the micros
        self._live: dict = {}
        self.batches_seen = 0
        self._cutoff_us: int | None = None

    def _cutoff(self) -> int:
        if self._cutoff_us is None:
            self._cutoff_us = int(
                self.spark.range(1)
                .select(
                    F.unix_micros(
                        F.lit(self.older_than).cast("timestamp")
                    ).alias("c")
                )
                .collect()[0]["c"]
            )
        return self._cutoff_us

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return {k: [list(x) for x in v] for k, v in self._live.items()}

    def restore_state(self, snapshot: dict) -> None:
        self._live = {
            k: [tuple(x) for x in v] for k, v in snapshot.items()
        }

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        """Absorb newly committed snapshots; return the ones that are
        now expirable (same columns as the batch plan, status literal
        'expired', rank = recency rank at emission time)."""
        self.batches_seen += 1
        us = F.unix_micros(F.col(self.ts_col).cast("timestamp"))
        delta = batch_df.select(
            self.table_col, self.snapshot_col, self.ts_col, us.alias("_us")
        ).collect()
        cutoff_us = self._cutoff()
        touched = set()
        for r in delta:
            t = r[self.table_col]
            live = self._live.setdefault(t, [])
            if len(live) >= self.max_live:
                raise ValueError(
                    f"StreamingExpiryMonitor: live lineage for {t!r} "
                    f"exceeds {self.max_live}; tighten the expiry policy"
                )
            live.append((int(r["_us"]), r[self.snapshot_col]))
            touched.add(t)
        expired_rows = []
        for t in touched:
            live = sorted(self._live[t], key=lambda x: (-x[0], -x[1]))
            keep = []
            for rank, (ts_us, sid) in enumerate(live, start=1):
                if rank > self.retain_last and ts_us < cutoff_us:
                    expired_rows.append((t, sid, _ts(ts_us), rank, "expired"))
                else:
                    keep.append((ts_us, sid))
            self._live[t] = keep
        return local_frame(
            self.spark,
            expired_rows,
            f"{self.table_col} string, {self.snapshot_col} long, "
            f"{self.ts_col} timestamp, recency_rank long, status string",
        )

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """The live rows of the plan: every retained snapshot with its
        full-history-equal rank and its batch-identical status."""
        cutoff_us = self._cutoff()
        rows = []
        for t in sorted(self._live):
            live = sorted(self._live[t], key=lambda x: (-x[0], -x[1]))
            for rank, (ts_us, sid) in enumerate(live, start=1):
                status = (
                    "retained_recent"
                    if rank <= self.retain_last
                    else "retained_age"
                    if ts_us >= cutoff_us
                    else "expired"  # unreachable: expired rows left state
                )
                rows.append((t, sid, _ts(ts_us), rank, status))
        return local_frame(
            self.spark,
            rows,
            f"{self.table_col} string, {self.snapshot_col} long, "
            f"{self.ts_col} timestamp, recency_rank long, status string",
        )


class StreamingOrphanTracker:
    """Streaming twin of ``operators/maintenance.orphan_files``: per-file
    live-reference counts maintained as commits arrive and snapshots
    expire — the remove-orphan-files decision kept warm instead of
    re-joining the full manifest per maintenance cycle.

    Owns a :class:`StreamingExpiryMonitor`; each trigger takes the newly
    committed snapshots AND their manifest edges (snapshot → file).
    State:

    - per-file ``[n_refs, n_live_refs]`` counters (manifest-bounded —
      the same bound the batch output carries);
    - the per-LIVE-snapshot file lists needed to decrement at expiry
      (policy-bounded: dropped the moment the snapshot expires);
    - an expired-id membership set (snapshot-count-bounded, ids only —
      the seen-URL-store class) so a late ref to an expired snapshot
      counts as a dead reference, exactly as the batch join does;
    - a pending buffer for refs that arrive BEFORE their snapshot row
      (absorbed the trigger the snapshot shows up).

    **Parity contract (pytest-pinned):** whenever no refs are pending —
    in particular under the natural model where a commit's manifest
    edges arrive with or after its snapshot row, in ANY trigger order —
    :meth:`report` EQUALS batch ``orphan_files(refs_seen,
    snapshot_expiry_plan(snaps_seen))`` at every trigger (ref counting
    is additive; liveness transitions are governed by the expiry
    monitor, whose any-order exactness is proven in its own docstring).
    While a ref is pending the reports legitimately diverge and heal on
    arrival — pinned as the eventual-consistency case.
    """

    def __init__(
        self,
        spark: SparkSession,
        retain_last: int = 3,
        older_than: str = "2024-01-25",
        table_col: str = "tbl",
        snapshot_col: str = "snapshot_id",
        ts_col: str = "committed_at",
        file_col: str = "file_id",
        max_files: int = 50_000_000,
    ):
        self.spark = spark
        self.table_col = table_col
        self.snapshot_col = snapshot_col
        self.file_col = file_col
        self.max_files = int(max_files)
        self.expiry = StreamingExpiryMonitor(
            spark, retain_last, older_than, table_col, snapshot_col, ts_col
        )
        self._files: dict = {}  # (tbl, fid) -> [n_refs, n_live]
        self._live_files: dict = {}  # (tbl, sid) -> [fid, ...]
        self._expired: set = set()  # (tbl, sid)
        self._pending: dict = {}  # (tbl, sid) -> [fid, ...]
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        """JSON-persistable (lists and scalars only — persist with the
        foreachBatch epoch, restore before reprocessing)."""
        return {
            "expiry": self.expiry.state_snapshot(),
            "files": [
                [t, fid, st[0], st[1]]
                for (t, fid), st in sorted(self._files.items())
            ],
            "live_files": [
                [t, sid, list(v)]
                for (t, sid), v in sorted(self._live_files.items())
            ],
            "expired": [list(k) for k in sorted(self._expired)],
            "pending": [
                [t, sid, list(v)]
                for (t, sid), v in sorted(self._pending.items())
            ],
        }

    def restore_state(self, snapshot: dict) -> None:
        self.expiry.restore_state(snapshot["expiry"])
        self._files = {
            (t, fid): [int(a), int(b)]
            for t, fid, a, b in snapshot["files"]
        }
        self._live_files = {
            (t, sid): list(v) for t, sid, v in snapshot["live_files"]
        }
        self._expired = {tuple(k) for k in snapshot["expired"]}
        self._pending = {
            (t, sid): list(v) for t, sid, v in snapshot["pending"]
        }

    # ---------------------------------------------------------- fold --
    def _live_ids(self) -> set:
        out = set()
        for t, rows in self.expiry._live.items():
            for _us, sid in rows:
                out.add((t, sid))
        return out

    def _register(self, key, fid, live_ids) -> None:
        if key in self._expired:  # dead reference — counted, never live
            st = self._files.setdefault((key[0], fid), [0, 0])
            st[0] += 1
        elif key in live_ids:
            st = self._files.setdefault((key[0], fid), [0, 0])
            st[0] += 1
            st[1] += 1
            self._live_files.setdefault(key, []).append(fid)
        else:
            # snapshot row not seen yet: the batch join would drop this
            # edge entirely, so hold it out of the counters until the
            # snapshot arrives (eventual consistency, pinned)
            self._pending.setdefault(key, []).append(fid)

    def process_batch(
        self, snaps_df: DataFrame, refs_df: DataFrame
    ) -> DataFrame:
        """Absorb one trigger's commits (snapshot rows + manifest
        edges); returns the newly expired snapshots (the expiry
        actions), after the file counters have absorbed them."""
        self.batches_seen += 1
        expired_now = self.expiry.process_batch(snaps_df)
        expired_rows = expired_now.collect()
        # liveness transitions: decrement every file the dead snapshots
        # referenced, then retire their tracking lists
        for r in expired_rows:
            key = (r[self.table_col], r[self.snapshot_col])
            self._expired.add(key)
            for fid in self._live_files.pop(key, []):
                self._files[(key[0], fid)][1] -= 1
        live_ids = self._live_ids()
        # flush pending refs whose snapshot has now arrived
        for key in [k for k in self._pending if k in live_ids or k in self._expired]:
            for fid in self._pending.pop(key):
                st = self._files.setdefault((key[0], fid), [0, 0])
                st[0] += 1
                if key not in self._expired:
                    st[1] += 1
                    self._live_files.setdefault(key, []).append(fid)
        # new edges
        if len(self._files) > self.max_files:
            raise ValueError(
                f"StreamingOrphanTracker: file count exceeds "
                f"{self.max_files}; shard the tracker by table"
            )
        for r in refs_df.select(
            self.table_col, self.snapshot_col, self.file_col
        ).collect():
            key = (r[self.table_col], r[self.snapshot_col])
            self._register(key, r[self.file_col], live_ids)
        return expired_now

    @property
    def pending_refs(self) -> int:
        return sum(len(v) for v in self._pending.values())

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """Live orphan audit — same schema (and, with no pending refs,
        same rows) as batch ``orphan_files`` over everything seen."""
        rows = [
            (t, fid, st[0], st[1], st[1] == 0)
            for (t, fid), st in sorted(self._files.items())
        ]
        return local_frame(
            self.spark,
            rows,
            f"{self.table_col} string, {self.file_col} long, "
            "n_refs long, n_live_refs long, deletable boolean",
        )


def tracker_maintenance_report(tracker: "StreamingOrphanTracker") -> DataFrame:
    """The live per-table maintenance decision row, composed from a
    :class:`StreamingOrphanTracker`'s state — same schema (and, with no
    pending refs, same rows) as batch
    ``operators/maintenance.maintenance_report`` over everything seen:
    the expiry monitor contributes lineage/expired counts, the file
    counters contribute population/deletable counts. Any-order exactness
    is inherited from the two constituents (pytest-pinned)."""
    spark = tracker.spark
    tbl = tracker.table_col
    n_snaps: dict = {}
    n_expired: dict = {}
    for t, rows in tracker.expiry._live.items():
        n_snaps[t] = n_snaps.get(t, 0) + len(rows)
    for t, _sid in tracker._expired:
        n_snaps[t] = n_snaps.get(t, 0) + 1
        n_expired[t] = n_expired.get(t, 0) + 1
    files: dict = {}
    for (t, _fid), st in tracker._files.items():
        f = files.setdefault(t, [0, 0, 0, 0])
        f[0] += 1
        f[1] += 1 if st[1] == 0 else 0
        f[2] += st[0]
        f[3] += st[1]
    rows = [
        (
            t,
            n_snaps[t],
            n_expired.get(t, 0),
            files.get(t, [0, 0, 0, 0])[0],
            files.get(t, [0, 0, 0, 0])[1],
            files.get(t, [0, 0, 0, 0])[2],
            files.get(t, [0, 0, 0, 0])[3],
        )
        for t in sorted(n_snaps)
    ]
    return local_frame(
        spark,
        rows,
        f"{tbl} string, n_snapshots long, n_expired long, n_files long, "
        "n_deletable long, n_refs long, n_live_refs long",
    )
