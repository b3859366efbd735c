"""Lakehouse table-maintenance planning: the small-files problem.

A streaming ingest that commits every trigger leaves an Iceberg/parquet
table with thousands of sub-target data files per partition; readers pay
per-file open cost and the scan loses large sequential reads. The fix is
periodic compaction — rewriting groups of small files into target-sized
ones (Iceberg's ``rewrite_data_files``). These operators produce the
PLAN for that rewrite from the table's file manifest, deterministically,
so a maintenance job can be audited and resumed:

- :func:`compaction_plan` — per partition, walk files in file_id order
  and greedily group them so a group's bytes stay within
  ``target_bytes`` (a file already >= target gets a group of its own —
  it is left alone, not split). The same no-split greedy fold as
  ``curation.pack_sequences`` (the shared ``curation.next_fit`` kernel),
  applied to (file, bytes) instead of (doc, tokens); sequential per
  partition, partitions fold in parallel
  via ``applyInPandas`` — manifests are file-count-sized (millions of
  rows at 100 TB, KBs per row), so a per-partition pandas frame is
  small by construction.

- :func:`compaction_report` — the decision artifact: per partition, how
  many files exist, how many are "small" (< ``small_bytes``), how many
  files the plan leaves behind, and the bytes involved — the numbers an
  operator reads before paying for the rewrite.

Both are exactly oracle-able: the fold is a recursive CTE stepping
through each partition's manifest in file_id order (the
``pack_sequences_sql`` discipline), and the report is plain aggregation
over the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bistro_spark.operators import curation


def compaction_plan(
    files_df: DataFrame,
    partition_col: str = "partition",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
    target_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Greedy no-split grouping of each partition's files (file_id
    order) into merge groups of at most ``target_bytes`` (oversize files
    get singleton groups). Returns (partition, file_id, bytes, group_id,
    group_offset) — group_id is per-partition, group_offset the file's
    byte offset within its group's rewrite buffer."""
    bound = curation.MAX_ROWS_PER_SHARD
    guard = (bound, "MAX_ROWS_PER_SHARD", "compaction_plan")
    return compaction_groups(
        files_df.select(partition_col, file_col, bytes_col),
        partition_col,
        file_col,
        bytes_col,
        target_bytes,
        guard,
    )


def compaction_groups(
    src, partition_col, file_col, bytes_col, target_bytes, guard, cursors=None
):
    """:func:`compaction_plan`'s fold over ``src`` (partition, file,
    bytes), resuming ``cursors``: see ``curation.fold_groups``."""
    schema = (
        src.withColumn("group_id", F.lit(0).cast("long"))
        .withColumn("group_offset", F.lit(0).cast("long"))
        .schema
    )
    return curation.fold_groups(
        src,
        partition_col,
        file_col,
        bytes_col,
        int(target_bytes),
        schema,
        guard,
        cursors,
    )


def compaction_plan_sql(
    table: str,
    partition_col: str = "partition",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
    target_bytes: int = 512 * 1024 * 1024,
    extra_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`compaction_plan`: the same greedy fold as a
    recursive CTE stepping through each partition's files in file_id
    order."""
    tgt = int(target_bytes)
    return f"""
      WITH RECURSIVE {extra_ctes} src AS (
        SELECT {partition_col}, {file_col},
               CAST({bytes_col} AS BIGINT) AS bytes,
               row_number() OVER (
                 PARTITION BY {partition_col} ORDER BY {file_col}
               ) AS rn
        FROM {table}
      ),
      grouped AS (
        SELECT {partition_col}, {file_col}, bytes, rn,
               CAST(0 AS BIGINT) AS group_id,
               CAST(0 AS BIGINT) AS group_offset
        FROM src WHERE rn = 1
        UNION ALL
        SELECT s.{partition_col}, s.{file_col}, s.bytes, s.rn,
               CASE WHEN g.group_offset + g.bytes + s.bytes <= {tgt}
                    THEN g.group_id ELSE g.group_id + 1 END,
               CASE WHEN g.group_offset + g.bytes + s.bytes <= {tgt}
                    THEN g.group_offset + g.bytes ELSE CAST(0 AS BIGINT)
               END
        FROM src s
        JOIN grouped g
          ON s.{partition_col} = g.{partition_col} AND s.rn = g.rn + 1
      )
      SELECT {partition_col}, {file_col}, bytes, group_id, group_offset
      FROM grouped
    """


def compaction_report(
    files_df: DataFrame,
    partition_col: str = "partition",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
    target_bytes: int = 512 * 1024 * 1024,
    small_bytes: int | None = None,
) -> DataFrame:
    """Per-partition compaction decision artifact: file counts before /
    after the plan, small-file pressure, and byte totals. ``small_bytes``
    defaults to target/2 (a file smaller than half the target always
    shares a rewrite group when it has any neighbor)."""
    small = int(small_bytes if small_bytes is not None else target_bytes // 2)
    plan = compaction_plan(
        files_df, partition_col, file_col, bytes_col, target_bytes
    )
    return (
        plan.groupBy(partition_col)
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum((F.col(bytes_col) < small).cast("long"))
            .cast("long")
            .alias("n_small_files"),
            (F.max("group_id") + 1).cast("long").alias("n_files_after"),
            F.sum(bytes_col).cast("long").alias("bytes_total"),
        )
        .select(
            partition_col,
            "n_files",
            "n_small_files",
            "n_files_after",
            (F.col("n_files") - F.col("n_files_after"))
            .cast("long")
            .alias("files_removed"),
            "bytes_total",
        )
    )


def compaction_report_sql(
    table: str,
    partition_col: str = "partition",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
    target_bytes: int = 512 * 1024 * 1024,
    small_bytes: int | None = None,
    extra_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`compaction_report`."""
    small = int(small_bytes if small_bytes is not None else target_bytes // 2)
    inner = compaction_plan_sql(
        table, partition_col, file_col, bytes_col, target_bytes, extra_ctes
    )
    return f"""
      SELECT {partition_col},
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN bytes < {small} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_small_files,
             CAST(max(group_id) + 1 AS BIGINT) AS n_files_after,
             CAST(count(*) - (max(group_id) + 1) AS BIGINT)
               AS files_removed,
             CAST(sum(bytes) AS BIGINT) AS bytes_total
      FROM ({inner})
      GROUP BY {partition_col}
    """


# ---------------------------------------------------------------------------
# snapshot expiry + orphan files (Iceberg expire_snapshots /
# remove_orphan_files planning)
# ---------------------------------------------------------------------------


def snapshot_expiry_plan(
    snap_df: DataFrame,
    table_col: str = "tbl",
    snapshot_col: str = "snapshot_id",
    ts_col: str = "committed_at",
    retain_last: int = 3,
    older_than: str = "2024-01-25",
) -> DataFrame:
    """Iceberg ``expire_snapshots`` planning: per table, rank snapshots
    newest-first and mark each one ``retained_recent`` (within the
    ``retain_last`` newest — kept regardless of age), ``retained_age``
    (older rank but committed at/after ``older_than``), or ``expired``.
    Exactly Iceberg's two-condition rule: a snapshot expires only when it
    is BOTH outside the retain-last window AND older than the cutoff.

    Scale note: the ranking window is partitioned by table and snapshot
    lineages are maintenance-metadata-sized (thousands of rows per table,
    not data-sized), so the per-table sort is a sanctioned dim-sized
    window — the same class as the grid windows in the report operators.
    Ties are broken by snapshot_id so the rank is deterministic.
    """
    w = Window.partitionBy(table_col).orderBy(
        F.col(ts_col).desc(), F.col(snapshot_col).desc()
    )
    status = (
        F.when(F.col("recency_rank") <= retain_last, F.lit("retained_recent"))
        .when(
            F.col(ts_col).cast("timestamp")
            >= F.lit(older_than).cast("timestamp"),
            F.lit("retained_age"),
        )
        .otherwise(F.lit("expired"))
    )
    return (
        snap_df.select(table_col, snapshot_col, ts_col)
        .withColumn("recency_rank", F.row_number().over(w).cast("long"))
        .withColumn("status", status)
    )


def snapshot_expiry_plan_sql(
    table: str,
    table_col: str = "tbl",
    snapshot_col: str = "snapshot_id",
    ts_col: str = "committed_at",
    retain_last: int = 3,
    older_than: str = "2024-01-25",
    extra_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`snapshot_expiry_plan`."""
    return f"""
      WITH {extra_ctes} ranked AS (
        SELECT {table_col}, {snapshot_col}, {ts_col},
               CAST(row_number() OVER (
                 PARTITION BY {table_col}
                 ORDER BY {ts_col} DESC, {snapshot_col} DESC
               ) AS BIGINT) AS recency_rank
        FROM {table}
      )
      SELECT {table_col}, {snapshot_col}, {ts_col}, recency_rank,
             CASE WHEN recency_rank <= {int(retain_last)}
                    THEN 'retained_recent'
                  WHEN {ts_col} >= TIMESTAMP '{older_than}'
                    THEN 'retained_age'
                  ELSE 'expired' END AS status
      FROM ranked
    """


def orphan_files(
    refs_df: DataFrame,
    plan_df: DataFrame,
    table_col: str = "tbl",
    snapshot_col: str = "snapshot_id",
    file_col: str = "file_id",
    broadcast_threshold: int = 5_000_000,
) -> DataFrame:
    """Iceberg ``remove_orphan_files`` planning: a data file is deletable
    iff EVERY snapshot referencing it is expired (one live reference
    keeps it).  Input: the (table, snapshot, file) reference edges from
    the manifests plus an expiry plan; output one row per file with its
    reference counts and the ``deletable`` verdict — manifest-sized.

    Scale design: the plan side is snapshot-lineage-sized, so it is
    count-gated onto a broadcast join (AQE picks the strategy above the
    gate); liveness then folds with ONE partial-agg shuffle on the file
    key — reference edges never self-join and never sort.
    """
    plan = plan_df.select(
        table_col,
        snapshot_col,
        (F.col("status") != "expired").cast("long").alias("live"),
    )
    if plan.count() <= broadcast_threshold:
        plan = F.broadcast(plan)
    return (
        refs_df.select(table_col, snapshot_col, file_col)
        .join(plan, [table_col, snapshot_col])
        .groupBy(table_col, file_col)
        .agg(
            F.count("*").cast("long").alias("n_refs"),
            F.sum("live").cast("long").alias("n_live_refs"),
        )
        .withColumn("deletable", F.col("n_live_refs") == 0)
    )


def orphan_files_sql(
    refs_table: str,
    plan_sql: str,
    table_col: str = "tbl",
    snapshot_col: str = "snapshot_id",
    file_col: str = "file_id",
) -> str:
    """DuckDB twin of :func:`orphan_files` (``plan_sql`` is the full
    expiry-plan SELECT, inlined as a subquery)."""
    return f"""
      SELECT r.{table_col}, r.{file_col},
             CAST(count(*) AS BIGINT) AS n_refs,
             CAST(sum(CASE WHEN p.status <> 'expired' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_live_refs,
             sum(CASE WHEN p.status <> 'expired' THEN 1 ELSE 0 END) = 0
               AS deletable
      FROM {refs_table} r
      JOIN ({plan_sql}) p
        ON r.{table_col} = p.{table_col}
       AND r.{snapshot_col} = p.{snapshot_col}
      GROUP BY r.{table_col}, r.{file_col}
    """


def maintenance_report(
    snap_df: DataFrame,
    refs_df: DataFrame,
    table_col: str = "tbl",
    snapshot_col: str = "snapshot_id",
    ts_col: str = "committed_at",
    file_col: str = "file_id",
    retain_last: int = 3,
    older_than: str = "2024-01-25",
) -> DataFrame:
    """The one-row-per-table lakehouse maintenance decision artifact —
    what an operator reads before scheduling the expire + orphan-delete
    cycle: snapshot lineage size, how many snapshots the policy expires,
    the referenced-file population, and how many files become deletable
    once those snapshots are gone. Composes :func:`snapshot_expiry_plan`
    and :func:`orphan_files` into ONE plan (the ``corpus_health``
    discipline applied to the maintenance family); output is
    table-count-sized.
    """
    plan = snapshot_expiry_plan(
        snap_df, table_col, snapshot_col, ts_col, retain_last, older_than
    )
    orph = orphan_files(refs_df, plan, table_col, snapshot_col, file_col)
    snaps = plan.groupBy(table_col).agg(
        F.count("*").cast("long").alias("n_snapshots"),
        F.sum((F.col("status") == "expired").cast("long"))
        .cast("long")
        .alias("n_expired"),
    )
    files = orph.groupBy(table_col).agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum(F.col("deletable").cast("long"))
        .cast("long")
        .alias("n_deletable"),
        F.sum("n_refs").cast("long").alias("n_refs"),
        F.sum("n_live_refs").cast("long").alias("n_live_refs"),
    )
    return snaps.join(files, table_col, "left").select(
        table_col,
        "n_snapshots",
        "n_expired",
        F.coalesce("n_files", F.lit(0)).cast("long").alias("n_files"),
        F.coalesce("n_deletable", F.lit(0)).cast("long").alias(
            "n_deletable"
        ),
        F.coalesce("n_refs", F.lit(0)).cast("long").alias("n_refs"),
        F.coalesce("n_live_refs", F.lit(0)).cast("long").alias(
            "n_live_refs"
        ),
    )


def maintenance_report_sql(
    snap_table: str,
    refs_table: str,
    table_col: str = "tbl",
    snapshot_col: str = "snapshot_id",
    ts_col: str = "committed_at",
    file_col: str = "file_id",
    retain_last: int = 3,
    older_than: str = "2024-01-25",
) -> str:
    """DuckDB twin of :func:`maintenance_report`."""
    plan = snapshot_expiry_plan_sql(
        snap_table, table_col, snapshot_col, ts_col, retain_last, older_than
    )
    orph = orphan_files_sql(refs_table, plan, table_col, snapshot_col, file_col)
    return f"""
      SELECT s.{table_col},
             s.n_snapshots, s.n_expired,
             coalesce(f.n_files, 0) AS n_files,
             coalesce(f.n_deletable, 0) AS n_deletable,
             coalesce(f.n_refs, 0) AS n_refs,
             coalesce(f.n_live_refs, 0) AS n_live_refs
      FROM (
        SELECT {table_col},
               CAST(count(*) AS BIGINT) AS n_snapshots,
               CAST(sum(CASE WHEN status = 'expired' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_expired
        FROM ({plan}) GROUP BY {table_col}
      ) s
      LEFT JOIN (
        SELECT {table_col},
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN deletable THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_deletable,
               CAST(sum(n_refs) AS BIGINT) AS n_refs,
               CAST(sum(n_live_refs) AS BIGINT) AS n_live_refs
        FROM ({orph}) GROUP BY {table_col}
      ) f ON s.{table_col} = f.{table_col}
    """
