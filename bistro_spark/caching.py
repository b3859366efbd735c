"""Executor-storage lifecycle for pinned intermediates.

Several operators materialize an intermediate with ``localCheckpoint``
(connected-components rounds, ``global_rank``'s range-partitioned table,
the shared dedup cluster assignment): the blocks are pinned in executor
storage and — unlike ``persist()`` — a local checkpoint TRUNCATES
lineage, so a released block can never be recomputed. Spark exposes no
DataFrame-level release for them; the blocks live until the session
dies. On a long-lived session (a bench suite, a streaming driver, a
notebook) that is a leak: round-3 measurements showed queries running
after the dedup family paying 1.9-3.7x in GC pressure from blocks
nobody would ever read again.

This module tracks pinned RDD ids via ``SparkContext.getPersistentRDDs``
(public Scala API, reached through the JVM gateway — classic mode only,
not Spark Connect) and releases them once their last consumer is done:

- :func:`pin` — ``localCheckpoint(eager=True)`` + return the newly
  pinned RDD ids so the caller can release them explicitly; ``keep=True``
  exempts them from scope-based release (for cross-query shared caches).
- :func:`pin_scope` — context manager: snapshot pinned ids on entry,
  release everything newly pinned on exit (except keep-pinned). Wrap
  each independent query execution in one; any ``localCheckpoint``
  created inside — by this module or not — is freed at exit.
- :func:`release` — free a specific id set (the keep-cache's hook).
- :class:`PinOwner` — the base of every streaming twin that pins state:
  it owns the twin's pinned blocks by lifetime, so no twin keeps its own
  id bookkeeping. A **state** pin (``_pin(df)``) joins the generation
  being built; ``_commit()`` makes it current and frees the generation
  it replaces. A **trigger** pin (``_pin(df, trigger=True)``: deltas and
  outputs) is freed by the next ``_begin()``, called when a trigger
  starts. ``_carry(frame)`` moves a frame pinned earlier (current
  generation or trigger lifetime) into the generation being built, so a
  pin can live as long as its rows are retained without being copied
  again. ``_sweep()`` frees whatever the twin's batch operator pinned
  internally and the owner does not own; ``close()`` frees everything,
  drops the twin's frames and is idempotent; ``owned_ids`` is the owned
  set, read-only.

CAUTION: a released checkpoint CANNOT be recomputed (the executor raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``) — only release after every
consumer has fully executed. The id-diff bookkeeping assumes one thread
pins at a time (true for the bench/contract drivers; concurrent jobs
should pass explicit ids from :func:`pin`).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# ids exempt from scope-based release: shared caches that outlive one query
_KEEP: set[int] = set()


def _jmap(spark: SparkSession):
    return spark.sparkContext._jsc.getPersistentRDDs()


def pinned_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently pinned in executor storage (cached,
    persisted, or local-checkpointed)."""
    return {int(k) for k in _jmap(spark).keySet().toArray()}


def pin(df: DataFrame, keep: bool = False) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint(eager=True)`` with tracked block ownership.

    Returns ``(checkpointed_df, pinned_rdd_ids)``; pass the ids to
    :func:`release` after the last consumer finishes. ``keep=True``
    registers the ids as scope-exempt (shared cross-query caches that an
    explicit release hook frees instead)."""
    spark = df.sparkSession
    before = pinned_ids(spark)
    out = df.localCheckpoint(eager=True)
    ids = pinned_ids(spark) - before
    if keep:
        _KEEP.update(ids)
    return out, ids


def release(spark: SparkSession, ids: set[int]) -> int:
    """Free the given pinned RDD ids (no-op for ids already gone).
    Returns the number of RDDs released."""
    jm = _jmap(spark)
    n = 0
    for k in list(jm.keySet().toArray()):
        ik = int(k)
        if ik in ids:
            jm.get(k).unpersist(False)
            _KEEP.discard(ik)
            n += 1
    return n


def release_new_pins(
    spark: SparkSession, before: set[int], exclude: set[int] = frozenset()
) -> int:
    """Free every RDD pinned since ``before`` was snapshotted, except
    keep-pinned ids and ``exclude`` (ids the caller still owns — e.g. the
    output checkpoint it is about to hand downstream). Returns the number
    released."""
    jm = _jmap(spark)
    n = 0
    for k in list(jm.keySet().toArray()):
        ik = int(k)
        if ik not in before and ik not in _KEEP and ik not in exclude:
            jm.get(k).unpersist(False)
            n += 1
    return n


@contextmanager
def pin_scope(spark: SparkSession):
    """Scope whose pinned intermediates are freed on exit.

    Wrap one fully-executed query (plan built AND collected inside): on
    exit, every block pinned during the scope — localCheckpoints from
    ``global_rank``, CC rounds, candidate materializations — is
    released. Do NOT let a lazy DataFrame built inside escape and
    execute later: its checkpointed inputs will be gone."""
    before = pinned_ids(spark)
    try:
        yield
    finally:
        release_new_pins(spark, before)


class PinOwner:
    """Owner of a streaming twin's pinned executor blocks (see the module
    docstring for the two lifetimes). A twin subclasses it and calls
    ``super().__init__(spark)``; it then never touches an id."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._gen: set[int] = set()  # the current state generation
        self._next_gen: set[int] = set()  # pinned since the last commit
        self._trigger: set[int] = set()  # freed when the next trigger starts
        self._ids: dict[DataFrame, frozenset[int]] = {}  # live pins, for _carry

    @property
    def owned_ids(self) -> frozenset[int]:
        """Ids of every block this twin owns now (read-only)."""
        return frozenset(self._gen | self._next_gen | self._trigger)

    def _release(self, ids: set[int]) -> None:
        release(self.spark, ids)
        self._ids = {
            df: own for df, own in self._ids.items() if own.isdisjoint(ids)
        }

    def _begin(self) -> None:
        """A trigger starts: free the previous trigger's blocks."""
        self._release(self._trigger)
        self._trigger = set()

    def _pin(self, df: DataFrame, trigger: bool = False) -> DataFrame:
        """:func:`pin` ``df`` into the generation being built, or with
        trigger lifetime."""
        out, ids = pin(df)
        (self._trigger if trigger else self._next_gen).update(ids)
        self._ids[out] = frozenset(ids)
        return out

    def _carry(self, frame: DataFrame) -> None:
        """Keep ``frame``, returned by an earlier :meth:`_pin` of the
        current generation or of this trigger, alive in the generation
        being built."""
        ids = self._ids[frame]
        self._gen -= ids
        self._trigger -= ids
        self._next_gen |= ids

    def _commit(self) -> None:
        """The generation being built replaces the current one, which is
        freed now. Call it after the last read of the old generation."""
        old, self._gen, self._next_gen = self._gen, self._next_gen, set()
        self._release(old)

    @contextmanager
    def _sweep(self):
        """Free, on exit, every block pinned inside that this owner does
        not own (keep-pinned shared caches excepted: a raw set-difference
        release would free them, and a released checkpoint cannot be
        recomputed)."""
        before = pinned_ids(self.spark)
        try:
            yield
        finally:
            release_new_pins(self.spark, before, exclude=self.owned_ids)

    def close(self) -> None:
        """Free every block this twin owns and drop the twin's frames,
        which read them; a second call is a no-op."""
        release(self.spark, self.owned_ids)
        self._gen, self._next_gen, self._trigger = set(), set(), set()
        self._ids = {}
        for name, value in list(vars(self).items()):
            if isinstance(value, DataFrame):
                setattr(self, name, None)
