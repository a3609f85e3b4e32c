"""Incremental materialized aggregate views: exactly-once IVM over the
versioned catalog.

The reference's Postgres views recompute on read; the 100 TB analogue is
a continuously-maintained aggregate state table plus an APPLIED-BATCH
LEDGER for exactly-once semantics: scalar state (count/sum) is NOT
idempotent under replay (unlike the HLL sketch state), so at-least-once
delivery needs bookkeeping. Each refresh runs the one exactly-once path
of ``operators/ledger`` (:func:`~.ledger.apply_once`; ``stage_refresh``
is its stage half), with the state table as the ledger table: the
ledger check, the state read, the merge and the commit all happen under
one writer-lock hold, and state and ledger publish together.

Two algebras fill the skeleton:

- monoid (:class:`IncrementalView`): the count/sum/min/max state of
  ``operators/incremental``; merge is one union + re-aggregation.
- group (:class:`RetractableView`): count/sum only — the measures with
  an inverse — so a DELETE batch merges as a negated delta, keys whose
  count reaches zero drop out, and a delete against a view with no
  state is refused.

Layout is the only other difference. Without a partition key a refresh
rewrites the whole state table (``Catalog.stage_table``); with one
(:class:`PartitionedIncrementalView`, :class:`PartitionedRetractableView`)
it rewrites only the partitions the batch touches
(``Catalog.stage_partition_delta``) and reuses the rest byte-identically.
Every stored state goes through the algebra's ``_canon`` (fixed column
types), so surviving partition files always match new ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Catalog
from .incremental import agg_state, finalize, merge_states
from .ledger import applied_count, apply_once, stage_once


class _LedgeredView:
    """The ledgered view skeleton. Subclasses supply the algebra —
    ``_delta(batch, delete)``, ``_merge(state, delta)``,
    ``_canon(state)`` and ``read()`` — and the partitioned layout sets
    ``partition_key``."""

    partition_key: str | None = None

    def __init__(
        self, catalog: Catalog, name: str, keys: list[str], value_col: str
    ) -> None:
        self.catalog = catalog
        self.name = name
        self.keys = keys
        self.value_col = value_col

    def applied_count(self) -> int:
        """Total batches ever applied (ledger observability — the ledger
        itself is compacted to per-prefix high-water marks)."""
        return applied_count(self.catalog, self.name)

    def _stager(self, batch: DataFrame, delete: bool):
        """The ``stage(meta)`` callback of one batch's merge: stage the
        merged state (with ``meta``, the updated ledger) and return
        ``{name: staged_version}``."""

        def stage(meta: dict) -> dict:
            cat, pk = self.catalog, self.partition_key
            exists = cat.exists(self.name)
            if delete and not exists:
                raise ValueError(
                    f"cannot retract from {self.name!r}: no state exists — "
                    "a delete batch can only negate previously-applied rows"
                )
            if pk is None or not exists:
                # whole-table write: every refresh of an unpartitioned
                # view, and the first of a partitioned one — the delta is
                # read once
                state = self._delta(batch, delete)
                if exists:
                    state = self._merge(cat.read(self.name), state)
                staged_v = cat.stage_table(
                    self._canon(state),
                    self.name,
                    meta=meta,
                    partition_by=[pk] if pk else None,
                )
                return {self.name: staged_v}
            # Pin the batch-sized delta once (consumed twice: touched-
            # partition listing + merge); the ledger path releases it.
            delta = self._delta(batch, delete).localCheckpoint(eager=True)
            touched = [
                r[0] for r in delta.select(pk).distinct().collect()
            ]  # bounded: one value per partition the batch touches
            state = cat.read(self.name)
            # The pruned scan is the whole point: the merge never reads
            # untouched history. Partition-type inference can read pk
            # back as a different type (date-like strings come back as
            # DATE): filter on the raw column so PartitionFilters prune,
            # cast to the delta's type after.
            pruned = state.filter(F.col(pk).isin(touched))
            pk_type = delta.schema[pk].dataType
            if state.schema[pk].dataType != pk_type:
                pruned = pruned.withColumn(pk, F.col(pk).cast(pk_type))
            staged_v = cat.stage_partition_delta(
                self._canon(self._merge(pruned, delta)),
                self.name,
                touched,
                partition_by=[pk],
                meta=meta,
            )
            return {self.name: staged_v}

        return stage

    def _stage(
        self, batch: DataFrame, batch_id: str, delete: bool = False
    ) -> dict | None:
        return stage_once(
            self.catalog, self.name, batch_id, self._stager(batch, delete)
        )

    def _refresh(
        self, batch: DataFrame, batch_id: str, delete: bool = False
    ) -> bool:
        return apply_once(
            self.catalog, self.name, batch_id, self._stager(batch, delete)
        )


class _PartitionedLayout(_LedgeredView):
    """Layout mixin of the two partitioned views: the state table is
    partitioned by ``partition_key`` (one of the group keys), which
    routes :meth:`_LedgeredView._stager` through the partition-scoped
    merge and adds :meth:`compact`."""

    def __init__(
        self,
        catalog: Catalog,
        name: str,
        keys: list[str],
        value_col: str,
        partition_key: str,
    ) -> None:
        if partition_key not in keys:
            raise ValueError(
                f"partition_key {partition_key!r} must be one of the "
                f"group keys {keys} — a partition column outside the "
                "grouping would split groups across partitions"
            )
        super().__init__(catalog, name, keys, value_col)
        self.partition_key = partition_key

    def compact(self, max_files_per_partition: int) -> list:
        """Rewrite only the partitions holding more than
        ``max_files_per_partition`` data files into one file each,
        reusing the rest byte-identically; content, finalized view, and
        ledger are unchanged (see :func:`compact_view_partitions`)."""
        return compact_view_partitions(
            self.catalog,
            self.name,
            self.partition_key,
            self._canon,
            max_files_per_partition,
        )


class IncrementalView(_LedgeredView):
    """A named, catalog-backed incrementally-maintained aggregate: the
    count/sum/min/max monoid state of ``operators/incremental``."""

    def _delta(self, batch: DataFrame, delete: bool) -> DataFrame:
        return agg_state(batch, self.keys, self.value_col)

    def _merge(self, state: DataFrame, delta: DataFrame) -> DataFrame:
        return merge_states(state, delta, self.keys)

    def _canon(self, state: DataFrame) -> DataFrame:
        """Pin the stored state schema: merge_states widens sum_val's
        decimal precision per merge, and a partitioned state keeps old
        files beside new ones — mixed decimal footers in one snapshot
        are an unreadable table."""
        return state.select(
            *self.keys,
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("sum_val").cast("decimal(38,6)").alias("sum_val"),
            F.col("min_val").alias("min_val"),
            F.col("max_val").alias("max_val"),
        )

    def refresh(self, batch: DataFrame, batch_id: str) -> bool:
        """Merge one batch into the view state. Returns False (no state
        touched) if ``batch_id`` was already applied — the exactly-once
        guard; True once the new snapshot is committed."""
        return self._refresh(batch, batch_id)

    def read(self) -> DataFrame:
        """The user-facing finalized view (avg/sum/min/max projection)."""
        return finalize(self.catalog.read(self.name), self.keys)


class PartitionedIncrementalView(_PartitionedLayout, IncrementalView):
    """Incrementally-maintained aggregate whose state table is
    PARTITIONED by one of its group keys (a date/month bucket in
    practice) and refreshed partition-scoped: a micro-batch reads only
    the state partitions its rows fall in (partition-pruned scan),
    merges, and stages a version where every untouched partition is
    reused byte-identically (``Catalog.stage_partition_delta`` —
    hardlink here, manifest reuse on an object store). The state
    HISTORY is never rescanned (the monoid-merge property all
    IncrementalViews share) **nor rewritten** (what this class adds) —
    the 100 TB daily-batch shape, composing the round-9 fact-commit
    machinery with IVM (round-9 verdict next-round #8)."""

    def stage_refresh(self, batch: DataFrame, batch_id: str) -> dict | None:
        """Stage (WITHOUT publishing) one batch's partition-scoped merge
        and return ``{table: staged_version}`` for
        ``Catalog.commit_tables(staged=...)`` — so a daily batch can
        publish its fact delta AND its downstream materializations under
        ONE intent manifest (no crash window where the fact shows a day
        the matview doesn't). Returns None if ``batch_id`` was already
        applied. Call under a held ``catalog.writer_lock()``."""
        return self._stage(batch, batch_id)


#: Retractable state carries only the GROUP-invertible measures: count
#: and sum form a group (every element has an inverse), so deletes merge
#: as negated deltas. min/max are deliberately absent — they are
#: monoid-only (no inverse: retracting the current max requires the
#: full history to find the runner-up), the classic IVM limitation.
RETRACT_STATE_COLS = ("cnt", "sum_val")


class RetractableView(_LedgeredView):
    """Incrementally-maintained aggregate that also supports DELETE
    batches — the reference's retention-purge semantics
    (``delete_old_ranking_records_fn``) maintained incrementally: a
    delete batch merges as a NEGATED delta instead of forcing a
    recompute of the surviving history. Insert and delete batches share
    one ledger id namespace, so a replayed delete is refused the same
    way a replayed insert is; a delete against a view with no state is
    refused with ValueError (there is nothing to negate).

    Keys whose count reaches zero are dropped at merge time, so a
    fully-retracted group disappears from the view exactly as it would
    from a recompute."""

    def _delta(self, batch: DataFrame, delete: bool) -> DataFrame:
        v = F.col(self.value_col).cast("decimal(18,6)")
        cnt = F.count(F.lit(1)).cast("bigint")
        sm = F.sum(v)
        if delete:
            cnt, sm = -cnt, -sm
        return batch.groupBy(*self.keys).agg(
            cnt.alias("cnt"), sm.alias("sum_val")
        )

    def _merge(self, state: DataFrame, delta: DataFrame) -> DataFrame:
        cols = [*self.keys, *RETRACT_STATE_COLS]
        return (
            state.select(*cols)
            .unionByName(delta.select(*cols))
            .groupBy(*self.keys)
            .agg(F.sum("cnt").alias("cnt"), F.sum("sum_val").alias("sum_val"))
            # fully-retracted keys leave the state, as in a recompute
            .filter(F.col("cnt") != 0)
        )

    def _canon(self, state: DataFrame) -> DataFrame:
        """Pin the stored state schema (see :meth:`IncrementalView._canon`)."""
        return state.select(
            *self.keys,
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("sum_val").cast("decimal(38,6)").alias("sum_val"),
        )

    def refresh(
        self, batch: DataFrame, batch_id: str, delete: bool = False
    ) -> bool:
        """Merge one insert (or, with ``delete=True``, retract) batch.
        Returns False untouched if ``batch_id`` was already applied."""
        return self._refresh(batch, batch_id, delete)

    def read(self) -> DataFrame:
        """Finalized view: n_rows / sum_value / avg_value (the
        group-invertible measures only)."""
        state = self.catalog.read(self.name)
        return state.select(
            *self.keys,
            F.col("cnt").cast("bigint").alias("n_rows"),
            F.col("sum_val").cast("double").alias("sum_value"),
            F.round(
                F.col("sum_val").cast("double") / F.col("cnt").cast("double"),
                6,
            ).alias("avg_value"),
        )


class PartitionedRetractableView(_PartitionedLayout, RetractableView):
    """IVM with DELETE batches over a state table PARTITIONED by one of
    its group keys — the composition the round-10 verdict named as the
    retention-purge-at-scale shape (next-round #3): the reference's
    delete_old_ranking_records_fn (create_schema_behavior.sql:74-80)
    composed with a downstream materialization must retract ONLY the
    date partitions the expired slice falls in, not rewrite the view.

    A delete batch merges as a NEGATED delta into exactly the partitions
    it touches; a partition whose every key fully retracts disappears
    from the staged version entirely (the merged frame carries no rows
    for it, so ``stage_partition_delta`` neither rewrites nor reuses
    it) — partition-level deletion falls out of the row-level algebra
    with no special case."""

    def stage_refresh(
        self, batch: DataFrame, batch_id: str, delete: bool = False
    ) -> dict | None:
        """Stage (WITHOUT publishing) one insert — or, with
        ``delete=True``, retract — batch's partition-scoped merge;
        contract identical to
        :meth:`PartitionedIncrementalView.stage_refresh` (call under a
        held writer lock, publish via ``commit_tables(staged=...)``,
        None = already applied)."""
        return self._stage(batch, batch_id, delete)


def compact_view_partitions(
    catalog: Catalog,
    name: str,
    partition_key: str,
    canon,
    max_files_per_partition: int,
) -> list:
    """Partition-local compaction for the partitioned matviews
    (round-10 verdict next-round #7): rewrite ONLY the partitions whose
    data-file count exceeds ``max_files_per_partition`` — each merged
    refresh writes a touched partition with one file per shuffle task
    carrying rows for it, so a hot partition can sit at dozens of tiny
    files — and republish every other partition byte-identically via
    ``stage_partition_delta``. The rewrite repartitions by the
    partition column, so every compacted partition lands as ONE file.

    Pure physical reorganization: row content, the finalized view, and
    the applied-batch ledger are all unchanged (``meta=None`` rides the
    current ``_meta.json`` into the new version). File counts come from
    :meth:`Catalog.file_sizes`, never a filesystem walk. Returns the
    partition values rewritten (empty = nothing over bound, no new
    version committed)."""
    if max_files_per_partition < 1:
        raise ValueError("max_files_per_partition must be >= 1")
    prefix = f"{partition_key}="
    counts: dict[str, int] = {}
    for rel in catalog.file_sizes(name):
        head, _, _tail = rel.partition("/")
        if head.startswith(prefix):
            counts[head[len(prefix):]] = counts.get(head[len(prefix):], 0) + 1
    over = sorted(v for v, n in counts.items() if n > max_files_per_partition)
    if not over:
        return []
    with catalog.writer_lock():
        state = catalog.read(name)
        pruned = state.filter(F.col(partition_key).isin(over))
        compacted = canon(pruned).repartition(F.col(partition_key))
        staged_v = catalog.stage_partition_delta(
            compacted, name, over, partition_by=[partition_key]
        )
        catalog.commit_tables({}, staged={name: staged_v})
    return over
