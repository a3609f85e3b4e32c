"""Streaming admission control: per-source quota enforced exactly-once
across micro-batches — the continuous-ingest face of
``mixture.source_quota``.

A crawl pipeline admits documents as they land; the domain-balancing cap
("at most N pages per host") must hold across ALL batches ever ingested,
first-come-first-served, and must not drift under the at-least-once
replays ``foreachBatch`` delivers. Semantics: within a batch, a group's
candidates are ordered by the portable md5 bucket (ties by id) — the
same content-independent order the batch operator uses — and a candidate
is admitted iff the group's lifetime admitted count stays ≤ cap. The
admitted set therefore depends on arrival order across batches (FCFS),
and within a batch only on the deterministic hash order, so the whole
history is replayable as one SQL statement (the oracle orders by
(batch, bucket, id)).

State (two catalog tables), written through the one exactly-once path
of ``operators/ledger`` (``apply_once``) with ``{name}__counts`` as the
ledger table:

- ``{name}__admitted`` — the admitted rows, grown via
  ``catalog.append_once`` keyed by batch id: a replayed append converges
  to one copy of the batch's rows.
- ``{name}__counts`` — one row per group (group, n_admitted), staged each
  batch with the applied-batch ledger in its meta and published by one
  ``commit_tables``. A replay before that commit recomputes the
  IDENTICAL admitted set (batch rows, pre-batch counts and cap are
  unchanged and the ranking is deterministic).

Scale shape: the per-batch ranking window is batch-sized (partitioned on
the group within the batch); the counts table is O(#groups) — the same
compact-state class as the incremental matview — and the only history-
proportional artifact is the admitted table itself, which only ever
grows by appends. Extension family (no reference analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..extensions.mixture import _md5_bucket64k
from ..operators.ledger import apply_once


def admit_quota_batch(
    catalog,
    name: str,
    batch_df: DataFrame,
    batch_id: int | str,
    group_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 20,
) -> bool:
    """Fold one micro-batch through the quota gate. Returns False (no
    state touched) if ``batch_id`` was already applied; True once the
    admitted rows and the updated counts are committed."""
    counts_tbl = f"{name}__counts"
    admitted_tbl = f"{name}__admitted"

    def stage(meta: dict) -> dict:
        if catalog.exists(counts_tbl):
            counts = catalog.read(counts_tbl)
        else:
            counts = batch_df.sparkSession.createDataFrame(
                [], f"{group_col} string, n_admitted bigint"
            )
        w = Window.partitionBy(group_col).orderBy("hash_bucket", id_col)
        ranked = (
            batch_df.select(
                F.col(group_col),
                F.col(id_col),
                _md5_bucket64k(id_col).alias("hash_bucket"),
            )
            .withColumn("__rn", F.row_number().over(w))
        )
        admitted = (
            ranked.join(counts, group_col, "left")
            .withColumn("__prior", F.coalesce("n_admitted", F.lit(0)))
            .filter(F.col("__prior") + F.col("__rn") <= cap)
            .select(
                group_col,
                id_col,
                "hash_bucket",
                (F.col("__prior") + F.col("__rn"))
                .cast("int")
                .alias("admit_rank"),
            )
        )
        # Pin the admitted set: it is read twice (append + counts delta)
        # and must be one consistent answer for the replay argument.
        admitted = admitted.localCheckpoint(eager=True)
        catalog.append_once(admitted, admitted_tbl, batch_id)
        delta = admitted.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("__adds")
        )
        new_counts = counts.join(delta, group_col, "full").select(
            group_col,
            (
                F.coalesce("n_admitted", F.lit(0))
                + F.coalesce("__adds", F.lit(0))
            )
            .cast("bigint")
            .alias("n_admitted"),
        )
        staged_v = catalog.stage_table(new_counts, counts_tbl, meta=meta)
        return {counts_tbl: staged_v}

    return apply_once(catalog, counts_tbl, batch_id, stage)


def run_quota_admission_stream(
    spark: SparkSession,
    landing_dir: str,
    landing_schema,
    catalog,
    name: str,
    checkpoint_dir: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 20,
) -> None:
    """Drain all landed document files through the quota gate; blocks
    until drained. ``foreachBatch`` supplies the monotone batch ids the
    ledger compacts to constant-size meta."""
    stream = (
        spark.readStream.schema(landing_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        admit_quota_batch(
            catalog,
            name,
            batch_df,
            batch_id,
            group_col=group_col,
            id_col=id_col,
            cap=cap,
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
