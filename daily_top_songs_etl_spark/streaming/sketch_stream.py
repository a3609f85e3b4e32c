"""Streaming face of the statistics sketches: persisted CMS + KMV state
folded forward per micro-batch, exactly-once.

Frequency (count-min) and distinct (k-minimum-values) summaries are the
statistics a pipeline keeps PER HOUR and merges on read — both are
mergeable summaries, so continuous maintenance is just "sketch the
batch, merge, commit". The commit is the one exactly-once path of
``operators/ledger`` (``apply_once``): both merged tables stage under
one writer-lock hold and publish under one ``commit_tables`` manifest,
with the applied-batch ledger in the CMS table's ``_meta.json``. CMS
cell-wise addition is not idempotent, so the ledger refusing a replay is
what keeps the counters exact; a crash before the commit leaves both
tables and the ledger as they were.

Scale shape: per batch, one map-side-combinable sketch build over the
batch rows, a merge against ``depth·width`` (CMS) / ``k`` (KMV) stored
rows, and two bounded writes. Nothing scales with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..operators.heavyhitters import cms_build, kmv_sketch
from ..operators.ledger import apply_once


def build_sketch_state(
    catalog: Catalog,
    name: str,
    items: DataFrame,
    col: str,
    width: int = 8192,
    depth: int = 4,
    kmv_k: int = 256,
) -> None:
    """Materialize the initial sketch state tables ``{name}__cms`` and
    ``{name}__kmv`` from a seed corpus; parameters ride the CMS table's
    meta so every later merge sketches batches identically."""
    catalog.write(
        cms_build(items, col, width=width, depth=depth),
        f"{name}__cms",
        meta={
            "width": width,
            "depth": depth,
            "kmv_k": kmv_k,
            "key_col": col,
        },
    )
    catalog.write(kmv_sketch(items, col, k=kmv_k), f"{name}__kmv")


def merge_sketch_batch(
    catalog: Catalog,
    name: str,
    batch: DataFrame,
    batch_id: int | str | None = None,
) -> bool:
    """Fold one micro-batch into the persisted sketch state. With a
    ``batch_id``, the compacted applied-batch ledger refuses any
    already-applied id, an out-of-order replay of an older batch
    included. Returns False (nothing touched) for a refused replay,
    True once both tables are committed."""
    cms_t, kmv_t = f"{name}__cms", f"{name}__kmv"

    def stage(meta: dict) -> dict:
        col, kmv_k = meta["key_col"], meta["kmv_k"]
        # No pins: each merge is referenced once (its staged write), and
        # staging v+1 while the plan reads v is safe in the versioned
        # catalog.
        kmv = (
            catalog.read(kmv_t)
            .unionByName(kmv_sketch(batch, col, k=kmv_k))
            .distinct()
            .orderBy("hv")
            .limit(kmv_k)
        )
        cms = (
            catalog.read(cms_t)
            .unionByName(
                cms_build(batch, col, width=meta["width"], depth=meta["depth"])
            )
            .groupBy("i", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        return {
            kmv_t: catalog.stage_table(kmv, kmv_t),
            cms_t: catalog.stage_table(cms, cms_t, meta=meta),
        }

    return apply_once(catalog, cms_t, batch_id, stage)


def run_sketch_stream(
    spark: SparkSession,
    landing_dir: str,
    landing_schema,
    catalog: Catalog,
    name: str,
    checkpoint_dir: str,
) -> None:
    """Drain landed batch files into the persisted sketch state; blocks
    until drained. :func:`build_sketch_state` must have run — the state
    tables carry the sketch parameters every batch must share."""
    if not catalog.exists(f"{name}__cms"):
        raise ValueError(
            f"sketch state {name!r} not built — run build_sketch_state "
            "before streaming"
        )

    stream = (
        spark.readStream.schema(landing_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_sketch_batch(
            catalog,
            name,
            batch_df.localCheckpoint(eager=True),
            batch_id=batch_id,
        )

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
