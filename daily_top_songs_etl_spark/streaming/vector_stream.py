"""Streaming face of the persisted ANN index: continuous vector ingest.

Embeddings land continuously in a production vector store; rebuilding
the IVF index per batch is a corpus-sized cost, so the steady state is
the classic two-tier lifecycle — train rarely, ingest constantly. Each
micro-batch here folds into the STORED index via
:func:`..extensions.ann_index.append_to_ann_index`: nearest stored
centroid assignment (broadcast k rows — batch-sized work), partitioned
list append, O(k) occupancy bookkeeping. Works unchanged on both index
layouts (flat lists and PQ-coded lists — the codes come from the STORED
codebook, no retraining).

Replay safety: foreachBatch is at-least-once; `append_to_ann_index`
with a ``batch_id`` is exactly-once by construction — list growth goes
through ``catalog.append_once`` (idempotent per batch id) and the
occupancy update commits with the applied-batch ledger in the centroid
table's meta (``operators/ledger.apply_once``). No separate marker
ledger is needed; the index tables carry their own.

Scale shape: per-batch work is O(batch · k) for assignment plus the
batch-sized append; nothing scales with the stored corpus. Queries
racing an append read a consistent snapshot (catalog versioning).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..extensions.ann_index import append_to_ann_index


def run_vector_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    landing_schema,
    catalog,
    name: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
) -> None:
    """Drain all landed embedding files into the persisted ANN index;
    blocks until drained. Rows need ``id_col`` and ``embedding``
    columns. The index (``build_ann_index`` or ``build_ivfpq_index``)
    must exist — ingest without a trained quantizer has nowhere to
    route vectors."""
    if not catalog.exists(f"{name}__centroids"):
        raise ValueError(
            f"ANN index {name!r} not built — run build_ann_index / "
            "build_ivfpq_index before streaming ingest"
        )

    stream = (
        spark.readStream.schema(landing_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_to_ann_index(
            catalog,
            name,
            batch_df.localCheckpoint(eager=True),
            id_col=id_col,
            batch_id=batch_id,
        )

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
