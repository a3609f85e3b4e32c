"""Incremental micro-batch ingestion — the daily cron, Sparkified.

The reference runs once a day from cron (``.github/workflows/etl.yml:4-5``)
and loads ≤20 rows. The Spark-native shape (SURVEY.md §1.4): daily batches
land as files in a landing directory; a Structured Streaming job with
``trigger(availableNow=True)`` drains whatever has arrived, applying each
file-batch through the same ``run_daily_batch`` operator chain inside
``foreachBatch`` — the upsert family is idempotent (anti-join against
current keys), so at-least-once file delivery is safe.

This is exactly the reference's operational model with the cron scheduler
replaced by checkpointed source tracking: re-running the job never
re-applies a consumed batch, and a backlog of N missed days drains in one
run (the reference would need N manual runs).

Each micro-batch is evaluated once per run, as the Structured Streaming
guide advises for a ``foreachBatch`` body that feeds several sinks
(``persist()`` … ``unpersist()``): ``run_daily_batch`` persists the batch
on entry and releases it before returning, so its upserts, conflict
check, CSV mirrors and commit share one evaluation of the micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import types as T

from .. import schemas
from ..catalog import Catalog
from ..pipeline import run_daily_batch

# Landed batches carry their own date (a drained backlog keeps history);
# without the column, the pipeline stamps one UTC load date per batch.
LANDING_SCHEMA = T.StructType(
    list(schemas.DAILY_BATCH.fields)
    + [T.StructField("batch_date", T.DateType(), nullable=True)]
)


def run_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    catalog: Catalog,
    checkpoint_dir: str,
    csv_mirror_dir: str | None = None,
) -> None:
    """Drain all available daily-batch parquet files from ``landing_dir``
    through the upsert/maintain chain; blocks until the backlog is empty."""
    stream = (
        spark.readStream.schema(LANDING_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one landed file = one daily batch
        .parquet(landing_dir)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_daily_batch(catalog, batch_df, csv_mirror_dir=csv_mirror_dir)

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
