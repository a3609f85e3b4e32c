"""SparkSession factory.

The reference pins everything to UTC (``etl_pipeline.py:843`` uses
``datetime.now(timezone.utc)``), so the session timezone is UTC. AQE is on so
skewed shuffles re-plan at runtime; shuffle partitions default to the local
core count but are meant to be overridden (cluster deployments size this to
2-3x total cores). ANSI mode stays ON (Spark 4 default) — the reference's
Postgres layer is equally strict about types.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: Partition discovery never launches a Spark listing job (see get_spark).
SERIAL_PARTITION_DISCOVERY = str(2**31 - 1)


def get_spark(
    app_name: str = "daily-top-songs-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults are tuned for correctness-first local runs but every knob is the
    one you would set on a 1000-executor cluster too: AQE coalesces the
    post-shuffle partition count at runtime, so ``shuffle_partitions`` is a
    ceiling, not a constant cost.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow on: every Pandas-UDF extension operator rides this.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet writers emit dates/timestamps readable by external tools
        # (DuckDB oracle, the reference's consumers).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Partition discovery is a driver-side listing. Above the
        # threshold (default 32 paths) Spark lists directories with a
        # distributed job, one task per path: a read of the 365-date
        # ranking snapshot cost 1.7-1.9 s that way and 0.08 s serially.
        # The catalog backend is single-node POSIX (hardlinked file
        # reuse, a pid writer lock), so a listing job only spreads
        # readdir calls on one local directory over executor threads.
        # Sessions not built here (tools/driver_sim.py, tools/gen_sfx.py)
        # keep Spark's default. An object-store backend would serve the
        # file list from a manifest instead of listing directories.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            SERIAL_PARTITION_DISCOVERY,
        )
        # local[32] puts driver and all 32 executor threads in ONE JVM; an
        # undersized heap turns long sessions (the 110-query bench) into a
        # full-GC crawl. 32g on the 128 GiB test box; on a real cluster this
        # maps to ordinary per-executor memory sizing.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # The 144-query sweep compiles hundreds of whole-stage-codegen
        # classes; the JVM default ReservedCodeCacheSize (240m) fills up
        # ~2/3 through, after which the JIT disables itself and the tail
        # of the sweep runs interpreted (observed: the pretrain funnel at
        # position ~95 pays ~1.7x). 512m keeps the JIT on for the whole
        # session; Spark's own tuning guide recommends raising this for
        # codegen-heavy workloads. Only effective when this call launches
        # the JVM (always true for bench.py / fresh sessions).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
