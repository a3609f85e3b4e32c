"""Wall-clock profiler for one registry query: times every catalog call
and Spark action with its Python call site, so a lifecycle face's cost
decomposes into named sub-steps.

Usage:
    python tools/profile_face.py <query> [<query>...]

Runs each query twice (bench protocol is min-of-2; the second run is the
steady-state one) and prints the second run's call log, slowest first.
Instrumentation-only tool — never used by bench.py or the driver.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import reset_between_queries, warm_session
from daily_top_songs_etl_spark.session import get_spark
from daily_top_songs_etl_spark import catalog as catmod
try:  # Spark 4: instances are the classic subclass, patch that
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:
    from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

LOG: list[tuple[float, str, str]] = []


def _site() -> str:
    # nearest frame outside this file and outside pyspark internals
    for fr in reversed(traceback.extract_stack()[:-3]):
        fn = fr.filename
        if "profile_face" in fn or "/pyspark/" in fn or "/py4j/" in fn:
            continue
        return f"{os.path.basename(fn)}:{fr.lineno} in {fr.name}"
    return "?"


def _wrap(obj, attr, label):
    orig = getattr(obj, attr)

    def wrapped(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            LOG.append((time.perf_counter() - t0, label, _site()))

    setattr(obj, attr, wrapped)


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark(app_name="profile_face")
    spark.sparkContext.setLogLevel("ERROR")

    for cls_attr, label in [
        ("write", "cat.write"),
        ("read", "cat.read"),
        ("read_meta", "cat.read_meta"),
        ("append", "cat.append"),
        ("append_once", "cat.append_once"),
        ("commit_tables", "cat.commit"),
        ("stage_partition_delta", "cat.stage_delta"),
        ("overwrite_partitions", "cat.overwrite_parts"),
    ]:
        if hasattr(catmod.Catalog, cls_attr):
            _wrap(catmod.Catalog, cls_attr, label)
    for m, label in [
        ("localCheckpoint", "df.localCheckpoint"),
        ("collect", "df.collect"),
        ("first", "df.first"),
        ("count", "df.count"),
        ("head", "df.head"),
        ("isEmpty", "df.isEmpty"),
        ("cache", "df.cache"),
        ("persist", "df.persist"),
    ]:
        _wrap(DataFrame, m, label)
    _wrap(DataFrameReader, "parquet", "reader.parquet")
    _wrap(DataFrameWriter, "parquet", "writer.parquet")
    _wrap(DataFrameWriter, "save", "writer.save")

    registry = entrymod.queries()
    warm_session(spark, SF_DIR)

    for name in names:
        for run in (1, 2):
            LOG.clear()
            t0 = time.perf_counter()
            df = registry[name](spark, SF_DIR)
            t_build = time.perf_counter() - t0
            df.write.mode("overwrite").format("noop").save()
            t_total = time.perf_counter() - t0
            reset_between_queries(spark, "profile_face")
            if run == 2:
                print(f"\n=== {name}: total {t_total:.3f}s "
                      f"(construct {t_build:.3f}s, "
                      f"final noop {t_total - t_build:.3f}s)", flush=True)
                # keep only outermost calls: drop entries fully nested is
                # hard; just print all, slowest first
                acc = sum(t for t, _, _ in LOG)
                print(f"    instrumented calls: {len(LOG)}, "
                      f"sum {acc:.3f}s (nested calls double-count)")
                for t, label, site in sorted(LOG, reverse=True)[:40]:
                    print(f"  {t:7.3f}s  {label:20s} {site}")


if __name__ == "__main__":
    main()
