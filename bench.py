"""Benchmark harness (driver contract).

Runs every query from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line as the FINAL line
of stdout:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The consumer keeps only a bounded tail of stdout (round 1: a 2000-char
window sliced the 118-query JSON mid-line and parsing failed), so the
final line carries the headline-subset timings only and MUST stay well
under that window; the full per-query sweep is written to
``BENCH_FULL.json`` next to this script and echoed to stderr.

Each query executes to completion through the noop sink (full plan runs,
no driver-side collect cost skewing the number).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from daily_top_songs_etl_spark.pins import release_new_pins
from daily_top_songs_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline subset: one per workload class (scan+agg, window, dedup, join,
# string-agg, top-k) plus every extension operator present in the registry.
HEADLINE = [
    "pricing_summary",
    "flagship_delta",
    "priority_dedup",
    "topk_per_group",
    "string_agg",
    "left_join",
    "window_gap",
]


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM/session so the first timed query isn't charged startup:
    codegen + noop sink via the range query, then the parquet scan path
    (Hadoop FS init, footer reads, vectorized-reader codegen) via a
    trivial count over each input table."""
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format(
        "noop"
    ).save()
    # Warm the Arrow Python-runner path (worker pool spawn + pandas/pyarrow
    # import + Arrow codec init costs seconds ONCE per session; without
    # this the first mapInPandas query is charged session setup, not its
    # own work).
    def _identity(batches):
        yield from batches

    spark.range(1024).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_identity, "id long").write.mode("overwrite").format(
        "noop"
    ).save()
    # Warm through entrymod._t — the same loader the queries use — so the
    # one-time multi-file layout materialization (and its first read)
    # happens here, not inside the first timed query to touch each table.
    for tbl in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        try:
            entrymod._t(spark, sf_dir, tbl).selectExpr(
                "count(*)"
            ).write.mode("overwrite").format("noop").save()
        except Exception:
            pass


def reset_between_queries(spark, what: str) -> None:
    """Drop persisted storage between queries. clearCache() misses
    localCheckpoint RDD blocks (the LSH family checkpoints its signature
    tables); release them too or consecutive dedup queries inflate 2-3x
    on accumulated blocks."""
    spark.catalog.clearCache()
    release_new_pins(spark.sparkContext, set(), what)


def main() -> None:
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = entrymod.queries()
    # Headline first (stable ordering for round-over-round comparison),
    # then every other registered query in REGISTRY order — the registry
    # sequences build entries before their steady-state consumers
    # (pq_index_build before pq_encode_apply, ann_index_build before
    # ann_index_query), so the steady-state numbers are not charged the
    # first index construction the way alphabetical order charged them.
    names = [n for n in HEADLINE if n in registry]
    names += [n for n in registry if n not in names]
    # A/B subset hook (VERDICT r5 #2): SPARK_GRAFT_BENCH_ONLY="a,b,c"
    # restricts the sweep to the named queries while keeping the exact
    # same warmup, ordering, and between-query hygiene — so a subset run
    # in a fresh session is like-for-like comparable against the same
    # subset inside a full sweep. Unset (the driver's path) = full sweep.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in keep]
    # Steady-state protocol (VERDICT r6 #2, r8 #3): SPARK_GRAFT_BENCH_REPEAT=N
    # runs each query N times within the session and records the MIN — the
    # first execution pays per-query codegen/JIT (the cold-slot effect
    # BENCH_AB quantified at up to 2.8x) and is maximally exposed to host
    # burst interference (ROUND8.md §12: same-code sweeps spread 1.4x with
    # random per-query spikes). DEFAULT is now 2 (round-9): the driver's
    # unattended sweep and the committed BENCH_FULL.json record run the
    # SAME min-of-2 protocol, so the two hard bench signals can reproduce
    # each other within noise instead of diverging 1.4x on a bursty host.
    # Raw per-run timings are always recorded alongside the min.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2")))

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None

    warm_session(spark, SF_DIR)

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for i, name in enumerate(names):
        # Time construction + execution: iterative operators (kmeans, BPE
        # train, the pretrain funnel) legitimately run driver-sequenced
        # actions while BUILDING their result, so timing only the final
        # noop write would under-charge them.
        runs = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            df = registry[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(runs)
        all_runs[name] = runs
        # Between-query hygiene (outside the timed region): drop persisted
        # storage and periodically force a JVM GC so the ContextCleaner
        # reclaims dead broadcast/shuffle state. In a long single-session
        # sweep those otherwise accumulate until late queries run inside
        # GC thrash (observed: the same query 1.3 s fresh vs 60 s at
        # position ~115).
        reset_between_queries(spark, "bench")
        if (i + 1) % 5 == 0:
            spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if repeat > 1:
        full["repeat"] = repeat
        full["runs"] = all_runs
    # Subset runs write a sidecar, never the committed full-sweep record.
    full_name = "BENCH_FULL.json" if not only else "BENCH_SUBSET.json"
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), full_name
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    print(json.dumps(full), file=sys.stderr, flush=True)

    # Final stdout line: headline subset only — keeps the line far below
    # the consumer's stdout-tail window so it always parses.
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "sf": sf,
        "n_queries": len(timings),
        "repeat": repeat,
        "full_timings_file": "BENCH_FULL.json",
    }
    line = json.dumps(compact)
    assert len(line) < 1500, f"final bench line too long ({len(line)} chars)"
    print(line, flush=True)


if __name__ == "__main__":
    main()
