"""Deterministic cost fingerprint for registry queries: counts Spark
jobs, stages, and tasks each face triggers (construction + final noop),
via the status tracker and a per-face job group. Job/stage counts are
host-noise-independent — the structural evidence the wall-clock on a
bursty host cannot give.

Usage:
    python tools/jobcount_face.py <query> [<query>...]

Runs each query twice and reports the SECOND run (steady-state; the
first pays codegen and any first-touch table materialization).
Instrumentation-only tool — never used by bench.py or the driver.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import reset_between_queries, warm_session
from daily_top_songs_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark(app_name="jobcount_face")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    registry = entrymod.queries()

    warm_session(spark, SF_DIR)

    tracker = sc.statusTracker()
    for name in names:
        for run in (1, 2):
            group = f"jc-{name}-{run}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = registry[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = n_tasks = 0
            for jid in job_ids:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        n_stages += 1
                        n_tasks += si.numCompletedTasks
            reset_between_queries(spark, "jobcount_face")
            if run == 2:
                print(
                    f"{name}: jobs={len(job_ids)} stages={n_stages} "
                    f"tasks={n_tasks} wall={wall:.3f}s",
                    flush=True,
                )


if __name__ == "__main__":
    main()
