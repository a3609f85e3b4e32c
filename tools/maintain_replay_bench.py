"""Scale spot-bench for the maintenance cascade (VERDICT r8 #7).

Seeds a replica-scaled chart-history star state (the reference's bootstrap
shape: ``db/init.sh:228-252`` rebuilds the whole schema from flat files,
leaving >1 year of un-purged history that the NEXT daily batch's triggers
must reduce), then replays THREE daily batches through the real pipeline
(``run_daily_batch`` → upsert waves → T1 retention → T2/T3 GC →
snapshot-consistent multi-table commit), then the last day's batch once
more (an exact replay, which commits nothing), and checks the final
table identities against a pure-Python model of the reference's trigger
semantics — the same model as
tests/test_properties.py::test_multi_day_replay, evaluated at scale.

Scale shape (``wide``, in gen_sfx's vocabulary): R replicas of the seed's
~2.3-year × 2-source × top-10 history, each replica a disjoint
isrc/artist universe charting one week per slot — so the first replayed
batch's T1 purge drops >half the history, T2 orphans exactly the
fully-purged weeks' songs, and the cascade's semi-joins run over an
R×-bigger fact and dimension set. The domain caps real sources at 2 and
ranks at 10 (CHECK constraints), so replicas are the only honest axis
that scales this fact table.

Usage:
  python tools/maintain_replay_bench.py [R ...]   # default: 1 10

Prints one JSON line per R with per-day walls, per-day Spark job and
completed-task counts (one job group per replayed day, read from the
status tracker, so a listing or re-scan regression shows as a count),
the same three figures for the exact replay (``replay_*``) and the
model verdict; results are hand-merged into BENCH_sf1.json
(maintain_replay_round9).
"""
from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DATES = 844  # the seed corpus's span (~2.3 years of history)
END_DATE = dt.date(2025, 12, 25)  # history end; replay days follow
SOURCES = ["Spotify", "Apple Music"]  # the enum domain (CHECK-constrained)
RANKS = 10  # CHECK rank in [1,10]


def _grid(spark, replicas: int):
    """Replica-scaled history as four DataFrames, built columnar from a
    range() (no driver-side row lists at scale). Each (replica, source,
    rank) slot charts a NEW song every ISO-ish week (7-day block), so
    retention purges GC whole weeks of songs exactly."""
    from pyspark.sql import functions as F

    n = N_DATES * len(SOURCES) * RANKS * replicas
    base = spark.range(n).select(
        (F.col("id") % N_DATES).alias("di"),
        ((F.col("id") / N_DATES) % len(SOURCES)).cast("int").alias("si"),
        ((F.col("id") / (N_DATES * len(SOURCES))) % RANKS)
        .cast("int")
        .alias("ri"),
        (F.col("id") / (N_DATES * len(SOURCES) * RANKS))
        .cast("int")
        .alias("rep"),
    )
    start = END_DATE - dt.timedelta(days=N_DATES - 1)
    isrc = F.concat_ws(
        "-",
        F.lit("I"),
        F.col("rep").cast("string"),
        (F.col("di") / 7).cast("int").cast("string"),  # week block
        F.col("si").cast("string"),
        F.col("ri").cast("string"),
    )
    ranking = base.select(
        isrc.alias("isrc"),
        F.date_add(F.lit(start), F.col("di").cast("int")).alias(
            "ranking_date"
        ),
        (F.col("ri") + 1).cast("int").alias("rank"),
        F.element_at(F.array(*[F.lit(s) for s in SOURCES]), F.col("si") + 1)
        .alias("ranking_source"),
    )
    song = (
        ranking.select("isrc")
        .distinct()
        .select(
            "isrc",
            F.concat(F.lit("song "), F.col("isrc")).alias("song_name"),
            F.lit(200000).alias("song_duration_ms").cast("int"),
            F.lit(False).alias("is_explicit"),
            F.concat(F.lit("https://s/"), F.col("isrc")).alias("spotify_url"),
            F.lit(None).cast("string").alias("apple_music_url"),
        )
    )
    artist = song.select(
        F.concat(F.lit("A"), F.col("isrc")).alias("artist_id"),
        F.concat(F.lit("artist "), F.col("isrc")).alias("artist_name"),
    )
    amap = song.select(
        F.concat(F.lit("A"), F.col("isrc")).alias("artist_id"), "isrc"
    )
    return ranking, song, artist, amap


def _job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


def _batch_rows(day: dt.date):
    """One replay day's landing batch: both sources post a fresh top-10
    of never-seen songs (LANDING_SCHEMA rows)."""
    rows = []
    for src in SOURCES:
        for pos in range(RANKS):
            isrc = f"NEW-{day.isoformat()}-{src[0]}-{pos}"
            rows.append(
                (
                    pos,
                    src,
                    isrc,
                    [{"artist_id": "A" + isrc, "artist_name": "a " + isrc}],
                    "song " + isrc,
                    200000,
                    False,
                    "https://s/" + isrc,
                    None,
                    day,
                )
            )
    return rows


def main() -> int:
    scales = [int(a) for a in sys.argv[1:]] or [1, 10]

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.pipeline import run_daily_batch
    from daily_top_songs_etl_spark.session import get_spark
    from daily_top_songs_etl_spark.streaming.daily_stream import (
        LANDING_SCHEMA,
    )

    spark = get_spark(app_name="maintain_replay_bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    replay_days = [END_DATE + dt.timedelta(days=i) for i in (1, 2, 3)]

    for reps in scales:
        wh = tempfile.mkdtemp(prefix=f"maintain_replay_r{reps}_")
        cat = Catalog(spark, os.path.join(wh, "cat"))
        ranking, song, artist, amap = _grid(spark, reps)
        cat.commit_tables(
            {
                "ranking": ranking,
                "song": song,
                "artist": artist,
                "artist_song_map": amap,
            }
        )
        seeded = cat.read("ranking").count()

        # ---- pure-Python reference model (trigger semantics) ----
        start = END_DATE - dt.timedelta(days=N_DATES - 1)
        m_ranking: set[tuple] = set()
        for di in range(N_DATES):
            d = start + dt.timedelta(days=di)
            for si, src in enumerate(SOURCES):
                for ri in range(RANKS):
                    for rep in range(reps):
                        m_ranking.add(
                            (f"I-{rep}-{di // 7}-{si}-{ri}", d, src)
                        )

        def timed_run(day, group):
            """(wall, jobs, tasks) of one run of ``day``'s batch."""
            df = spark.createDataFrame(_batch_rows(day), LANDING_SCHEMA)
            sc.setJobGroup(group, f"run_daily_batch {day.isoformat()}")
            t0 = time.perf_counter()
            try:
                run_daily_batch(cat, df)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setJobDescription(None)
            return (round(time.perf_counter() - t0, 3), *_job_counts(sc, group))

        walls, jobs, tasks = [], [], []
        for day in replay_days:
            wall, n_jobs, n_tasks = timed_run(
                day, f"maintain_replay_r{reps}_{day.isoformat()}"
            )
            walls.append(wall)
            jobs.append(n_jobs)
            tasks.append(n_tasks)
            # model: insert, then T1 purge at the inserted max date
            for src in SOURCES:
                for pos in range(RANKS):
                    m_ranking.add(
                        (f"NEW-{day.isoformat()}-{src[0]}-{pos}", day, src)
                    )
            cutoff = spark.sql(
                f"SELECT add_months(date'{day.isoformat()}', -12)"
            ).first()[0]
            m_ranking = {k for k in m_ranking if k[1] > cutoff}
        # the last day's batch once more: an exact replay, which the
        # model leaves as it is
        replay = timed_run(replay_days[-1], f"maintain_replay_r{reps}_again")
        # model: T2/T3 — 1:1 dims, so survivors mirror referenced isrcs
        m_songs = {k[0] for k in m_ranking}

        got_ranking = {
            (r.isrc, r.ranking_date, r.ranking_source)
            for r in cat.read("ranking").collect()
        }
        got_songs = {r.isrc for r in cat.read("song").collect()}
        got_artists = {r.artist_id for r in cat.read("artist").collect()}
        got_map = {
            (r.artist_id, r.isrc)
            for r in cat.read("artist_song_map").collect()
        }
        green = (
            got_ranking == m_ranking
            and got_songs == m_songs
            and got_artists == {"A" + i for i in m_songs}
            and got_map == {("A" + i, i) for i in m_songs}
        )
        # invariant sweep (same checks as the property suite)
        rk = cat.read("ranking")
        no_stale = (
            rk.filter(
                F.col("ranking_date")
                <= F.add_months(F.lit(replay_days[-1]), -12)
            ).count()
            == 0
        )
        print(
            json.dumps(
                {
                    "replicas": reps,
                    "seeded_ranking_rows": seeded,
                    "final_ranking_rows": len(got_ranking),
                    "final_song_rows": len(got_songs),
                    "per_day_wall_sec": walls,
                    "per_day_jobs": jobs,
                    "per_day_tasks": tasks,
                    "replay_wall_sec": replay[0],
                    "replay_jobs": replay[1],
                    "replay_tasks": replay[2],
                    "model_match": green,
                    "no_stale_dates": no_stale,
                }
            ),
            flush=True,
        )
        shutil.rmtree(wh, ignore_errors=True)
        if not (green and no_stale):
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
