"""Property-based invariants (SURVEY.md §5): random daily batches through
the full pipeline must preserve every constraint the reference's Postgres
schema enforces, after EVERY micro-batch:

- key uniqueness (PK/UNIQUE), rank ∈ [1,10] (CHECK)
- referential integrity + no orphans (FK + T2/T3 GC triggers)
- retention: no ranking older than 1 year before the max date (T1)
- idempotency: re-applying a batch inserts nothing (ON CONFLICT)
"""

from __future__ import annotations

import pytest

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from daily_top_songs_etl_spark.catalog import Catalog
from daily_top_songs_etl_spark.pipeline import run_daily_batch
from daily_top_songs_etl_spark.streaming.daily_stream import LANDING_SCHEMA

# Small pools so batches collide on keys across (and within) batches —
# the interesting upsert/dedup/GC paths.
_song_idx = st.integers(min_value=0, max_value=6)
_artist_idx = st.integers(min_value=0, max_value=4)
# Past dates only: the F8 CHECK (`ranking_date <= CURRENT_DATE`) silently
# drops future-dated rows, exactly like the reference's constraint. The
# >2-year span makes the T1 retention purge fire between random batches.
_date = st.dates(
    min_value=dt.date(2024, 1, 1), max_value=dt.date(2026, 7, 31)
)


@st.composite
def daily_batch(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    day = draw(_date)
    rows = []
    seen = set()
    for pos in range(n):
        s = draw(_song_idx)
        isrc = f"ZZPBT{s:07d}"
        # positional batches never repeat an ISRC (the reference's top-10
        # is a set); duplicate draws collapse to fewer rows
        if isrc in seen:
            continue
        seen.add(isrc)
        artists = sorted({draw(_artist_idx), draw(_artist_idx)})
        rows.append(
            (
                pos,
                "Spotify",
                isrc,
                [
                    {"artist_id": f"ARTPBT{a:016d}", "artist_name": f"Artist {a}"}
                    for a in artists
                ],
                f"Song {s}",
                120000 + s,
                s % 2 == 0,
                f"https://open.spotify.com/track/pbt{s}",
                f"https://music.apple.com/pbt{s}" if s % 3 == 0 else None,
                day,
            )
        )
    return rows


def _assert_invariants(cat: Catalog, purge_watermark: dt.date | None = None) -> None:
    artist = cat.read("artist")
    song = cat.read("song")
    amap = cat.read("artist_song_map")
    ranking = cat.read("ranking")

    # PK / UNIQUE uniqueness
    assert artist.count() == artist.select("artist_id").distinct().count()
    assert song.count() == song.select("isrc").distinct().count()
    assert amap.count() == amap.select("artist_id", "isrc").distinct().count()
    key = ["isrc", "ranking_date", "ranking_source"]
    assert ranking.count() == ranking.select(*key).distinct().count()

    # CHECK rank ∈ [1,10]
    assert ranking.filter(~F.col("rank").between(1, 10)).count() == 0

    # FKs hold
    assert amap.join(song, "isrc", "left_anti").count() == 0
    assert amap.join(artist, "artist_id", "left_anti").count() == 0
    assert ranking.join(song, "isrc", "left_anti").count() == 0

    # no orphans (T2/T3)
    assert song.join(ranking, "isrc", "left_anti").count() == 0
    assert artist.join(amap, "artist_id", "left_anti").count() == 0

    # retention (T1): the reference's trigger purges relative to the
    # NEWLY INSERTED row's date (create_schema_behavior.sql:74-80), NOT
    # the table max — an out-of-order backfill batch legitimately leaves
    # >1-year spans until a newer batch lands. So the invariant is: after
    # a batch whose inserted rows peak at D, nothing remains ≤ D - 1 year.
    if purge_watermark is not None:
        old = ranking.filter(
            F.col("ranking_date") <= F.add_months(F.lit(purge_watermark), -12)
        )
        assert old.count() == 0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
@given(batches=st.lists(daily_batch(), min_size=1, max_size=3))
def test_random_batches_preserve_invariants(spark, tmp_path_factory, batches):
    wh = str(tmp_path_factory.mktemp("pbt_wh"))
    cat = Catalog(spark, wh)
    last = None
    for rows in batches:
        df = spark.createDataFrame(rows, LANDING_SCHEMA)
        deltas = run_daily_batch(cat, df)
        wm = deltas.ranking.agg(F.max("ranking_date")).first()[0]
        _assert_invariants(cat, purge_watermark=wm)
        last = df
    # idempotency: re-applying the final batch inserts nothing new —
    # unless the retention purge already dropped that batch's date range
    # (a later batch can be >1 year newer), in which case rows re-insert
    # and are immediately purged again; either way invariants hold.
    mx = cat.read("ranking").agg(F.max("ranking_date")).first()[0]
    last_day = last.select(F.max("batch_date")).first()[0]
    deltas = run_daily_batch(cat, last)
    if mx is not None and last_day > mx - dt.timedelta(days=365):
        assert deltas.artist.count() == 0
        assert deltas.song_inserted.count() == 0
        assert deltas.artist_song_map.count() == 0
        assert deltas.ranking.count() == 0
    _assert_invariants(cat)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=5000),   # offset minutes
        ),
        min_size=1,
        max_size=40,
    )
)
def test_sessionize_invariants(spark, data):
    """For ANY event set: sessions partition the events; intra-session
    consecutive gaps ≤ threshold; session ids are dense per user and
    consecutive sessions are separated by > threshold."""
    from daily_top_songs_etl_spark.operators.sessionize import sessionize

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (i, u, t0 + dt.timedelta(minutes=m))
        for i, (u, m) in enumerate(data)
    ]
    events = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp"
    )
    out = sessionize(events, gap_minutes=30).collect()
    gap = dt.timedelta(minutes=30)
    assert sum(r.n_events for r in out) == len(rows)
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    ts_by_user = {}
    for _, u, ts in rows:
        ts_by_user.setdefault(u, []).append(ts)
    for u, sess in per_user.items():
        sess.sort(key=lambda r: r.session_id)
        assert [r.session_id for r in sess] == list(range(1, len(sess) + 1))
        for a, b in zip(sess, sess[1:]):
            assert b.session_start - a.session_end > gap
        # within a session, consecutive event gaps are all ≤ threshold
        times = sorted(ts_by_user[u])
        for r in sess:
            inside = [t for t in times if r.session_start <= t <= r.session_end]
            assert len(inside) >= r.n_events  # duplicates collapse into range
            for x, y in zip(inside, inside[1:]):
                assert y - x <= gap


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),          # key pool (collisions)
            st.sampled_from(["a", "b", "c", None]),          # attr 1 (nullable)
            st.sampled_from([1.0, 2.5, None]),               # attr 2 (nullable)
        ),
        min_size=0,
        max_size=8,
    ),
    n_batches=st.integers(min_value=1, max_value=3),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_scd2_invariants_under_random_batches(spark, data, n_batches):
    """After any sequence of random snapshot batches: at most one open
    row per key; closed intervals are well-formed (from < to) and never
    overlap per key; re-applying the final batch is a no-op."""
    from daily_top_songs_etl_spark.operators.scd import scd2_apply

    schema = "k bigint, name string, bal double, valid_from date, valid_to date"
    state = spark.createDataFrame([], schema)
    batch_rows = None
    for i in range(n_batches):
        # rotate the random pool so consecutive batches differ but collide
        batch_rows = [
            (k, (None if a is None else a + str((k + i) % 2)), b)
            for k, a, b in {t[0]: t for t in data[i:]}.values()
        ]
        updates = spark.createDataFrame(batch_rows, "k bigint, name string, bal double")
        state = scd2_apply(
            state, updates, ["k"], ["name", "bal"], dt.date(2024, 1, 1 + i)
        )
    rows = state.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for k, krows in by_key.items():
        open_rows = [r for r in krows if r.valid_to is None]
        assert len(open_rows) <= 1, (k, krows)
        closed = sorted(
            (r for r in krows if r.valid_to is not None),
            key=lambda r: r.valid_from,
        )
        for r in closed:
            assert r.valid_from < r.valid_to, r
        for r1, r2 in zip(closed, closed[1:]):
            assert r1.valid_to <= r2.valid_from, (r1, r2)
    # idempotency: same snapshot, later date -> identical multiset
    if batch_rows is not None:
        updates = spark.createDataFrame(batch_rows, "k bigint, name string, bal double")
        again = scd2_apply(
            state, updates, ["k"], ["name", "bal"], dt.date(2025, 1, 1)
        )
        assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
@given(
    batches=st.lists(daily_batch(), min_size=2, max_size=4),
    again=st.integers(min_value=0, max_value=3),
)
def test_multi_day_replay_matches_reference_model(
    spark, tmp_path_factory, batches, again
):
    """Randomized multi-day replay vs a from-scratch pure-Python model of
    the reference's semantics (ON CONFLICT DO NOTHING inserts, per-batch
    T1 purge keyed on the max *inserted* date, T2/T3 set-level GC). The
    pipeline's final table identities must equal the model's — batch
    count, ordering, and purge interleaving included. The last batch is
    then submitted again (an exact replay: the no-change path), and so
    is an earlier drawn one, which may take either path."""
    wh = str(tmp_path_factory.mktemp("pbt_replay_wh"))
    cat = Catalog(spark, wh)

    m_artists: set[str] = set()
    m_songs: set[str] = set()
    m_map: set[tuple[str, str]] = set()
    m_ranking: dict[tuple[str, dt.date, str], int] = {}

    for rows in [*batches, batches[-1], batches[again % len(batches)]]:
        df = spark.createDataFrame(rows, LANDING_SCHEMA)
        run_daily_batch(cat, df)

        # model: wave 1+2 inserts
        for (pos, src, isrc, artists, *_rest, day) in rows:
            m_songs.add(isrc)
            for a in artists:
                m_artists.add(a["artist_id"])
                m_map.add((a["artist_id"], isrc))
        inserted_days = []
        for (pos, src, isrc, *_rest, day) in rows:
            k = (isrc, day, src)
            if k not in m_ranking:
                m_ranking[k] = pos + 1
                inserted_days.append(day)
        # model: T1 purge at the batch's max INSERTED date, using Spark's
        # own add_months semantics for the 1-year cutoff
        if inserted_days:
            wm = max(inserted_days)
            cutoff = spark.sql(
                f"SELECT add_months(date'{wm.isoformat()}', -12)"
            ).first()[0]
            m_ranking = {
                k: v for k, v in m_ranking.items() if k[1] > cutoff
            }
        # model: T2 song GC -> FK cascade -> T3 artist GC
        referenced = {k[0] for k in m_ranking}
        m_songs &= referenced
        m_map = {(a, i) for (a, i) in m_map if i in m_songs}
        m_artists = {a for (a, _i) in m_map}

    got_artists = {r.artist_id for r in cat.read("artist").collect()}
    got_songs = {r.isrc for r in cat.read("song").collect()}
    got_map = {
        (r.artist_id, r.isrc) for r in cat.read("artist_song_map").collect()
    }
    got_ranking = {
        (r.isrc, r.ranking_date, r.ranking_source): r.rank
        for r in cat.read("ranking").collect()
    }
    assert got_artists == m_artists
    assert got_songs == m_songs
    assert got_map == m_map
    assert got_ranking == m_ranking


def _chart_row(day: dt.date, n: int) -> tuple:
    isrc = f"ZZLEAP{n:06d}"
    return (
        0,
        "Spotify",
        isrc,
        [{"artist_id": f"ARTLEAP{n:015d}", "artist_name": f"Artist {n}"}],
        f"Song {n}",
        120000,
        False,
        f"https://open.spotify.com/track/leap{n}",
        None,
        day,
    )


def test_leap_day_purge_matches_spark_probe(spark, tmp_path):
    """Two daily batches across a leap-day cutoff drop exactly the date
    partitions the Spark probe (distinct dates <= add_months(max, -12))
    names, and write only the batch's own date."""
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    history = [dt.date(2023, 2, 26) + dt.timedelta(days=i) for i in range(5)]
    history.append(dt.date(2023, 9, 1))
    seed = spark.createDataFrame(
        [_chart_row(d, i) for i, d in enumerate(history)], LANDING_SCHEMA
    )
    run_daily_batch(cat, seed)
    expected = {
        dt.date(2024, 2, 29): set(history[:3]),  # cutoff 2023-02-28
        dt.date(2024, 3, 1): {history[3]},  # cutoff 2023-03-01
    }
    for n, (day, purged) in enumerate(expected.items(), start=100):
        probe = {
            r[0]
            for r in cat.read("ranking")
            .select("ranking_date")
            .distinct()
            .filter(F.col("ranking_date") <= F.add_months(F.lit(day), -12))
            .collect()
        }
        assert probe == purged
        before = set(os.listdir(cat.path("ranking")))
        run_daily_batch(
            cat, spark.createDataFrame([_chart_row(day, n)], LANDING_SCHEMA)
        )
        after = set(os.listdir(cat.path("ranking")))
        assert before - after == {f"ranking_date={d}" for d in probe}
        assert after - before == {f"ranking_date={day}"}
    assert cat.partition_values("ranking") == [
        history[4],
        history[5],
        *expected,
    ]
    # T2/T3 followed the purge: only the charted songs remain
    assert {r.isrc for r in cat.read("song").collect()} == {
        r.isrc for r in cat.read("ranking").collect()
    }


def _ranking_keys(cat: Catalog) -> list[tuple[str, dt.date]]:
    return sorted((r.isrc, r.ranking_date) for r in cat.read("ranking").collect())


def test_daily_batch_evaluated_once_with_date_pruned_conflict_check(
    spark, tmp_path, monkeypatch
):
    """One run evaluates each batch row exactly once (a Python ``map``
    bumps an accumulator per row), and a batch spanning two dates with
    one conflicting row per date inserts exactly the new keys, checked
    against a fact scan pruned to those two date partitions."""
    import os
    import re

    from daily_top_songs_etl_spark import pipeline

    d1, d2 = dt.date(2025, 3, 2), dt.date(2025, 3, 3)
    cat = Catalog(spark, str(tmp_path / "wh"))
    seed = [_chart_row(d1, 0), _chart_row(d2, 1)]
    run_daily_batch(cat, spark.createDataFrame(seed, LANDING_SCHEMA))

    scans, real_upsert = [], pipeline.upsert

    def spy(existing, batch, key, priority=None):
        if "ranking_date" in key:
            scans.append(existing._jdf.queryExecution().executedPlan().toString())
        return real_upsert(existing, batch, key, priority)

    monkeypatch.setattr(pipeline, "upsert", spy)

    sc = spark.sparkContext
    evaluated = sc.accumulator(0)

    def bump(row):
        evaluated.add(1)
        return row

    def artist_files():
        return sum(f.endswith(".parquet") for f in os.listdir(cat.path("artist")))

    seed_files = artist_files()
    days = {n: d1 if n % 2 == 0 else d2 for n in range(8)}
    rows = [_chart_row(day, n) for n, day in days.items()]  # 0 and 1 conflict
    batch = spark.createDataFrame(sc.parallelize(rows, 2).map(bump), LANDING_SCHEMA)
    deltas = run_daily_batch(cat, batch, str(tmp_path / "mirror"))
    assert evaluated.value == len(rows)
    # the cached six-artist delta is coalesced: it adds one file, not
    # one per shuffle partition it hashes into
    assert artist_files() <= seed_files + 1

    new = [(f"ZZLEAP{n:06d}", day) for n, day in days.items() if n >= 2]
    assert sorted((r.isrc, r.ranking_date) for r in deltas.ranking.collect()) == new
    assert _ranking_keys(cat) == sorted((f"ZZLEAP{n:06d}", day) for n, day in days.items())
    [plan] = scans
    m = re.search(r"PartitionFilters: \[ranking_date#\d+ IN \(([^)]*)\)\]", plan)
    assert m and sorted(m.group(1).split(",")) == [d1.isoformat(), d2.isoformat()]


def test_daily_batch_releases_its_caches(spark, tmp_path):
    """After a run, a caller's own persist() survives, and the only new
    persisted RDD is the kept ``ranking_ins`` pin: the run's batch and
    dimension-delta caches are gone, whoever persisted the batch."""
    from pyspark import StorageLevel

    from daily_top_songs_etl_spark.pins import snapshot_pins

    sc = spark.sparkContext
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    cat = Catalog(spark, str(tmp_path / "wh"))
    days = [dt.date(2025, 5, 1), dt.date(2025, 5, 2)]
    for n, day in enumerate(days):
        batch = spark.createDataFrame([_chart_row(day, n)], LANDING_SCHEMA)
        caller_owned = n == 0
        if caller_owned:
            batch.persist()
            batch.count()
        before = snapshot_pins(sc)
        deltas = run_daily_batch(cat, batch, str(tmp_path / "mirror"))
        # only new ids count: Spark's context cleaner may unpersist an
        # earlier test's garbage-collected pins meanwhile
        assert len(snapshot_pins(sc) - before) == 1
        for df in (deltas.artist, deltas.song_inserted, deltas.artist_song_map):
            assert df.storageLevel == StorageLevel.NONE
        if caller_owned:
            assert batch.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
            batch.unpersist()
        assert cache_manager.isEmpty()
    assert _ranking_keys(cat) == [("ZZLEAP000000", days[0]), ("ZZLEAP000001", days[1])]


def test_load_date_is_stamped_once_per_batch(spark, tmp_path, monkeypatch):
    """A batch without ``batch_date`` takes one UTC load date: with a
    clock that moves a day on every read, every inserted row carries the
    first date, and the conflict check looks at that date's partition."""
    from daily_top_songs_etl_spark import pipeline
    from daily_top_songs_etl_spark.schemas import DAILY_BATCH

    first = dt.date(2025, 6, 10)
    reads = []

    def clock():
        reads.append(first + dt.timedelta(days=len(reads)))
        return reads[-1]

    monkeypatch.setattr(pipeline, "_utc_today", clock)
    cat = Catalog(spark, str(tmp_path / "wh"))
    seed = spark.createDataFrame([_chart_row(first, 0)], LANDING_SCHEMA)
    run_daily_batch(cat, seed)
    rows = [_chart_row(first, n)[:-1] for n in (0, 1)]
    deltas = run_daily_batch(cat, spark.createDataFrame(rows, DAILY_BATCH))
    assert reads
    assert [(r.isrc, r.ranking_date) for r in deltas.ranking.collect()] == [
        ("ZZLEAP000001", first)
    ]
    assert _ranking_keys(cat) == [("ZZLEAP000000", first), ("ZZLEAP000001", first)]


def _assert_last_charted(cat: Catalog) -> dict[str, dt.date]:
    """The committed last-charted state describes the current ``ranking``
    version and equals ``max(ranking_date)`` per isrc of the fact."""
    from daily_top_songs_etl_spark.pipeline import LAST_CHARTED

    assert cat.read_meta(LAST_CHARTED)["ranking_version"] == cat.current_version("ranking")
    got = {r.isrc: r.last_date for r in cat.read(LAST_CHARTED).collect()}
    want = {
        r[0]: r[1]
        for r in cat.read("ranking").groupBy("isrc").agg(F.max("ranking_date")).collect()
    }
    assert got == want
    return got


def _songs(cat: Catalog) -> set[str]:
    return {r.isrc for r in cat.read("song").collect()}


def test_last_charted_state_tracks_the_fact(spark, tmp_path):
    """The last-charted state equals the fact's per-isrc max date after a
    seed, a leap-day run that purges, and its replay; a song whose only
    ranking row fails validation is GC'd."""
    from daily_top_songs_etl_spark.pipeline import LAST_CHARTED

    cat = Catalog(spark, str(tmp_path / "wh"))
    seed = [
        _chart_row(dt.date(2023, 2, 27), 0),
        _chart_row(dt.date(2023, 2, 28), 1),
        _chart_row(dt.date(2023, 3, 1), 2),
    ]
    run_daily_batch(cat, spark.createDataFrame(seed, LANDING_SCHEMA))
    _assert_last_charted(cat)

    # 2024-02-29: the cutoff is 2023-02-28, so the rows of songs 0 and 1
    # go. Song 1 charts again that day, song 2 keeps its March row, and
    # song 5's only ranking row has rank 11 and fails the CHECK.
    leap = dt.date(2024, 2, 29)
    invalid = (10, *_chart_row(leap, 5)[1:])
    batch = [_chart_row(leap, 1), _chart_row(leap, 4), invalid]
    run_daily_batch(cat, spark.createDataFrame(batch, LANDING_SCHEMA))
    kept = {f"ZZLEAP00000{n}" for n in (1, 2, 4)}
    assert set(_assert_last_charted(cat)) == kept
    assert _songs(cat) == kept

    # a replay inserts nothing and leaves the state's snapshot alone
    state_v = cat.current_version(LAST_CHARTED)
    run_daily_batch(cat, spark.createDataFrame(batch, LANDING_SCHEMA))
    assert cat.current_version(LAST_CHARTED) == state_v
    assert _assert_last_charted(cat)["ZZLEAP000001"] == leap
    assert _songs(cat) == kept


def test_last_charted_state_rederived_after_a_foreign_ranking_write(spark, tmp_path):
    """A ``ranking`` commit by another writer leaves the state describing
    an older version. The next run must not trust it: song 0's state
    entry says it last charted on a date the run purges, but a row
    written with ``Catalog.write`` keeps it charted."""
    from daily_top_songs_etl_spark import schemas

    cat = Catalog(spark, str(tmp_path / "wh"))
    seed = [_chart_row(dt.date(2024, 1, 10), 0), _chart_row(dt.date(2024, 6, 1), 1)]
    run_daily_batch(cat, spark.createDataFrame(seed, LANDING_SCHEMA))
    extra = spark.createDataFrame(
        [("ZZLEAP000000", dt.date(2024, 12, 1), 1, "Spotify")], schemas.RANKING
    )
    cat.write(cat.read("ranking").unionByName(extra), "ranking")

    # cutoff 2024-01-15 purges song 0's January row, not its December one
    run_daily_batch(
        cat, spark.createDataFrame([_chart_row(dt.date(2025, 1, 15), 2)], LANDING_SCHEMA)
    )
    assert _songs(cat) == {"ZZLEAP000000", "ZZLEAP000001", "ZZLEAP000002"}
    assert _assert_last_charted(cat)["ZZLEAP000000"] == dt.date(2024, 12, 1)


_REPLAY_DAY = dt.date(2025, 4, 1)


def _day_rows(day: dt.date, ns) -> list[tuple]:
    """One chart day: song ``n`` at position ``p`` for each ``(p, n)``."""
    return [(p, *_chart_row(day, n)[1:]) for p, n in enumerate(ns)]


def _tables(cat: Catalog) -> dict:
    return {
        "artist": {r.artist_id for r in cat.read("artist").collect()},
        "song": {r.isrc: r.apple_music_url for r in cat.read("song").collect()},
        "artist_song_map": {
            (r.artist_id, r.isrc) for r in cat.read("artist_song_map").collect()
        },
        "ranking": {
            (r.isrc, r.ranking_date, r.rank, r.ranking_source)
            for r in cat.read("ranking").collect()
        },
    }


def _mirror_lines(mirror: str, table: str) -> list[str]:
    import glob

    lines = []
    for f in glob.glob(f"{mirror}/{table}/part-*"):
        with open(f) as fh:
            lines += fh.read().splitlines()
    return lines


def _mirror_digest(mirror: str) -> str:
    import hashlib
    import os

    h = hashlib.sha1()
    for root, dirs, files in os.walk(mirror):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(root, f), mirror).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_replay_commits_nothing_in_two_jobs(spark, tmp_path, monkeypatch):
    """An exact replay of a committed day runs two Spark jobs (the batch
    collect and the probe), no cascade, mirror or commit; no table gets
    a new version and the mirror stays byte-identical. The new day's own
    count is pinned too, so a regression on the full path shows."""
    from daily_top_songs_etl_spark import pipeline
    from daily_top_songs_etl_spark.pipeline import LAST_CHARTED
    from tools.maintain_replay_bench import _job_counts

    sc = spark.sparkContext
    cat = Catalog(spark, str(tmp_path / "wh"))
    mirror = str(tmp_path / "mirror")
    history = [_chart_row(_REPLAY_DAY - dt.timedelta(days=i), i) for i in range(1, 6)]
    run_daily_batch(cat, spark.createDataFrame(history, LANDING_SCHEMA), mirror)

    calls = []

    def spy(owner, name):
        real = getattr(owner, name)

        def counted(*args, **kwargs):
            calls.append(name)
            return real(*args, **kwargs)

        monkeypatch.setattr(owner, name, counted)

    spy(pipeline, "maintain")
    spy(pipeline, "write_csv_mirror")
    spy(Catalog, "commit_tables")
    tables = ("artist", "song", "artist_song_map", "ranking", LAST_CHARTED)
    rows = _day_rows(_REPLAY_DAY, range(100, 110))
    counts = {}
    for kind in ("day", "replay"):
        calls.clear()
        versions = {t: cat.current_version(t) for t in tables}
        digest = _mirror_digest(mirror)
        sc.setJobGroup(f"no-change-{kind}", kind)
        try:
            deltas = run_daily_batch(cat, spark.createDataFrame(rows, LANDING_SCHEMA), mirror)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts[kind] = _job_counts(sc, f"no-change-{kind}")[0]
        unchanged = versions == {t: cat.current_version(t) for t in tables}
        assert unchanged == (kind == "replay")
        assert (_mirror_digest(mirror) == digest) == (kind == "replay")
    assert calls == []
    assert [deltas.ranking.count(), deltas.artist.count(), deltas.song_updated.count()] == [0, 0, 0]
    assert counts == {"day": 32, "replay": 2}


def _orphan_song(spark, cat, day_rows):
    from daily_top_songs_etl_spark import schemas

    orphan = spark.createDataFrame(
        [("ZZORPHAN0000", "Orphan", 120000, False, "https://s/orphan", None)], schemas.SONG
    )
    # the writer keeps the snapshot's metadata, guard key included
    cat.write(cat.read("song").unionByName(orphan), "song", meta=cat.read_meta("song"))
    return day_rows


def _second_artist(spark, cat, day_rows):
    artists = [*day_rows[1][3], {"artist_id": "ARTNEW", "artist_name": "New Artist"}]
    return [day_rows[0], (*day_rows[1][:3], artists, *day_rows[1][4:]), *day_rows[2:]]


_NEW_URL = "https://music.apple.com/leap2"


def _new_apple_url(spark, cat, day_rows):
    return [*day_rows[:2], (*day_rows[2][:8], _NEW_URL, day_rows[2][9])]


def _rank_eleven(spark, cat, day_rows):
    return [*day_rows, (10, *_chart_row(_REPLAY_DAY, 5)[1:])]


@pytest.fixture(scope="module")
def committed_day(spark, tmp_path_factory):
    """A catalog and mirror holding one committed day of three songs."""
    root = tmp_path_factory.mktemp("committed_day")
    day_rows = _day_rows(_REPLAY_DAY, range(3))
    run_daily_batch(
        Catalog(spark, str(root / "wh")),
        spark.createDataFrame(day_rows, LANDING_SCHEMA),
        str(root / "mirror"),
    )
    return root, day_rows


@pytest.mark.parametrize(
    "variant", [_orphan_song, _second_artist, _new_apple_url, _rank_eleven]
)
def test_replay_fallbacks_stay_exact(spark, tmp_path, committed_day, variant):
    """A replay that is not an exact no-op takes the full path and gives
    its results: an orphan song written by another writer is GC'd
    (only the dimension guard catches it), a second artist of a charted
    song and a newly known Apple Music URL are inserted, patched and
    mirrored, and a rank-11 row leaves the tables as they were."""
    import shutil

    root, day_rows = committed_day
    shutil.copytree(root, tmp_path / "day")
    cat = Catalog(spark, str(tmp_path / "day" / "wh"))
    mirror = str(tmp_path / "day" / "mirror")
    isrcs = [f"ZZLEAP{n:06d}" for n in range(3)]
    arts = [f"ARTLEAP{n:015d}" for n in range(3)]
    want = {
        "artist": set(arts),
        "song": dict.fromkeys(isrcs),
        "artist_song_map": set(zip(arts, isrcs)),
        "ranking": {(i, _REPLAY_DAY, p + 1, "Spotify") for p, i in enumerate(isrcs)},
    }
    assert _tables(cat) == want

    replay = variant(spark, cat, day_rows)
    deltas = run_daily_batch(cat, spark.createDataFrame(replay, LANDING_SCHEMA), mirror)
    updated = {(r.isrc, r.apple_music_url) for r in deltas.song_updated.collect()}
    inserted = {r.isrc for r in deltas.song_inserted.collect()}
    if variant is _second_artist:
        want["artist"].add("ARTNEW")
        want["artist_song_map"].add(("ARTNEW", isrcs[1]))
        assert '"ARTNEW","New Artist"' in _mirror_lines(mirror, "artist")
        assert f'"ARTNEW","{isrcs[1]}"' in _mirror_lines(mirror, "artist_song_map")
    if variant is _new_apple_url:
        want["song"][isrcs[2]] = _NEW_URL
    assert updated == ({(isrcs[2], _NEW_URL)} if variant is _new_apple_url else set())
    # the rank-11 row's song is inserted and mirrored, then T2 collects it
    assert inserted == ({"ZZLEAP000005"} if variant is _rank_eleven else set())
    assert _tables(cat) == want


def test_daily_op_scans_do_not_grow_with_history(spark, tmp_path, monkeypatch):
    """One day plus its report on a 30-date and a 90-date catalog: the
    maintain cascade and the report run the same jobs and tasks on both,
    and the report's two ``ranking`` scans carry partition filters. An
    open cost above the split size gives every file its own scan task,
    so the task counts measure the files read (one per date partition)."""
    day = dt.date(2025, 6, 1)
    open_cost = "spark.sql.files.openCostInBytes"
    was = spark.conf.get(open_cost)
    spark.conf.set(open_cost, str(1 << 30))
    try:
        counts = _scan_bound_counts(spark, tmp_path, monkeypatch, day)
    finally:
        spark.conf.set(open_cost, was)
    assert counts[30] == counts[90], counts


def _scan_bound_counts(spark, tmp_path, monkeypatch, day):
    """{history dates: ((jobs, tasks) of maintain, (jobs, tasks) of the
    report)} for one day run on each catalog."""
    import re

    from daily_top_songs_etl_spark import pipeline
    from daily_top_songs_etl_spark.plans.report import report_rows
    from daily_top_songs_etl_spark.plans.views import all_rankings_with_delta_view
    from tools.maintain_replay_bench import _job_counts

    sc = spark.sparkContext
    real_maintain = pipeline.maintain
    counts = {}
    for n in (30, 90):
        cat = Catalog(spark, str(tmp_path / f"wh{n}"))
        # one row per date; song k charts on three consecutive days
        history = [_chart_row(day - dt.timedelta(days=i), i // 3) for i in range(1, n + 1)]
        run_daily_batch(cat, spark.createDataFrame(history, LANDING_SCHEMA))

        def grouped(*args, n=n):
            sc.setJobGroup(f"maintain-{n}", "maintain")
            try:
                return real_maintain(*args)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        monkeypatch.setattr(pipeline, "maintain", grouped)
        run_daily_batch(cat, spark.createDataFrame([_chart_row(day, 0)], LANDING_SCHEMA))
        monkeypatch.setattr(pipeline, "maintain", real_maintain)

        view = all_rankings_with_delta_view(
            *(cat.read(t) for t in ("ranking", "artist", "song", "artist_song_map"))
        )
        report = report_rows(view, day)
        sc.setJobGroup(f"report-{n}", "report")
        try:
            rows = report.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert [(r.rank, r.delta_display) for r in rows] == [(1, "—")]
        # the plan prints each scan in the initial and the final AQE plan
        plan = report._jdf.queryExecution().executedPlan().toString()
        filters = {
            re.sub(r"#\d+", "", m.group(1))
            for m in re.finditer(
                r"FileScan parquet \[[^\]]*ranking_date#.*?PartitionFilters: \[([^\]]*)", plan
            )
        }
        assert filters == {
            f"isnotnull(ranking_date), (ranking_date = {day})",
            f"(date_add(ranking_date, 1) = {day}), isnotnull(date_add(ranking_date, 1))",
        }, plan
        counts[n] = (
            _job_counts(sc, f"maintain-{n}"),
            _job_counts(sc, f"report-{n}"),
        )
    return counts


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
            ),
            min_size=3,
            max_size=8,
        ),
        min_size=2,
        max_size=12,
    )
)
@pytest.mark.slow
def test_dedup_apply_idempotent(spark, docs):
    """For ANY corpus: applying LSH dedup to its own survivors drops
    nothing. Sound because signatures are per-document (unchanged by
    subsetting) and any surviving pair would have connected its
    endpoints' clusters — so survivors are pair-free by construction.
    The tiny vocabulary forces heavy shingle collisions (the interesting
    near-dup regime)."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        dedup_apply,
        minhash_lsh_pairs,
    )

    corpus = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    survivors = dedup_apply(
        corpus.select("doc_id"), minhash_lsh_pairs(corpus)
    ).select("doc_id")
    kept1 = {r.doc_id for r in survivors.collect()}
    surviving_docs = corpus.join(survivors, "doc_id")
    kept2 = {
        r.doc_id
        for r in dedup_apply(
            surviving_docs.select("doc_id"), minhash_lsh_pairs(surviving_docs)
        ).collect()
    }
    assert kept1 == kept2


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sr=st.sampled_from([8000, 16000, 44100]),
    n_channels=st.integers(min_value=1, max_value=3),
    bits=st.sampled_from([8, 16]),
    frames=st.integers(min_value=0, max_value=50),
    data=st.data(),
)
def test_wav_codec_roundtrip_property(spark, sr, n_channels, bits, frames, data):
    """encode_wav ∘ decode_wav is the identity (modulo 8-bit
    zero-centering) for ANY PCM stream at any supported shape."""
    from daily_top_songs_etl_spark.extensions.multimodal import (
        decode_wav,
        encode_wav,
        wav_features,
    )

    n = frames * n_channels
    if bits == 16:
        samples = data.draw(
            st.lists(
                st.integers(min_value=-32768, max_value=32767),
                min_size=n, max_size=n,
            )
        )
        expect = samples
    else:
        samples = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=n, max_size=n,
            )
        )
        expect = [s - 128 for s in samples]
    payload = encode_wav(sr, n_channels, bits, samples)
    assert decode_wav(payload) == (sr, n_channels, bits, expect)
    feats = wav_features(payload)
    assert len(feats) == 8 and feats[1] == float(n_channels)
    assert 0.0 <= feats[4] <= 1.0 and 0.0 <= feats[5] <= 1.0


def test_append_once_converges_under_crash_at_any_rename(spark, tmp_path):
    """Exactly-once growth under arbitrary interruption: kill append_once
    at EVERY possible os.replace boundary (including before the first and
    after the last rename), replay it cleanly, and require the table to
    hold exactly one copy of every batch regardless of where the crash
    landed. This is the mechanical version of the round-5 streaming
    replay contract: a crash anywhere leaves a state the replay converges
    from."""
    import os as _os

    from daily_top_songs_etl_spark.catalog import Catalog

    base = spark.createDataFrame([(0, "seed")], "k long, v string")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )

    crash_point = 0
    real_replace = _os.replace

    class _Boom(RuntimeError):
        pass

    def crashing_replace(src, dst):
        nonlocal crash_point
        if crash_point == 0:
            raise _Boom("injected crash before rename")
        crash_point -= 1
        return real_replace(src, dst)

    for point in range(0, 6):  # beyond the real rename count = no crash
        cat = Catalog(spark, str(tmp_path / f"wh_{point}"))
        cat.write(base, "t")
        crash_point = point
        _os.replace = crashing_replace
        try:
            try:
                cat.append_once(batch, "t", 42)
                crashed = False
            except _Boom:
                crashed = True
        finally:
            _os.replace = real_replace
        # replay after the (possible) crash — same batch id, same rows
        cat.append_once(batch, "t", 42)
        spark.catalog.refreshByPath(cat.path("t"))
        got = sorted((r.k, r.v) for r in cat.read("t").collect())
        assert got == [(0, "seed"), (1, "a"), (2, "b"), (3, "c")], (
            point,
            crashed,
            got,
        )


# ---------------------------------------------------------------------------
# Round-8 surfaces: ledger refusal-kind soundness; boilerplate-strip
# reference model
# ---------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(
    stream=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 200)),
        min_size=0,
        max_size=120,
    )
)
def test_ledger_refusal_kind_sound_against_exact_model(stream):
    """Pure-Python model equivalence for the compacted ledger under
    ARBITRARY (unbounded-reorder, duplicate-bearing) delivery:

    - every id ever applied is refused afterwards (no double-apply);
    - ledger_refusal_kind's claims are SOUND: "replay" only for ids
      provably applied, "new" only for ids never applied — the
      ambiguous class ("beyond_window") is the only place the compact
      representation is allowed to be lossy;
    - the state survives a meta round-trip;
    - meta stays bounded regardless of stream length.
    """
    import json

    from daily_top_songs_etl_spark.operators.ledger import (
        RECENT_CAP,
        ledger_add,
        ledger_load,
        ledger_meta,
        ledger_refusal_kind,
        ledger_seen,
    )

    led = ledger_load(None)
    applied: set[str] = set()
    for pre, seq in stream:
        bid = f"{pre}{seq}"
        if not ledger_seen(led, bid):
            ledger_add(led, bid)
            applied.add(bid)
    for led_probe in (led, ledger_load(ledger_meta(led))):
        for pre in ("a", "b"):
            for seq in range(0, 201):
                bid = f"{pre}{seq}"
                kind = ledger_refusal_kind(led_probe, bid)
                if bid in applied:
                    assert ledger_seen(led_probe, bid), bid
                    assert kind != "new", (bid, kind)
                if kind == "replay":
                    assert bid in applied, bid
                elif kind == "new":
                    assert bid not in applied, bid
    # bounded meta: marks for <=2 prefixes + <=RECENT_CAP ids each
    assert len(led["recent"]) <= 2 * (RECENT_CAP + 1)
    assert len(json.dumps(ledger_meta(led))) < 4000


@st.composite
def _tiny_corpus(draw):
    vocab = ["tok%d" % i for i in range(8)]
    n_docs = draw(st.integers(min_value=2, max_value=8))
    docs = []
    for i in range(n_docs):
        toks = draw(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=12)
        )
        docs.append((i, " ".join(toks)))
    return docs


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
@given(docs=_tiny_corpus())
def test_stripped_jaccard_matches_python_reference(spark, docs):
    """ngram_jaccard_pairs with the strip knobs reproduces a direct
    Python computation: dominant set = (df > ratio·n_docs) ∪ top-k by
    (df desc, shingle asc); sizes and intersections over the STRIPPED
    per-doc shingle sets."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        ngram_jaccard_pairs,
    )

    ratio, k, thr = 0.5, 2, 0.2

    def shingle_set(text):
        toks = text.lower().split()
        if len(toks) < 3:
            return set()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingle_set(t) for i, t in docs}
    n = len(docs)
    df = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    hot = {sh for sh, d in df.items() if d > ratio * n}
    hot |= set(
        sh for sh, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    )
    stripped = {i: s - hot for i, s in sets.items()}
    expect = {}
    ids = sorted(stripped)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(stripped[a] & stripped[b])
            union = len(stripped[a] | stripped[b])
            if inter and union and round(inter / union, 6) >= thr:
                expect[(a, b)] = round(inter / union, 6)

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            sdf, thr, max_df_ratio=ratio, top_k=k
        ).collect()
    }
    assert got == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    n_groups=st.integers(min_value=1, max_value=5),
    cap=st.integers(min_value=1, max_value=6),
    fanout=st.integers(min_value=1, max_value=8),
)
def test_source_quota_matches_reference_model(
    spark, ids, n_groups, cap, fanout
):
    """For ANY id set / group count / cap / fanout: the two-level top-k
    merge equals the naive per-group top-cap by (md5 4-nibble bucket,
    id) — fanout is a physical knob, never a semantic one."""
    import hashlib

    from daily_top_songs_etl_spark.extensions.mixture import source_quota

    rows = [(i, f"g{i % n_groups}") for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {}
    for r in source_quota(df, cap=cap, fanout=fanout).collect():
        out.setdefault(r.source, []).append((r.quota_rank, r.doc_id))
    out = {s: [d for _, d in sorted(v)] for s, v in out.items()}

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16)

    want = {}
    for i, s in rows:
        want.setdefault(s, []).append(i)
    want = {
        s: sorted(v, key=lambda d: (bucket(d), d))[:cap]
        for s, v in want.items()
    }
    assert out == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["red", "blue", "green", "gold", "gray"]),
                min_size=1,
                max_size=6,
            ),
            st.sampled_from(["en", "fr"]),
        ),
        min_size=1,
        max_size=15,
    ),
    n=st.integers(min_value=1, max_value=10),
)
def test_importance_resample_matches_reference_model(spark, docs, n):
    """For ANY corpus/target split: masses are exact integer sums of the
    corpus unigram counts and the selected set is the top-n by the
    single-division ratio with id tie-break."""
    from collections import Counter

    from daily_top_songs_etl_spark.extensions.text import (
        importance_resample,
    )

    rows = [
        (i, " ".join(words), lang) for i, (words, lang) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in importance_resample(df, "en", n=n).collect()
    }

    raw, tgt = Counter(), Counter()
    toks = {}
    for i, text, lang in rows:
        ws = text.lower().strip().split()
        toks[i] = ws
        raw.update(ws)
        if lang == "en":
            tgt.update(ws)
    scored = {
        i: (sum(tgt[t] for t in ws), sum(raw[t] for t in ws))
        for i, ws in toks.items()
    }
    want = sorted(scored, key=lambda i: (-scored[i][0] / scored[i][1], i))[:n]
    assert sorted(out) == sorted(want)
    for rank, i in enumerate(want, start=1):
        t_mass, r_mass = scored[i]
        assert (out[i].target_mass, out[i].raw_mass) == (t_mass, r_mass)
        assert out[i].sel_rank == rank


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=1,
        max_size=40,
    ),
    cap=st.integers(1, 6),
)
@pytest.mark.slow
def test_cluster_quota_matches_model_on_random_corpora(spark, vecs, cap):
    """For ANY integer corpus (duplicate vectors and exact distance
    ties included, n possibly < k): cluster_quota equals the direct
    Python model — assign to the k-lowest-id proto-centroids by exact
    d2 (ties to the lower cluster), rank each cluster by (d2 DESC,
    id ASC), keep the top ``cap``. Integer components × QUANT_SCALE
    round exactly, so quantization is trivially shared with the model
    and the property isolates the assignment/rank/cap algebra."""
    from daily_top_songs_etl_spark.extensions.similarity import (
        cluster_quota,
    )

    k = 3
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.cluster, r.dist2, r.keep_rank)
        for r in cluster_quota(emb, k=k, cap=cap, fanout=3).collect()
    }

    q = {i: [x * 1000 for x in v] for i, v in enumerate(vecs)}
    cents = [q[i] for i in sorted(q)[: min(k, len(q))]]
    assigned = []
    for vid in sorted(q):
        d2s = [
            sum((a - b) * (a - b) for a, b in zip(q[vid], cv))
            for cv in cents
        ]
        best = min(range(len(cents)), key=lambda c: (d2s[c], c))
        assigned.append((vid, best, d2s[best]))
    want = set()
    for c in range(len(cents)):
        members = sorted(
            ((d2, vid) for vid, cl, d2 in assigned if cl == c),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (d2, vid) in enumerate(members[:cap], start=1):
            want.add((vid, c, d2, rank))
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=2,
        max_size=16,
    ),
    split_mod=st.integers(2, 3),
)
@pytest.mark.slow
def test_text_index_shard_merge_invariant(
    spark, tmp_path_factory, docs, split_mod
):
    """For ANY corpus and ANY doc-disjoint sharding: shard-built lexical
    indexes merged carry exactly the one-shot build's postings and
    stats. Sound because tokenization is per-document and term_mod
    hashing is content-deterministic — the property the registered
    BM25-oracle face checks on real data, here exercised on random
    corpora including empty documents and fully-duplicated shards."""
    from daily_top_songs_etl_spark.extensions.text import (
        build_text_index,
        merge_text_index,
    )

    tmp = tmp_path_factory.mktemp("tmrgprop")
    cat = Catalog(spark, str(tmp))
    corpus = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    shards = [
        corpus.filter(F.col("doc_id") % split_mod == r)
        for r in range(split_mod)
    ]
    build_text_index(cat, "m", shards[0], probe_partitions=4)
    for r, shard in enumerate(shards[1:], start=1):
        build_text_index(cat, f"s{r}", shard, probe_partitions=4)
        merge_text_index(cat, "m", f"s{r}")
    build_text_index(cat, "full", corpus, probe_partitions=4)

    cols = ["doc_id", "term", "tf", "dl"]
    merged = {tuple(r) for r in cat.read("m__postings").select(cols).collect()}
    oneshot = {
        tuple(r) for r in cat.read("full__postings").select(cols).collect()
    }
    assert merged == oneshot
    sm = cat.read("m__stats").first()
    sf = cat.read("full__stats").first()
    assert (sm["n_docs"], sm["sum_dl"]) == (sf["n_docs"], sf["sum_dl"])
