"""Batch maintenance pass — the trigger cascade, set-level.

The reference maintains retention and referential invariants with per-row
AFTER triggers (``create_schema_behavior.sql:56-93``). The Spark rewrite
runs them as **one set-level pass per micro-batch**, in the reference's
cascade order (SURVEY.md §2.10):

  T1  retention purge   — AFTER INSERT ON ranking: drop rows dated
                          <= new_date - 1 year (``:74-80``)
  (FK cascade)          — song deletion cascades to artist_song_map
                          (``create_schema_structure.sql:49``)
  T2  orphan-song GC    — AFTER DELETE ON ranking: drop songs no ranking
                          references (``:65-72``)
  T3  orphan-artist GC  — AFTER DELETE ON map: drop artists unmapped
                          (``:56-63``)

Each GC step is a ``left_semi`` join (keep referenced rows) — the batch dual
of the reference's per-row ``NOT EXISTS`` delete. On the partitioned fact
table the retention filter is pure partition pruning: dropping a year-old
date range never touches surviving files.

T2 reads no fact. It runs against the dimension-sized last-charted state
``song_last_charted(isrc, last_date)``, ``max(ranking_date)`` per isrc of
the fact. Ranking rows are only inserted (ON CONFLICT DO NOTHING) or
purged by T1 (``ranking_date <= cutoff``), so after the purge a song
still has a ranking row iff its ``last_date > cutoff``: T1 applied to the
state is exact, and an isrc missing from it is an orphan.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Tables:
    artist: DataFrame
    song: DataFrame
    artist_song_map: DataFrame
    ranking: DataFrame
    #: :func:`last_charted` of ``ranking``; None derives it from ``ranking``
    song_last_charted: DataFrame | None = None


def last_charted(ranking: DataFrame) -> DataFrame:
    """The ``song_last_charted`` state of a fact: one ``(isrc,
    last_date)`` row per isrc, ``last_date = max(ranking_date)``. Also
    merges a state with new rows, given both as ``(isrc,
    ranking_date)``."""
    return ranking.groupBy("isrc").agg(F.max("ranking_date").alias("last_date"))


def retention_cutoff(new_max_date: dt.date) -> dt.date:
    """T1's purge bound: rows dated on or before it go.

    ``NEW.ranking_date - INTERVAL '1 year'`` with Spark's
    ``add_months(d, -12)`` semantics, which Postgres shares: the day of
    month is kept and clamped to the target month's end, so Feb 29 maps
    to Feb 28 of the year before, and Feb 28 maps to Feb 28 (a month's
    last day is not kept as last day). Computed on the driver, so the
    daily commit lists the partitions to drop without a Spark job; the
    T1 filter below uses the same value."""
    try:
        return new_max_date.replace(year=new_max_date.year - 1)
    except ValueError:  # Feb 29 in a leap year
        return new_max_date.replace(year=new_max_date.year - 1, day=28)


def maintain(tables: Tables, new_max_date: dt.date | None = None) -> Tables:
    """Run T1 → cascade → T2 → T3 and return the new table states.

    ``new_max_date`` is the max ranking_date of the just-inserted batch
    (the trigger's NEW.ranking_date); None skips retention (no insert
    happened — e.g. a pure replay of the GC pass).

    T2 probes ``tables.song_last_charted`` after T1's cutoff (module
    docstring); the returned tables carry that purged state. Without a
    state it is derived once from the purged fact, the one fact scan
    left in the cascade, with the same result.

    Each GC'd DIMENSION state (never the fact) is eagerly
    localCheckpointed: the batch-commit path consumes every stage
    several times (each dim write, plus the next stage's broadcast build
    side), and without pinning, Spark recomputes the whole cascade once
    per consumer. Dimensions are broadcast-sized by the data model, so
    the pin is a few MB; the caller releases the pins after its commit.
    A derived state is pinned too, lazily (see below); a given one is
    dimension-sized and is re-read for its own write.

    Each GC semi-join force-broadcasts its build side. Valid because the
    build sides are DOMAIN-BOUNDED here, not merely assumed small: the
    distinct charted isrcs are capped by the CHECK-constrained rank
    domain (10 ranks × sources × ≤366 retained days —
    ``create_schema_structure.sql`` rank CHECK 1..10), and ``song`` /
    ``artist_song_map`` are GC'd against exactly that set every batch,
    so the dims can never outgrow it between batches. The explicit hint
    deliberately overrides ``spark.sql.autoBroadcastJoinThreshold`` —
    at 100 TB the alternative is shuffling the scaled fact during
    maintenance. (It also sidesteps a Spark 4 AQE artifact: a
    sort-merge semi-join over a union claiming propagated hash
    partitioning zips 32-vs-64 partition RDDs.)"""
    ranking, last = tables.ranking, tables.song_last_charted
    if new_max_date is not None:
        # T1: ranking_date <= NEW.ranking_date - INTERVAL '1 year' is purged
        # (keep-side rewrite against a literal cutoff).
        cutoff = retention_cutoff(new_max_date)
        ranking = ranking.filter(F.col("ranking_date") > F.lit(cutoff))
        if last is not None:
            last = last.filter(F.col("last_date") > F.lit(cutoff))
    if last is None:
        # Pinned lazily: T2's broadcast job fills the pin and the commit
        # writes the state from it instead of scanning the fact again.
        last = last_charted(ranking).localCheckpoint(eager=False)

    # T2: songs must still be referenced by some ranking row, that is,
    # have a last-charted entry that survived T1.
    song = tables.song.join(
        F.broadcast(last.select("isrc")), "isrc", "left_semi"
    ).localCheckpoint(eager=True)
    # FK ON DELETE CASCADE song -> artist_song_map
    # (create_schema_structure.sql:49): map rows of deleted songs go too.
    artist_song_map = tables.artist_song_map.join(
        F.broadcast(song.select("isrc")), "isrc", "left_semi"
    ).localCheckpoint(eager=True)
    # T3: artists must still be mapped to some surviving song.
    artist = tables.artist.join(
        F.broadcast(artist_song_map.select("artist_id").distinct()),
        "artist_id",
        "left_semi",
    ).localCheckpoint(eager=True)
    return Tables(
        artist=artist,
        song=song,
        artist_song_map=artist_song_map,
        ranking=ranking,
        song_last_charted=last,
    )
