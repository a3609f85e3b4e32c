"""The three canonical views and the delta table-function.

Re-expressions of ``create_schema_behavior.sql:96-156`` (views) and ``:36-54``
(``calculate_rank_delta_between_dates_fn``), decorrelated and set-based:

- the per-row ``get_formatted_song_info_fn`` becomes one broadcast join
  against the ``song_info`` DataFrame (functions/song_info.py);
- ``ORDER BY ranking_source`` uses the enum-declaration ordinal
  (functions/enum_order.py), never a raw string sort;
- the flagship delta is a left self-join of the fact with itself shifted
  by one day, on the UNIQUE key ``(isrc, ranking_date, ranking_source)``.
  Unlike a ``lag()`` window ordered by date, the join keeps the date a
  join key: a filter on the view's ``date`` reaches the left scan, and
  Spark infers ``date_add(ranking_date, 1) = day`` for the right one, so
  a one-day query reads two date partitions, not the retained history.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.enum_order import source_ordinal
from ..functions.song_info import song_info


def _with_song_label(ranking: DataFrame, info: DataFrame) -> DataFrame:
    # info is dimension-sized (distinct charted songs) → broadcast.
    return ranking.join(F.broadcast(info), "isrc", "left")


def _view_order(df: DataFrame) -> DataFrame:
    # create_schema_behavior.sql:105-108 — ranking_date DESC, enum ordinal
    # (Spotify < Apple Music), rank.
    return df.orderBy(
        F.col("date").desc(), source_ordinal("platform"), F.col("rank")
    )


def all_rankings_view(
    ranking: DataFrame, artist: DataFrame, song: DataFrame, artist_song_map: DataFrame
) -> DataFrame:
    """create_schema_behavior.sql:96-108."""
    info = song_info(artist, song, artist_song_map)
    out = _with_song_label(ranking, info).select(
        F.col("ranking_date").alias("date"),
        F.col("ranking_source").alias("platform"),
        F.col("rank"),
        F.col("song_info").alias("song"),
    )
    return _view_order(out)


def all_rankings_with_urls_view(
    ranking: DataFrame, artist: DataFrame, song: DataFrame, artist_song_map: DataFrame
) -> DataFrame:
    """create_schema_behavior.sql:110-126 — + LEFT JOIN song for URLs."""
    out = _with_song_label(ranking, song_info(artist, song, artist_song_map)).select(
        F.col("ranking_date").alias("date"),
        F.col("ranking_source").alias("platform"),
        F.col("rank"),
        F.col("song_info").alias("song"),
        "spotify_url",
        "apple_music_url",
    )
    return _view_order(out)


def all_rankings_with_delta_view(
    ranking: DataFrame, artist: DataFrame, song: DataFrame, artist_song_map: DataFrame
) -> DataFrame:
    """The flagship query — create_schema_behavior.sql:128-156.

    delta = prev_rank - rank, but **only** when this song charted on this
    platform on the consecutive previous day; a gap (or first entry) yields
    NULL, rendered as "new" downstream (SURVEY.md §2.7 W1-W3).
    Sign convention: positive = moved up.
    """
    prev = ranking.select(
        F.col("isrc").alias("p_isrc"),
        F.col("ranking_source").alias("p_source"),
        F.col("rank").alias("prev_rank"),
        F.date_add("ranking_date", 1).alias("next_date"),
    )
    # The key (isrc, ranking_date, ranking_source) is UNIQUE, so each row
    # matches at most the one row of the same song and platform on the
    # day before: exactly the row lag() returns when the dates are
    # consecutive, and no row (NULL delta) on a gap or a first entry.
    with_delta = ranking.join(
        prev,
        (F.col("isrc") == F.col("p_isrc"))
        & (F.col("ranking_source") == F.col("p_source"))
        & (F.col("ranking_date") == F.col("next_date")),
        "left",
    ).withColumn("delta", F.col("prev_rank") - F.col("rank"))
    out = _with_song_label(with_delta, song_info(artist, song, artist_song_map)).select(
        F.col("ranking_date").alias("date"),
        F.col("ranking_source").alias("platform"),
        F.col("rank"),
        F.col("song_info").alias("song"),
        "spotify_url",
        "apple_music_url",
        "delta",
    )
    return _view_order(out)


def rank_delta_between_dates(
    ranking: DataFrame, baseline_date: dt.date, comparison_date: dt.date
) -> DataFrame:
    """calculate_rank_delta_between_dates_fn — create_schema_behavior.sql:36-54.

    Two-snapshot self-join; delta = comparison.rank - baseline.rank
    (NB: the **opposite** sign convention from the flagship view — positive
    means the song dropped; reproduced as-specified, SURVEY.md §2.7 note).

    Physical plan: both sides are single-date partition scans (ranking is
    partitioned by ranking_date) of ≤ #platforms × 10 rows → broadcast join,
    no shuffle.
    """
    t1 = ranking.filter(F.col("ranking_date") == F.lit(baseline_date)).select(
        "isrc", "ranking_source", F.col("rank").alias("baseline_rank")
    )
    t2 = ranking.filter(F.col("ranking_date") == F.lit(comparison_date)).select(
        "isrc", "ranking_source", F.col("rank").alias("comparison_rank")
    )
    return (
        t1.join(F.broadcast(t2), ["isrc", "ranking_source"], "inner")
        .select(
            F.col("ranking_source").alias("platform"),
            "isrc",
            (F.col("comparison_rank") - F.col("baseline_rank")).alias("delta"),
        )
        .orderBy(source_ordinal("platform"), F.col("delta").desc())
    )
