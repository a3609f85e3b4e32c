"""Decorrelated song-label computation.

The reference's ``get_formatted_song_info_fn(isrc)`` is a scalar plpgsql UDF
that runs two queries per call and is invoked per output row of every view
(``create_schema_behavior.sql:15-34``, call sites ``:102,116,134``) — a
correlated N+1 pattern. The Spark-native form computes the label **once for
all songs** as a DataFrame and joins it in (SURVEY.md §2.9 X1):

    artist_song_map ⋈ artist  →  groupBy(isrc)
      →  STRING_AGG(artist_name, ', ' ORDER BY artist_name)
      →  ⋈ song  →  concat(artists, ' - ', song_name)

``STRING_AGG(... ORDER BY artist_name)`` (``create_schema_behavior.sql:20``)
is order-deterministic; Spark's ``collect_list`` is not, so ``array_sort``
before ``array_join`` is mandatory (SURVEY.md §7.4.2).

Scale note: both inputs are dimensions (bounded by distinct charted songs),
so the joins broadcast; the groupBy shuffles only the tiny bridge table.

The result also carries the song's two URL columns, so a view that shows
the label and the links broadcasts the ``song`` dimension once; column
pruning drops them where no caller selects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def song_info(artist: DataFrame, song: DataFrame, artist_song_map: DataFrame) -> DataFrame:
    """One row per isrc: ``song_info = 'A, B - Title'``, with the song's
    ``spotify_url`` and ``apple_music_url``."""
    artists_per_song = (
        artist_song_map.join(F.broadcast(artist), "artist_id", "inner")
        .groupBy("isrc")
        .agg(
            F.array_join(F.array_sort(F.collect_list("artist_name")), ", ").alias(
                "artist_names"
            )
        )
    )
    # Postgres `artist_names || ' - ' || song_title`
    # (create_schema_behavior.sql:32) is NULL-propagating: a song with no
    # mapped artists gets a NULL label, not a bare title — hence F.concat,
    # not F.concat_ws.
    return song.join(F.broadcast(artists_per_song), "isrc", "left").select(
        "isrc",
        F.concat(F.col("artist_names"), F.lit(" - "), F.col("song_name")).alias(
            "song_info"
        ),
        "spotify_url",
        "apple_music_url",
    )
