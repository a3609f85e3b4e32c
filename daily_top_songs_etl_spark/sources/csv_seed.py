"""Seed CSV scan + bootstrap — the replay path.

The reference bootstraps by ``\\copy``-ing CSVs into constraint-free staging
tables, then INSERT…ON CONFLICT into the real ones (``db/init.sh:213-258``,
``load_seed_data.sql``) — a textbook bronze→silver hop (SURVEY.md §1.3).
Spark rewrite (§3.3): permissive typed CSV read → validation filters →
priority dedup → Parquet tables.

CSV dialect facts (from the writers in ``etl_pipeline.py:614-619, 730-742,
853-871``): header row, all non-null fields double-quoted, NULL serialized
as an **empty unquoted field** (so ``\\copy`` reads it back as NULL),
booleans as Python ``str(bool)`` = ``True``/``False`` (Spark parses these
case-insensitively), dates as ISO ``yyyy-MM-dd``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..catalog import Catalog
from ..operators.upsert import priority_dedup
from ..operators.validate import split_valid_ranking

SEED_FILES = {
    "artist": ["artist.csv"],
    "song": ["song.csv"],
    "artist_song_map": ["artist_song_map.csv"],
    # Two fact files; the current one replays on top of the 2024 archive.
    "ranking": ["ranking_2024.csv", "ranking.csv"],
}


def read_seed_csv(spark: SparkSession, paths: list[str], table: str) -> DataFrame:
    """Typed permissive read — the staging-table analog (S6)."""
    return spark.read.csv(
        paths,
        header=True,
        schema=schemas.TABLE_SCHEMAS[table],
        mode="PERMISSIVE",
        nullValue="",
    )


def bootstrap(spark: SparkSession, csv_dir: str, catalog: Catalog) -> None:
    """Replay the seed corpus into Parquet tables.

    Reproduces ``load_seed_data.sql`` semantics: ON CONFLICT DO NOTHING per
    key, with the song path pre-ordered ``apple_music_url NULLS LAST`` so
    the richer duplicate wins (O3/J4), and the ranking path validated
    against its CHECK constraints (F8).

    Raises FileNotFoundError naming every seed file missing from
    ``csv_dir``, before anything is written: a partial seed would load
    empty tables without a word.
    """
    missing = [
        os.path.join(csv_dir, f)
        for files in SEED_FILES.values()
        for f in files
        if not os.path.exists(os.path.join(csv_dir, f))
    ]
    if missing:
        raise FileNotFoundError(f"missing seed files: {', '.join(missing)}")
    frames: dict[str, DataFrame] = {}
    for table, files in SEED_FILES.items():
        paths = [os.path.join(csv_dir, f) for f in files]
        frames[table] = read_seed_csv(spark, paths, table)

    artist = priority_dedup(frames["artist"], schemas.ARTIST_KEY)
    song = priority_dedup(
        frames["song"],
        schemas.SONG_KEY,
        [F.col("apple_music_url").asc_nulls_last()],
    )
    amap = priority_dedup(frames["artist_song_map"], schemas.ARTIST_SONG_MAP_KEY)
    ranking_valid, _rejected = split_valid_ranking(frames["ranking"])
    # Both UNIQUE constraints apply: (isrc,date,source) then (date,rank,source).
    ranking = priority_dedup(ranking_valid, schemas.RANKING_KEY)
    ranking = priority_dedup(ranking, schemas.RANKING_SLOT_KEY)

    catalog.write(artist, "artist")
    catalog.write(song, "song")
    catalog.write(amap, "artist_song_map")
    catalog.write(ranking, "ranking")
