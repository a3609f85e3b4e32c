"""Offline ingest-shim tests: fixture HTML/JSON through the S1-S5/P1-P4
parsing operators (the network edge is never touched — mirrors the
reference's extract phase layer by layer, etl_pipeline.py:177-568)."""

from __future__ import annotations

import base64
import json

import pytest

from daily_top_songs_etl_spark.sources.ingest import (
    apple_song_data_from_ldjson,
    basic_auth_header,
    content_type_guard,
    song_urls_from_html,
    tracks_response_to_daily_batch,
)

# 12 meta tags: the extractor must keep only the FIRST 10 in document
# (= rank) order, reproducing the limit=10 of etl_pipeline.py:322.
_PLAYLIST_HTML = "<html><head>" + "".join(
    f'<meta name="music:song" content="https://open.spotify.com/track/T{i:02d}"/>'
    for i in range(12)
) + "</head><body>ignored</body></html>"


def _tracks_response(n: int = 3) -> str:
    return json.dumps(
        {
            "tracks": [
                {
                    "external_ids": {"isrc": f"USXX00000{i:03d}"},
                    "artists": [
                        {"id": f"A{i}a", "name": f"Lead {i}"},
                        {"id": f"A{i}b", "name": f"Feat {i}"},
                    ],
                    "duration_ms": 180000 + i,
                    "explicit": i % 2 == 0,
                    "external_urls": {"spotify": f"https://open.spotify.com/track/T{i}"},
                    "name": f"Song {i}",
                }
                for i in range(n)
            ]
        }
    )


def test_song_urls_top10_in_rank_order(spark):
    rows = song_urls_from_html(spark, _PLAYLIST_HTML).collect()
    assert len(rows) == 10  # 12 tags, top-10 cut (P1/O4)
    assert [r.position for r in rows] == list(range(10))
    assert rows[0].url.endswith("/T00") and rows[9].url.endswith("/T09")
    # P4: track id = last path segment
    assert [r.track_id for r in rows][:3] == ["T00", "T01", "T02"]
    assert {r.source for r in rows} == {"Spotify"}


def test_song_urls_apple_variant_uses_property_attr(spark):
    html = '<meta property="music:song" content="https://music.apple.com/song/1"/>'
    rows = song_urls_from_html(spark, html, source="Apple Music").collect()
    assert len(rows) == 1 and rows[0].track_id == "1"


def test_tracks_response_shreds_nested_json(spark):
    df = tracks_response_to_daily_batch(spark, _tracks_response(3))
    rows = df.orderBy("position").collect()
    assert [r.position for r in rows] == [0, 1, 2]  # array order = rank order
    r0 = rows[0]
    assert r0.isrc == "USXX00000000"
    assert [a.artist_name for a in r0.artists] == ["Lead 0", "Feat 0"]
    assert r0.song_duration_ms == 180000 and r0.is_explicit is True
    assert r0.spotify_url.endswith("/T0") and r0.apple_music_url is None
    # missing optional fields project as NULL, not error
    sparse = json.dumps({"tracks": [{"name": "only-name"}]})
    srow = tracks_response_to_daily_batch(spark, sparse).first()
    assert srow.song_name == "only-name" and srow.isrc is None


def test_content_type_guard_keeps_html_and_json(spark):
    df = spark.createDataFrame(
        [
            ("a", "text/html; charset=utf-8"),
            ("b", "application/json"),
            ("c", "image/png"),
            ("d", ""),
        ],
        "url string, content_type string",
    )
    kept = {r.url for r in content_type_guard(df).collect()}
    assert kept == {"a", "b"}  # F10: reject non-HTML/JSON


def test_basic_auth_header_round_trip():
    h = basic_auth_header("my-id", "my-secret")
    assert h.startswith("Basic ")
    assert base64.b64decode(h[6:]).decode() == "my-id:my-secret"


def test_apple_ldjson_projection():
    html = (
        "<html><script id=\"schema:song\" type=\"application/ld+json\">"
        + json.dumps(
            {
                "name": "Some Song",
                "audio": {"byArtist": [{"name": "A"}, {"name": "B"}]},
            }
        )
        + "</script></html>"
    )
    out = apple_song_data_from_ldjson(html)
    assert out == {"song_name": "Some Song", "artist_names": ["A", "B"]}
    with pytest.raises(ValueError):
        apple_song_data_from_ldjson("<html>no script</html>")


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """Clean rows parse under the declared schema; corrupt lines land in
    quarantine verbatim — nothing is silently dropped."""
    from pyspark.sql import types as T

    from daily_top_songs_etl_spark.sources.formats import read_jsonl, write_jsonl

    src = tmp_path / "in"
    src.mkdir()
    (src / "part-0.jsonl").write_text(
        '{"isrc": "A", "rank": 1}\n'
        'not json at all\n'
        '{"isrc": "B", "rank": "NaNope"}\n'
        '{"isrc": "C", "rank": 3}\n'
    )
    schema = T.StructType(
        [
            T.StructField("isrc", T.StringType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    good, bad = read_jsonl(spark, str(src), schema)
    assert sorted((r.isrc, r.rank) for r in good.collect()) == [
        ("A", 1),
        ("C", 3),
    ]
    bad_lines = sorted(r.raw_line for r in bad.collect())
    assert bad_lines == ["not json at all", '{"isrc": "B", "rank": "NaNope"}']

    out = tmp_path / "out"
    write_jsonl(good, str(out))
    good2, bad2 = read_jsonl(spark, str(out), schema)
    assert sorted((r.isrc, r.rank) for r in good2.collect()) == [
        ("A", 1),
        ("C", 3),
    ]
    assert bad2.count() == 0


def test_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import types as T

    from daily_top_songs_etl_spark.sources.formats import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "x", dt.date(2024, 1, 1), None), (2, None, dt.date(2024, 1, 2), 2.5)],
        "id bigint, name string, day date, score double",
    )
    path = str(tmp_path / "orc")
    write_orc(df, path)
    back = read_orc(spark, path, df.schema)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_text_reader_line_and_wholetext_modes(spark, tmp_path):
    from daily_top_songs_etl_spark.sources.formats import read_text

    src = tmp_path / "txt"
    src.mkdir()
    (src / "a.txt").write_text("line one\nline two\n")
    (src / "b.txt").write_text("single doc body\n")
    lines = read_text(spark, str(src)).collect()
    assert sorted(r.value for r in lines) == [
        "line one",
        "line two",
        "single doc body",
    ]
    docs = read_text(spark, str(src), doc_per_file=True).collect()
    assert len(docs) == 2 and any("line one\nline two" in r.value for r in docs)


def test_resilient_parquet_scan_skips_torn_files(spark, tmp_path):
    from pyspark.sql import types as T

    from daily_top_songs_etl_spark.sources.formats import (
        read_parquet_resilient,
    )

    target = str(tmp_path / "landing")
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(2).write.parquet(
        target
    )
    # simulate a failed upload: a torn file with a valid-looking name
    import os

    with open(os.path.join(target, "part-torn.snappy.parquet"), "wb") as fh:
        fh.write(b"PAR1this-is-not-a-real-parquet-file")

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    out = read_parquet_resilient(spark, target, schema)
    assert out.count() == 100  # good files fully read, torn file skipped

    # loud-failure mode still fails on the torn file
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_parquet_resilient(
            spark, target, schema, ignore_corrupt=False
        ).count()


def _source_tracks_response(ids: list[tuple[str, str]], url_host: str) -> str:
    """A /v1/tracks response for the given (isrc, song_name) list — both
    sources return Spotify-API-shaped data (the reference looks Apple
    songs up in Spotify's database by ISRC, etl_pipeline.py:958-963)."""
    return json.dumps(
        {
            "tracks": [
                {
                    "external_ids": {"isrc": isrc},
                    "artists": [{"id": f"A-{isrc}", "name": f"Artist {isrc}"}],
                    "duration_ms": 200000 + i,
                    "explicit": False,
                    "external_urls": {"spotify": f"https://{url_host}/track/{isrc}"},
                    "name": name,
                }
                for i, (isrc, name) in enumerate(ids)
            ]
        }
    )


def test_dual_source_pipeline_end_to_end(spark, tmp_path, monkeypatch):
    """Apple path flipped ON (VERDICT r2 #7): both sources' fixtures flow
    through extract -> combine (U1/U2) -> run_daily_batch. Asserts the
    right-biased merge (Apple wins the song dim on a duplicate ISRC,
    etl_pipeline.py:985-997) and the 20-row per-source positional ranks
    (load_ranking_data's half-split, etl_pipeline.py:843-850)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.pipeline import run_daily_batch
    from daily_top_songs_etl_spark.sources import ingest
    from daily_top_songs_etl_spark.sources.ingest import (
        combine_source_batches,
        stamp_apple_urls,
    )

    monkeypatch.setattr(ingest, "APPLE_MUSIC_ENABLED", True)

    # 10 Spotify + 10 Apple songs; 3 ISRCs chart on BOTH (positions 0-2
    # of each), with DIFFERENT song names so the right-bias is observable
    spotify_ids = [(f"USDU00000{i:03d}", f"Spotify Name {i}") for i in range(10)]
    apple_ids = [
        (f"USDU00000{i:03d}", f"Apple Name {i}") for i in range(3)
    ] + [(f"USDU00001{i:03d}", f"Apple Name {i}") for i in range(3, 10)]

    spotify_html = "<html>" + "".join(
        f'<meta name="music:song" content="https://open.spotify.com/track/{isrc}"/>'
        for isrc, _ in spotify_ids
    ) + "</html>"
    apple_html = "<html>" + "".join(
        f'<meta property="music:song" content="https://music.apple.com/song/{isrc}"/>'
        for isrc, _ in apple_ids
    ) + "</html>"

    s_urls = song_urls_from_html(spark, spotify_html, source="Spotify")
    a_urls = song_urls_from_html(spark, apple_html, source="Apple Music")
    assert s_urls.count() == 10 and a_urls.count() == 10

    s_batch = tracks_response_to_daily_batch(
        spark, _source_tracks_response(spotify_ids, "open.spotify.com")
    )
    a_batch = stamp_apple_urls(
        tracks_response_to_daily_batch(
            spark,
            _source_tracks_response(apple_ids, "open.spotify.com"),
            source="Apple Music",
        ),
        a_urls,
    )
    combined = combine_source_batches(s_batch, a_batch).withColumn(
        "batch_date", F.lit(dt.date(2026, 8, 1))
    )
    assert combined.count() == 20

    cat = Catalog(spark, str(tmp_path / "wh"))
    mirror = str(tmp_path / "mirror")
    run_daily_batch(cat, combined, mirror)

    # the replayed batch inserts nothing, and its empty CSV mirror
    # appends leave every mirror directory's file list unchanged
    def mirror_files():
        return {
            d: sorted(os.listdir(os.path.join(mirror, d)))
            for d in os.listdir(mirror)
        }

    first = mirror_files()
    assert set(first) == {"artist", "song", "artist_song_map", "ranking"}
    run_daily_batch(cat, combined, mirror)
    assert mirror_files() == first

    # per-source positional ranks: 10 each, rank exactly 1..10 per source
    ranking = cat.read("ranking").collect()
    assert len(ranking) == 20
    by_source = {}
    for r in ranking:
        by_source.setdefault(r.ranking_source, []).append(r.rank)
    assert sorted(by_source["Spotify"]) == list(range(1, 11))
    assert sorted(by_source["Apple Music"]) == list(range(1, 11))

    # U1 right-bias: the 3 dual-charting ISRCs keep the APPLE song data
    song = {r.isrc: r for r in cat.read("song").collect()}
    assert len(song) == 17  # 10 + 10 - 3 duplicates
    for i in range(3):
        isrc = f"USDU00000{i:03d}"
        assert song[isrc].song_name == f"Apple Name {i}"  # Apple won
        assert song[isrc].apple_music_url == (
            f"https://music.apple.com/song/{isrc}"
        )
    # Spotify-only songs keep their Spotify data, no apple url
    for i in range(3, 10):
        isrc = f"USDU00000{i:03d}"
        assert song[isrc].song_name == f"Spotify Name {i}"
        assert song[isrc].apple_music_url is None

    # every ranking row's isrc resolves in the song dim (FK)
    assert (
        cat.read("ranking").join(cat.read("song"), "isrc", "left_anti").count()
        == 0
    )
