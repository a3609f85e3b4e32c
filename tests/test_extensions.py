"""Unit tests for the extension operators beyond the oracle harness:
approximate ops (LSH) are checked for recall against exact baselines, the
Arrow/numpy path for exact agreement with the column-math path, and the
multimodal plumbing for schema/batching behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_lsh_recall_vs_brute_force(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(embeddings, queries, k=5)
    approx = lsh_bucket_topk(embeddings, queries, k=5, n_planes=2)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 2 planes + Hamming-1 multiprobe = 3 of 4 buckets searched; even with
    # weak neighbor structure (random Gaussian vectors) recall ≈ candidates
    # fraction, so well above 0.5.
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"


def test_ivf_recall_vs_brute_force(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(embeddings, queries, k=5)
    approx = ivf_topk(embeddings, queries, k=5, n_centroids=8, n_probe=2)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 2 of 8 lists probed ⇒ ≥25% of the corpus scanned, and true neighbors
    # concentrate in the probed (closest) lists, so recall should beat the
    # scanned fraction comfortably.
    assert recall >= 0.3, f"IVF recall {recall:.2f} too low"


def test_hash_split_is_deterministic_and_balanced(spark, documents):
    from daily_top_songs_etl_spark.extensions.text import hash_split

    s1 = hash_split(documents, test_pct=20)
    counts = {r.split: r.n for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert counts.get("test", 0) / total == pytest.approx(51 / 256, abs=0.06)
    # same assignment on repartitioned input (no RNG state anywhere)
    s2 = hash_split(documents.repartition(13), test_pct=20)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))


def test_arrow_topk_matches_column_math(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    queries = embeddings.filter(F.col("vec_id") < 3)
    a = brute_force_topk(embeddings, queries, k=7)
    qrows = [(r.vec_id, list(r.embedding)) for r in queries.collect()]
    b = brute_force_topk_arrow(embeddings, qrows, k=7)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb  # exact: both use quantized-integer math


def test_minhash_finds_planted_near_dups(spark, documents):
    from daily_top_songs_etl_spark.extensions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    true_dups = {
        (r.doc_id_a, r.doc_id_b)
        for r in ngram_jaccard_pairs(documents, min_jaccard=0.9).collect()
    }
    assert true_dups, "testdata should contain planted near-duplicates"
    candidates = {
        (r.doc_id_a, r.doc_id_b) for r in minhash_lsh_pairs(documents).collect()
    }
    recall = len(true_dups & candidates) / len(true_dups)
    # 4 bands of 2: P(candidate) = 1-(1-j^2)^4 ≈ 0.999 at j=0.9.
    assert recall >= 0.8, f"minhash recall {recall:.2f}"


def test_simhash_near_dups_have_close_hashes(spark, documents):
    from daily_top_songs_etl_spark.extensions.dedup import (
        ngram_jaccard_pairs,
        simhash,
    )

    hashes = {r.doc_id: r.simhash for r in simhash(documents).collect()}
    dups = ngram_jaccard_pairs(documents, min_jaccard=0.9).collect()
    assert dups

    def hamming(a, b):
        return bin(a ^ b).count("1")

    avg_dup = sum(hamming(hashes[r.doc_id_a], hashes[r.doc_id_b]) for r in dups) / len(dups)
    # random 16-bit pairs differ in ~8 bits; near-dups should be far closer
    assert avg_dup <= 3, f"avg hamming distance for near-dups: {avg_dup}"


def test_exact_dedup_keeps_min_id(spark, documents):
    from daily_top_songs_etl_spark.extensions.dedup import exact_dedup

    # append a true duplicate of the first doc with a higher id
    first = documents.orderBy("doc_id").limit(1)
    clone = first.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    out = exact_dedup(documents.unionByName(clone))
    dup_groups = out.filter(F.col("n_copies") > 1).collect()
    assert any(
        r.n_copies == 2 and r.keep_doc_id < 1_000_000 for r in dup_groups
    )


@pytest.mark.slow
def test_multimodal_feature_extraction(spark):
    from daily_top_songs_etl_spark.extensions.multimodal import (
        extract_features,
        resize_plan,
        sample_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, n=30)
    feats = extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(r.feat is not None and len(r.feat) == 8 for r in rows)
    assert all(len(r.digest) == 32 for r in rows)

    # null payload handled (not crashed) by the kernel
    with_null = media.withColumn(
        "payload", F.when(F.col("media_id") == 0, None).otherwise(F.col("payload"))
    )
    nulled = extract_features(with_null, fake=True).filter("media_id = 0").first()
    assert nulled.digest is None and nulled.n_bytes == 0

    # real path: synthetic payloads are not PNGs (and audio/video decode
    # is a clearly marked stub) — must fail loudly, not emit garbage
    import py4j.protocol
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, py4j.protocol.Py4JJavaError)):
        extract_features(media, fake=False).collect()

    rp = resize_plan(media, max_side=64).filter("needs_resize").collect()
    assert all(max(r.target_width, r.target_height) <= 64 for r in rp)

    sf = sample_frames(media, every_n=5)
    vid = media.filter("kind = 'video'").count()
    assert sf.select("media_id").distinct().count() == vid


def test_decode_png_filters_palette_and_roundtrip():
    """Pure-stdlib PNG decoder: encode→decode round trip for every channel
    count, each filter type (Sub/Up/Average/Paeth scanlines built by
    applying the spec's filter transform, which the decoder must invert),
    and palette expansion."""
    import struct
    import zlib

    from daily_top_songs_etl_spark.extensions.multimodal import (
        _PNG_SIGNATURE,
        decode_png,
        encode_png,
    )

    # round-trip: gray, gray+alpha, RGB, RGBA
    for ch in (1, 2, 3, 4):
        w, h = 7, 5
        px = bytes((x * 31 + c * 17) % 256 for x in range(w * h) for c in range(ch))
        got = decode_png(encode_png(w, h, ch, px))
        assert got == (w, h, ch, bytearray(px))

    # hand-filtered scanlines: apply each filter forward, decoder inverts
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    w, h, ch = 6, 5, 3
    stride = w * ch
    rows = [
        bytes((y * 40 + x * 7) % 256 for x in range(stride)) for y in range(h)
    ]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur, up = rows[y], rows[y - 1] if y else bytes(stride)
        raw.append(ftype)
        for x in range(stride):
            left = cur[x - ch] if x >= ch else 0
            upleft = up[x - ch] if x >= ch else 0
            pred = {
                0: 0, 1: left, 2: up[x],
                3: (left + up[x]) >> 1, 4: paeth(left, up[x], upleft),
            }[ftype]
            raw.append((cur[x] - pred) & 0xFF)
    data = (
        _PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(data) == (w, h, ch, bytearray(b"".join(rows)))

    # palette: 4 indexed pixels expand to their PLTE RGB entries
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    idx_rows = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 3])
    pal_png = (
        _PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(idx_rows))
        + chunk(b"IEND", b"")
    )
    assert decode_png(pal_png) == (2, 2, 3, bytearray(plte))

    # corrupt input fails loudly
    with pytest.raises(ValueError):
        decode_png(b"GIF89a not a png")
    with pytest.raises(ValueError):
        decode_png(data[:-10] + b"\x00" * 10)  # broken IEND CRC region
    with pytest.raises(ValueError, match="missing CRC"):
        decode_png(data[:-2])  # cut off mid-CRC: 2 of IEND's 4 CRC bytes
    with pytest.raises(ValueError, match="missing CRC"):
        decode_png(data[:-4])  # cut off exactly before the final CRC


def test_extract_features_real_png_decode(spark):
    """fake=False runs the REAL stdlib PNG decode inside the Arrow kernel:
    features from the committed fixture image match the locally computed
    pixel statistics (VERDICT r2 #4)."""
    import os

    from daily_top_songs_etl_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        png_features,
    )

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "gradient_16x12_rgb.png"
    )
    payload = open(fixture, "rb").read()
    expect = png_features(payload)
    media = spark.createDataFrame(
        [
            (
                0,
                "image",
                payload,
                {"width": 16, "height": 12, "sample_rate": None,
                 "n_frames": None, "mime": "image/png"},
            )
        ],
        MEDIA_SCHEMA,
    )
    row = extract_features(media, fake=False).first()
    assert row.n_bytes == len(payload)
    assert row.feat == expect
    assert row.feat[2] == 3.0  # RGB channel count from real IHDR
    assert all(0.0 <= v <= 1.0 for v in row.feat[3:])


def test_decode_wav_roundtrip_and_corrupt():
    """Stdlib WAV codec: encode→decode round-trips 16-bit stereo and
    8-bit mono (zero-centered); corrupt/unsupported input fails loudly
    (VERDICT r3 #5 — audio real path, video stays the documented stub)."""
    import math
    import struct

    from daily_top_songs_etl_spark.extensions.multimodal import (
        decode_wav,
        encode_wav,
    )

    sr = 8000
    stereo = []
    for i in range(100):
        stereo += [int(12000 * math.sin(2 * math.pi * 440 * i / sr)), -i]
    data = encode_wav(sr, 2, 16, stereo)
    assert decode_wav(data) == (sr, 2, 16, stereo)

    mono8 = [128 + (i % 50) for i in range(75)]  # odd byte count: pad path
    d8 = encode_wav(sr, 1, 8, mono8)
    assert decode_wav(d8) == (sr, 1, 8, [x - 128 for x in mono8])

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS not a wav")
    with pytest.raises(ValueError, match="truncated WAV"):
        decode_wav(data[:-10])  # RIFF size check catches the cut first
    cut = bytearray(data[:-10])  # also hit the chunk-level check: fix up
    cut[4:8] = struct.pack("<I", len(cut) - 8)  # the RIFF size to match
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_wav(bytes(cut))
    fmt_only = encode_wav(sr, 1, 16, [])[:36]  # drop the empty data chunk
    fmt_only = fmt_only[:4] + struct.pack("<I", 28) + fmt_only[8:]
    with pytest.raises(ValueError, match="missing data"):
        decode_wav(fmt_only)
    bad_fmt = bytearray(data)
    bad_fmt[20] = 3  # format tag -> IEEE float
    with pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav(bytes(bad_fmt))
    bad_align = bytearray(data)
    bad_align[32] = 7  # block_align inconsistent
    with pytest.raises(ValueError, match="block_align"):
        decode_wav(bytes(bad_align))


def test_extract_features_real_wav_decode(spark):
    """fake=False runs the REAL stdlib WAV decode inside the Arrow
    kernel: features from the committed fixture match the locally
    computed PCM statistics, alongside a real PNG row in the same batch
    (mixed-kind dispatch)."""
    import os

    from daily_top_songs_etl_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        wav_features,
    )

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "tone_440_8k_stereo16.wav"
    )
    payload = open(fixture, "rb").read()
    expect = wav_features(payload)
    png = open(
        os.path.join(
            os.path.dirname(__file__), "fixtures", "gradient_16x12_rgb.png"
        ),
        "rb",
    ).read()
    media = spark.createDataFrame(
        [
            (
                0,
                "audio",
                payload,
                {"width": None, "height": None, "sample_rate": 8000,
                 "n_frames": None, "mime": "audio/wav"},
            ),
            (
                1,
                "image",
                png,
                {"width": 16, "height": 12, "sample_rate": None,
                 "n_frames": None, "mime": "image/png"},
            ),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in extract_features(media, fake=False).collect()}
    assert rows[0].n_bytes == len(payload)
    assert rows[0].feat == expect
    assert rows[0].feat[1] == 2.0  # stereo channel count from real fmt
    assert rows[0].feat[3] == pytest.approx(0.05)  # 400 frames @ 8 kHz
    assert rows[1].feat[2] == 3.0  # PNG row still decodes in same batch

    # 8-bit mono fixture decodes on the same path
    mono = open(
        os.path.join(
            os.path.dirname(__file__), "fixtures", "tone_330_8k_mono8.wav"
        ),
        "rb",
    ).read()
    feats = wav_features(mono)
    assert feats[1] == 1.0 and 0.0 < feats[4] < 1.0


def test_approx_distinct_within_rsd(spark):
    import __spark_entry__ as entrymod

    exact = {
        r.event_type: r.n_users
        for r in entrymod.queries()["distinct_users"](spark, SF_DIR).collect()
    }
    approx = {
        r.event_type: r.n_users_approx
        for r in entrymod.queries()["approx_distinct_users"](spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] <= 0.1


def test_ngram_topk_counts_and_short_docs(spark):
    from daily_top_songs_etl_spark.extensions.text import ngram_topk

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),   # bigrams: "a b","b a","a b","b c"
            (2, "a b"),          # bigram: "a b"
            (3, "solo"),         # no bigram (short doc must not crash)
            (4, ""),             # degenerate
        ],
        "doc_id bigint, text string",
    )
    out = {r.gram: (r.n_occurrences, r.n_docs) for r in ngram_topk(docs, 2, 10).collect()}
    assert out["a b"] == (3, 2)
    assert out["b a"] == (1, 1)
    assert out["b c"] == (1, 1)


def test_repetition_ratio_detects_repeats(spark):
    from daily_top_songs_etl_spark.extensions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "x y x y x y x y"),          # heavy bigram repetition
            (2, "the quick brown fox jumps"),  # all distinct
            (3, "one"),                         # no bigrams -> null ratio
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[1].n_grams == 7 and rows[1].n_distinct_grams == 2
    assert rows[1].dup_gram_ratio > 0.7
    assert rows[2].dup_gram_ratio == 0.0
    assert rows[3].n_grams == 0 and rows[3].dup_gram_ratio is None


def test_quality_gate_rules_fire_independently(spark):
    from daily_top_songs_etl_spark.extensions.text import quality_gate

    # diverse: distinct vocabulary (bigrams unique) + a few stopwords
    long_good = "the and " + " ".join(f"word{i}" for i in range(60))
    repeated = "the cat the cat " * 30
    docs = spark.createDataFrame(
        [(1, long_good), (2, repeated), (3, "way too short")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in quality_gate(docs).collect()}
    assert rows[1].passes_all
    assert rows[2].gate_len and not rows[2].gate_repetition
    assert not rows[3].gate_len and not rows[3].passes_all


def test_stratified_sample_deterministic_and_rated(spark, documents):
    from daily_top_songs_etl_spark.extensions.text import sample_stratified

    a = sample_stratified(documents, rates={"en": 10}, default_rate=50)
    b = sample_stratified(documents, rates={"en": 10}, default_rate=50)
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )
    n_en_total = documents.filter(F.col("lang") == "en").count()
    n_en_kept = a.filter(F.col("lang") == "en").count()
    if n_en_total >= 20:
        # 25/256 ≈ 9.8% expected; loose bounds for a small corpus
        assert 0.0 <= n_en_kept / n_en_total <= 0.35


def test_dedup_index_incremental_lifecycle(spark, tmp_path):
    """Persisted dedup signature index: build over a historical corpus,
    match an incoming batch (planted near-copy found, fresh doc clean),
    append the accepted batch, and verify the NEXT batch matches against
    the appended docs too — all without recomputing corpus signatures
    (the probe plan reads the stored parquet, not the corpus text)."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        match_against_dedup_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "completely unrelated text about distributed query engines"),
            (3, "spark catalyst optimizes declarative plans into codegen"),
        ],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path / "ddidx"))
    build_dedup_index(cat, "dd", corpus)

    fresh = (
        "entirely fresh content nothing like the corpus rows seen so far "
        "it keeps going long enough that one changed word leaves most "
        "trigram shingles shared between the two variants"
    )
    batch1 = spark.createDataFrame(
        [
            # near-copy of doc 1 (one word changed)
            (101, "the quick brown fox jumps over the lazy cat every day"),
            (102, fresh),
        ],
        "doc_id long, text string",
    )
    m1 = match_against_dedup_index(cat, "dd", batch1).collect()
    hits = {(r.batch_doc_id, r.corpus_doc_id): r.est_jaccard for r in m1}
    assert (101, 1) in hits and hits[(101, 1)] >= 0.5
    assert all(b != 102 for b, _ in hits)  # fresh doc matches nothing

    # the probe must read the STORED signatures, not re-shingle the corpus
    plan = match_against_dedup_index(
        cat, "dd", batch1
    )._jdf.queryExecution().executedPlan().toString()
    # a parquet scan whose schema is the signature layout = stored index
    # (the plan renderer truncates paths, so match the ReadSchema)
    assert "ReadSchema: struct<doc_id:bigint,mh_0:string" in plan

    # accept the batch, fold it in append-only; version is unchanged
    v_before = cat.current_version("dd__signatures")
    append_to_dedup_index(cat, "dd", batch1)
    assert cat.current_version("dd__signatures") == v_before

    batch2 = spark.createDataFrame(
        # near-copy of the APPENDED doc 102 (last word changed)
        [(201, fresh.rsplit(" ", 1)[0] + " copies")],
        "doc_id long, text string",
    )
    m2 = {
        (r.batch_doc_id, r.corpus_doc_id): r.est_jaccard
        for r in match_against_dedup_index(cat, "dd", batch2).collect()
    }
    assert (201, 102) in m2 and m2[(201, 102)] >= 0.5


def test_dedup_apply_keeps_one_rep_per_cluster(spark, documents):
    from daily_top_songs_etl_spark.extensions.dedup import (
        connected_components,
        dedup_apply,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(documents)
    clusters = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    survivors = {r.doc_id: r.is_cluster_rep for r in dedup_apply(documents, pairs).collect()}
    n_docs = documents.count()
    n_clusters = len(set(clusters.values()))
    n_clustered_docs = len(clusters)
    # every cluster contributes exactly its representative
    assert len(survivors) == n_docs - n_clustered_docs + n_clusters
    for doc, cl in clusters.items():
        if doc == cl:
            assert survivors[doc] is True
        else:
            assert doc not in survivors
    # unclustered docs survive, unflagged
    assert sum(1 for v in survivors.values() if not v) == n_docs - n_clustered_docs


def test_winnow_short_docs_produce_no_fingerprints(spark):
    from daily_top_songs_etl_spark.extensions.text import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e f g h")],
        "doc_id bigint, text string",
    )
    out = winnow_fingerprints(docs, k=3, w=4).collect()
    assert all(r.doc_id == 2 for r in out)
    assert len(out) > 0


def test_embedding_centroids_planted(spark):
    from daily_top_songs_etl_spark.extensions.similarity import (
        embedding_centroids,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [3.0, 2.0], 0),
        (3, [0.0, 4.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = {r.label: (r.centroid, r.n_vectors) for r in embedding_centroids(df).collect()}
    assert out[0] == ([2000.0, 1000.0], 2)  # quantized x1000 means
    assert out[1] == ([0.0, 4000.0], 1)


def test_normalize_embeddings_unit_norm_and_zero_guard(spark):
    from daily_top_songs_etl_spark.extensions.similarity import (
        normalize_embeddings,
    )

    rows = [(1, [3.0, 4.0]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r.unit_vec for r in normalize_embeddings(df).collect()}
    assert out[1] == [0.6, 0.8]
    assert out[2] is None
    norm = sum(x * x for x in out[1]) ** 0.5
    assert abs(norm - 1.0) < 1e-6


def test_kmeans_recovers_planted_clusters(spark):
    """Two tight planted blobs, k=2: every vector lands with its blob and
    centroids sit at the blob means."""
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    blob_a = [[0.0 + 0.001 * i, 0.0] for i in range(5)]
    blob_b = [[10.0, 10.0 + 0.001 * i] for i in range(7)]
    rows = [(i, v) for i, v in enumerate(blob_a + blob_b)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = kmeans_fit(df, k=2, iters=3).collect()
    sizes = sorted(r.n_vectors for r in out)
    assert sizes == [5, 7]
    for r in out:
        cx, cy = r.centroid
        if r.n_vectors == 5:
            assert abs(cx - 0.002) < 0.01 and abs(cy) < 0.01
        else:
            assert abs(cx - 10.0) < 0.01 and abs(cy - 10.003) < 0.01


def test_kmeans_deterministic_across_runs(spark):
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    rows = [(i, [float((i * 37) % 11), float((i * 53) % 7)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    a = sorted(map(tuple, kmeans_fit(df, k=3, iters=2).collect()))
    b = sorted(map(tuple, kmeans_fit(df, k=3, iters=2).collect()))
    assert a == b


def test_redact_planted_pii(spark):
    from daily_top_songs_etl_spark.extensions.text import PII_PATTERNS, redact

    docs = spark.createDataFrame(
        [
            (1, "mail a.user+tag@ex-ample.org now or b@c.io later"),
            (2, "no pii here"),
            (3, None),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in redact(docs, PII_PATTERNS["email"]).collect()}
    assert out[1].redacted == "mail [REDACTED] now or [REDACTED] later"
    assert out[1].n_redacted == 2
    assert out[2].redacted == "no pii here" and out[2].n_redacted == 0
    assert out[3].redacted is None

    phones = spark.createDataFrame(
        [(1, "call 555-867-5309 or 555.8675.3091")], "doc_id bigint, text string"
    )
    r = redact(phones, PII_PATTERNS["phone"], "[PHONE]").collect()[0]
    assert r.redacted == "call [PHONE] or [PHONE]"
    assert r.n_redacted == 2


def test_quantize_int8_range_and_constant_dim(spark):
    """Codes span exactly [0, 255] per dim; a constant dim maps to 0."""
    from daily_top_songs_etl_spark.extensions.similarity import quantize_int8

    rows = [(1, [0.0, 5.0]), (2, [1.0, 5.0]), (3, [0.25, 5.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r.codes for r in quantize_int8(df).collect()}
    assert out[1] == [0, 0]      # min of dim 1; constant dim 2 -> 0
    assert out[2] == [255, 0]    # max of dim 1
    assert out[3] == [64, 0]     # 0.25 -> round(255/4)


def test_ivf_with_trained_centroids_recall(spark):
    """kmeans_fit output plugs into ivf_topk as the trained index; recall
    vs brute force stays high (0.88 observed on sf0.001, floor 0.7) and
    every pair is a valid non-self corpus neighbor."""
    from daily_top_songs_etl_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    trained = kmeans_fit(emb, k=8, iters=2)
    rows = ivf_topk(
        emb, queries, k=10, n_centroids=8, n_probe=2, centroids=trained
    ).collect()
    ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert all(r.neighbor_id in ids and r.neighbor_id != r.query_id for r in rows)
    got = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(got & exact) / len(exact) >= 0.7


def test_chunk_documents_overlap_and_tail(spark):
    from daily_top_songs_etl_spark.extensions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(60))  # 60 tokens
    docs = spark.createDataFrame(
        [(1, text), (2, "only three tokens here"), (3, None)],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, chunk_tokens=50, stride=25).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # starts 0, 25, 50 -> sizes 50, 35, 10; overlap = chunk - stride = 25
    assert [r.n_tokens for r in c1] == [50, 35, 10]
    assert c1[0].chunk_text.split()[25:] == c1[1].chunk_text.split()[:25]
    assert c1[1].chunk_text.split()[0] == "w25"
    assert by_doc[2][0].n_tokens == 4 and len(by_doc[2]) == 1
    assert 3 not in by_doc  # NULL text yields no chunks


def test_pack_chunks_fill_invariants(spark):
    """Within a (bucket, bin): tokens-before-last-chunk < budget (no bin
    opens past the budget), bins are dense from 0, and every chunk is
    assigned exactly once."""
    from daily_top_songs_etl_spark.extensions.text import (
        chunk_documents,
        pack_chunks,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(120))) for i in range(20)],
        "doc_id bigint, text string",
    )
    chunks = chunk_documents(docs, chunk_tokens=50, stride=25)
    packed = pack_chunks(chunks, token_budget=100, n_buckets=4).collect()
    assert len(packed) == chunks.count()
    by_bucket = {}
    for r in packed:
        by_bucket.setdefault(r.bucket, []).append(r)
    for rows in by_bucket.values():
        rows.sort(key=lambda r: (r.doc_id, r.chunk_id))
        cum = 0
        for r in rows:
            assert r.bin_id == cum // 100  # first-fit contiguous rule
            cum += r.n_tokens
        bins = sorted({r.bin_id for r in rows})
        assert bins == list(range(len(bins)))  # dense from 0


def test_gapfill_forward_leading_nulls_and_carry(spark):
    """Days before a key's first observation stay NULL; values carry
    forward across gaps; explicit bounds define the spine regardless of
    observed min/max."""
    import datetime as dt

    from daily_top_songs_etl_spark.operators.gapfill import gapfill_forward

    df = spark.createDataFrame(
        [("a", dt.date(2024, 1, 3), 10.0), ("a", dt.date(2024, 1, 5), 20.0),
         ("b", dt.date(2024, 1, 2), 7.0)],
        "k string, day date, v double",
    )
    out = {
        (r.k, r.day.isoformat()): r.filled
        for r in gapfill_forward(
            df, "k", "day", "v", "2024-01-01", "2024-01-06"
        ).collect()
    }
    assert len(out) == 12  # 2 keys x 6 days
    assert out[("a", "2024-01-01")] is None and out[("a", "2024-01-02")] is None
    assert out[("a", "2024-01-03")] == 10.0 and out[("a", "2024-01-04")] == 10.0
    assert out[("a", "2024-01-05")] == 20.0 and out[("a", "2024-01-06")] == 20.0
    assert out[("b", "2024-01-01")] is None
    assert all(out[("b", f"2024-01-0{d}")] == 7.0 for d in range(2, 7))


def test_fuzzy_pairs_banding_loses_no_close_pair(spark):
    """Length-band blocking must keep every pair at distance <= k with a
    shared prefix — compare against the unblocked quadratic answer."""
    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.extensions.dedup import fuzzy_pairs

    names = ["alpha", "alphb", "alphaxx", "alp", "alpine", "beta", "betas",
             "be", "gamma", "gamma ray", "gammaray12", "a", "ab", "abcd"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r.left_value, r.right_value, r.distance)
        for r in fuzzy_pairs(df, "name", max_dist=2).collect()
    }
    vals = df.select(F.col("name").alias("v")).distinct()
    exact = {
        (r.l, r.r, r.d)
        for r in vals.alias("a")
        .crossJoin(vals.selectExpr("v as w").alias("b"))
        .filter("substring(v,1,2) = substring(w,1,2) and v < w")
        .selectExpr("v as l", "w as r", "levenshtein(v, w) as d")
        .filter("d <= 2")
        .collect()
    }
    assert got == exact and exact  # non-trivial and identical


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc containing an exact 7-token span of a benchmark doc is
    flagged; docs with at most 6 shared consecutive tokens are not."""
    from daily_top_songs_etl_spark.extensions.text import decontaminate

    bench_text = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    corpus = spark.createDataFrame(
        [
            # 7-token span b2..b8 lifted verbatim → contaminated
            (1, "x1 b2 b3 b4 b5 b6 b7 b8 x2"),
            # only 6 consecutive benchmark tokens → clean at n=7
            (2, "x1 b2 b3 b4 b5 b6 b7 x2 x3"),
            (3, "totally unrelated words only here now appear twice more"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id bigint, text string"
    )
    out = {
        r.doc_id: (r.n_shared_ngrams, r.contaminated)
        for r in decontaminate(corpus, bench, n=7).collect()
    }
    assert out[1] == (1, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert len(out) == 3


def test_vocab_encode_round_trip(spark):
    """Decoding the id sequence through the vocabulary reproduces the
    whitespace-normalized token stream; OOV only when vocab is truncated."""
    from daily_top_songs_etl_spark.extensions.text import (
        build_vocab,
        encode_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, "red blue red green red blue"),
            (2, "green RED  blue"),  # case/extra-space normalization
        ],
        "doc_id bigint, text string",
    )
    vocab = build_vocab(docs, vocab_size=4096)
    v = {r.tok: (r.token_id, r.tok_count) for r in vocab.collect()}
    # red(4) id 1, blue(3) id 2, green(2) id 3 — count desc, token asc
    assert v == {"red": (1, 4), "blue": (2, 3), "green": (3, 2)}
    enc = {r.doc_id: r for r in encode_documents(docs, vocab).collect()}
    assert enc[1].token_ids == "1 2 1 3 1 2" and enc[1].n_oov == 0
    assert enc[2].token_ids == "3 1 2" and enc[2].n_oov == 0
    # truncated vocab: green falls out → OOV id 0
    small = build_vocab(docs, vocab_size=2)
    enc2 = {r.doc_id: r for r in encode_documents(docs, small).collect()}
    assert enc2[1].token_ids == "1 2 1 0 1 2" and enc2[1].n_oov == 1


def test_duplicated_span_stats_planted(spark):
    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.extensions.dedup import (
        duplicated_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # clone of 2
            (2, "the quick brown fox jumps"),
            (3, "entirely different words here"),
            (4, "xy"),                            # < 3 tokens: no shingles
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in duplicated_span_stats(docs).collect()}
    assert set(out) == {1, 2, 3}  # doc 4 emits no row
    assert out[1].shared_ratio == 1.0 and out[2].shared_ratio == 1.0
    assert out[3].shared_ratio == 0.0
    assert out[1].n_spans == 3  # 5 tokens -> 3 distinct 3-gram shingles


def test_tfidf_topk_hand_computed(spark):
    import math

    from daily_top_songs_etl_spark.extensions.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id bigint, text string",
    )
    out = {(r.doc_id, r.term): r for r in tfidf_topk(docs, k=2).collect()}
    # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert out[(1, "apple")].rk == 1
    assert abs(out[(1, "apple")].tfidf - round(2 * math.log(3), 6)) < 1e-9
    assert out[(1, "banana")].rk == 2
    # doc 3: cherry tf=3 df=2 -> 3*ln(1.5)=1.216...; durian tf=1 df=1 -> ln(3)
    assert out[(3, "cherry")].rk == 1
    assert out[(3, "durian")].rk == 2
    assert abs(out[(3, "durian")].tfidf - round(math.log(3), 6)) < 1e-9


# --------------------------------------------------------------------------
# Data-mixture operators (extensions/mixture.py)
# --------------------------------------------------------------------------
def test_mixture_sample_nested_and_deterministic(spark, documents):
    from daily_top_songs_etl_spark.extensions.mixture import mixture_sample

    quarter = mixture_sample(documents, {"en": 0.25}, domain_col="lang")
    half = mixture_sample(documents, {"en": 0.5}, domain_col="lang")
    q_ids = {r.doc_id for r in quarter.filter(F.col("lang") == "en").collect()}
    h_ids = {r.doc_id for r in half.filter(F.col("lang") == "en").collect()}
    # nested: the 25% sample is a subset of the 50% sample
    assert q_ids <= h_ids
    # deterministic: re-running yields the identical kept set
    again = {
        r.doc_id
        for r in mixture_sample(documents, {"en": 0.25}, domain_col="lang")
        .filter(F.col("lang") == "en")
        .collect()
    }
    assert again == q_ids
    # domains without a configured rate keep everything by default
    n_other = documents.filter(F.col("lang") != "en").count()
    assert half.filter(F.col("lang") != "en").count() == n_other
    # rate ~ observed keep fraction (md5 buckets are uniform; generous band)
    n_en = documents.filter(F.col("lang") == "en").count()
    assert 0.1 <= len(h_ids) / n_en <= 0.9


def test_pmi_topk_hand_computed(spark):
    from daily_top_songs_etl_spark.extensions.mixture import pmi_topk

    # corpus: "a b" ×3 plus "c d" noise; bigram (a,b) occurs 3×,
    # unigrams a=3, b=3; n_uni=10, n_bi=5.
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a b"), (3, "c d"), (4, "c d")],
        "doc_id long, text string",
    )
    out = pmi_topk(docs, k=5, min_count=2).collect()
    top = {(r.w1, r.w2): (r.c_xy, r.pmi_ratio) for r in out}
    # pmi_ratio(a,b) = (3/5) * (10/3) * (10/3) = 6.666667
    assert top[("a", "b")][0] == 3
    assert abs(top[("a", "b")][1] - 6.666667) < 1e-6
    # pmi_ratio(c,d) = (2/5) * (10/2) * (10/2) = 10.0 — rarer pair, higher PMI
    assert abs(top[("c", "d")][1] - 10.0) < 1e-6
    assert out[0].w1 == "c"  # ranked first


def test_linear_quality_margin_matches_python(spark):
    from daily_top_songs_etl_spark.extensions.mixture import (
        DEFAULT_QUALITY_BIAS,
        DEFAULT_QUALITY_WEIGHTS,
        linear_quality_score,
    )
    from daily_top_songs_etl_spark.extensions.text import EN_STOPWORDS

    text = "the quick brown fox jumps over the lazy dog!"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = linear_quality_score(docs).collect()[0]
    toks = text.lower().strip().split()
    n_tok = len(toks)
    n_chars = len(text)
    n_stop = sum(1 for w in toks if w in EN_STOPWORDS)
    n_punct = sum(1 for ch in text if not (ch.isalnum() or ch == "_" or ch.isspace()))
    x = (
        n_tok / 100.0,
        n_stop / n_tok,
        n_punct / n_chars,
        ((n_chars - n_tok + 1) / n_tok) / 10.0,
    )
    w = DEFAULT_QUALITY_WEIGHTS
    margin = sum(wi * xi for wi, xi in zip(w, x)) + DEFAULT_QUALITY_BIAS
    assert abs(row.quality_margin - margin) < 1e-6
    assert row.keep == (margin > 0)


# --------------------------------------------------------------------------
# BPE tokenizer (extensions/bpe.py)
# --------------------------------------------------------------------------
def _python_bpe_reference(word_freqs: dict[str, int], n_merges: int):
    """Pure-Python BPE trainer (Sennrich-style): returns the merge list
    learned with frequency-desc, pair-lexicographic tie-break order."""
    words = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + f
        if not pairs:
            break
        (left, right), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right, freq))
        new_words = {}
        for syms, f in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + f
        words = new_words
    return merges, words


def test_bpe_train_matches_python_reference(spark):
    from daily_top_songs_etl_spark.extensions.bpe import bpe_train

    corpus = [
        (0, "low low low lower lower newest newest newest newest widest"),
        (1, "widest widest low newest the the the then then than"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    word_freqs: dict[str, int] = {}
    for _, text in corpus:
        for w in text.split():
            word_freqs[w] = word_freqs.get(w, 0) + 1
    expect_merges, expect_words = _python_bpe_reference(word_freqs, 6)
    merges, words = bpe_train(docs, n_merges=6)
    assert merges == expect_merges
    got_words = {
        tuple(r.syms.strip().split("  ")): r.freq for r in words.collect()
    }
    words.unpersist()
    assert got_words == expect_words


def test_bpe_encode_known_values(spark):
    from daily_top_songs_etl_spark.extensions.bpe import (
        FIXED_MERGES,
        encode_with_merges,
    )

    docs = spark.createDataFrame(
        [(0, "the thin rat"), (1, "stand")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in encode_with_merges(docs, FIXED_MERGES).collect()}
    # "the"→[the], "thin"→[th,in], "rat"→[r,at] ⇒ 1+2+2 = 5 symbols
    assert rows[0].n_bpe_tokens == 5
    assert rows[0].encoded_prefix == "the | th  in | r  at"
    # "stand"→ st,an,d? merges: (s,t)→st, (a,n)→an, (an,d)→and ⇒ [st, and]
    assert rows[1].n_bpe_tokens == 2
    assert rows[1].encoded_prefix == "st  and"


def test_bpe_encode_marker_char_in_text_is_stripped(spark):
    """Input text containing the ¤ word-boundary marker must not corrupt
    the boundary bookkeeping: the marker is stripped from the text before
    tokenization, so 'a¤b' encodes exactly like 'ab'."""
    from daily_top_songs_etl_spark.extensions.bpe import (
        FIXED_MERGES,
        encode_with_merges,
    )

    docs = spark.createDataFrame(
        [(0, "the¤ thin rat"), (1, "the thin rat"), (2, "¤ st¤and ¤¤")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in encode_with_merges(docs, FIXED_MERGES).collect()}
    # doc 0 ≡ doc 1 after the strip
    assert rows[0].n_bpe_tokens == rows[1].n_bpe_tokens == 5
    assert rows[0].encoded_prefix == rows[1].encoded_prefix
    # doc 2: after the strip the text is just 'stand' → [st, and]
    assert rows[2].n_bpe_tokens == 2
    assert rows[2].encoded_prefix == "st  and"


def test_bpe_encode_vocab_variant_output_identical(spark):
    """The vocabulary-domain encode must agree BYTE-FOR-BYTE with the
    whole-document chain, including the edge cases: empty/whitespace
    text, marker chars, 1-char words, >40-word documents (prefix cut),
    and the 80-char substring boundary falling mid-word."""
    from daily_top_songs_etl_spark.extensions.bpe import (
        FIXED_MERGES,
        encode_with_merges,
        encode_with_merges_by_vocab,
    )

    docs = spark.createDataFrame(
        [
            (0, "the thin rat"),
            (1, "stand"),
            (2, ""),
            (3, "   "),
            (4, "a ¤ b a¤b"),
            (5, " ".join(["x"] * 120)),  # 1-char words, way past 40
            (6, " ".join(f"w{i}ord" for i in range(60))),
            (7, "supercalifragilisticexpialidocious " * 5),
            (8, None),
        ],
        "doc_id long, text string",
    )
    a = encode_with_merges(docs, FIXED_MERGES).collect()
    b = encode_with_merges_by_vocab(docs, FIXED_MERGES).collect()
    am = {r.doc_id: (r.n_bpe_tokens, r.encoded_prefix) for r in a}
    bm = {r.doc_id: (r.n_bpe_tokens, r.encoded_prefix) for r in b}
    assert am == bm
    assert am[5][1].startswith("x | x | x")
    assert len(am[5][1]) == 80


def test_bpe_train_final_words_consumable_without_recompute(spark):
    """The returned final_words table is persisted and materialized before
    the training cache is dropped — consuming it is a cache read, not a
    corpus recompute (VERDICT r2 #8)."""
    from daily_top_songs_etl_spark.extensions.bpe import bpe_train

    docs = spark.createDataFrame(
        [(0, "low low lower newest"), (1, "newest widest low")],
        "doc_id long, text string",
    )
    _, words = bpe_train(docs, n_merges=3)
    assert words.storageLevel.useMemory or words.storageLevel.useDisk
    assert words.count() > 0  # consumable after base.unpersist()
    words.unpersist()


def test_connected_components_string_keys_both_paths_agree(spark):
    """Both execution paths (driver union-find for small edge lists, the
    distributed min-label loop) must return the INPUT key type — string
    ids through the small path used to come back as a bigint schema crash
    (ADVICE r2). Same edges, same clusters, same schema either way."""
    from daily_top_songs_etl_spark.extensions.dedup import connected_components

    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2")]
    pairs = spark.createDataFrame(edges, "doc_id_a string, doc_id_b string")
    small = connected_components(pairs)  # 4 edges → driver union-find
    assert dict(small.dtypes) == {"doc_id": "string", "cluster_id": "string"}
    got = {r.doc_id: r.cluster_id for r in small.collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "p": "p", "p2": "p",
    }


def test_approx_percentile_within_error_bound(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    approx = {
        r.l_returnflag: r
        for r in __import__("__spark_entry__")
        .queries()["approx_percentile"](spark, SF_DIR)
        .collect()
    }
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        # accuracy=10000 ⇒ rank error ≤ n/10000; generous value-space band
        assert abs(a.p50_approx - e.p50) / e.p50 < 0.02
        assert abs(a.p95_approx - e.p95) / e.p95 < 0.02


def test_hll_distinct_state_merge_equals_recompute(spark):
    """HLL sketch union is a per-register max: merging per-batch sketches
    must land within the sketch error of the single-shot estimate (merge
    count does not degrade accuracy) and near the exact distinct count.
    (Not bit-identical: DataSketches promotes sparse→dense at different
    points on the union vs direct-build paths.)"""
    from daily_top_songs_etl_spark.operators.incremental import (
        distinct_state,
        finalize_distinct,
        merge_distinct_states,
    )

    df = spark.range(20000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 4097).alias("v"),
    )
    a = df.filter(F.col("id") < 9000)
    b = df.filter(F.col("id") >= 9000)
    merged = finalize_distinct(
        merge_distinct_states(
            distinct_state(a, ["k"], "v"), distinct_state(b, ["k"], "v"), ["k"]
        ),
        ["k"],
    )
    single = finalize_distinct(distinct_state(df, ["k"], "v"), ["k"])
    m = {r.k: r.approx_n_distinct for r in merged.collect()}
    s = {r.k: r.approx_n_distinct for r in single.collect()}
    for k in s:
        assert abs(m[k] - s[k]) / s[k] < 0.02
    exact = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    for k, est in m.items():
        assert abs(est - exact[k]) / exact[k] < 0.05


def test_pq_codes_deterministic_and_better_than_mean(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.pq import pq_encode, pq_train

    cb = pq_train(embeddings, m=4, k=8, iters=2)
    rows = cb.collect()
    # full codebook: 4 subspaces × 8 codes, 16-dim centroids
    assert {r.subspace for r in rows} == {0, 1, 2, 3}
    assert all(0 <= r.code < 8 and len(r.centroid) == 16 for r in rows)

    enc = pq_encode(embeddings, cb, m=4)
    e1 = sorted(map(tuple, enc.collect()))
    assert all(0 <= r[j] < 8 for r in e1 for j in range(1, 5))
    # deterministic end-to-end
    e2 = sorted(
        map(tuple, pq_encode(embeddings, pq_train(embeddings, m=4, k=8, iters=2), m=4).collect())
    )
    assert e1 == e2

    # trained k=8 codebook must beat the k=1 (subspace mean) baseline
    base_cb = pq_train(embeddings, m=4, k=1, iters=1)
    base_err = pq_encode(embeddings, base_cb, m=4).agg(F.sum("q_err")).first()[0]
    pq_err = enc.agg(F.sum("q_err")).first()[0]
    assert pq_err < base_err * 0.9, (pq_err, base_err)


def test_pq_adc_topk_self_recovery(spark, embeddings):
    """ADC sanity: querying with vectors FROM the corpus, the vector
    itself (quantization error only) must appear in its own top-5 for
    the vast majority of queries."""
    from daily_top_songs_etl_spark.extensions.pq import pq_topk, pq_train

    cb = pq_train(embeddings, m=4, k=8, iters=2)
    queries = embeddings.filter(F.col("vec_id") < 20)
    out = pq_topk(embeddings, queries, cb, m=4, k=5)
    tops = {}
    for r in out.collect():
        tops.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert len(tops) == 20
    assert all(len(v) == 5 for v in tops.values())
    hits = sum(1 for q, v in tops.items() if q in v)
    assert hits >= 16, f"self-recovery only {hits}/20"


def test_mixture_upsample_multiplicity(spark, documents):
    from daily_top_songs_etl_spark.extensions.mixture import mixture_upsample

    out = mixture_upsample(documents, {"en": 2.5, "zh": 0.5}, domain_col="lang")
    rows = out.collect()
    # copy_idx enumerates 1..n_copies per doc
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.copy_idx)
    for doc, idxs in by_doc.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1))
    # en docs appear 2 or 3 times; zh 0 or 1; others exactly once
    en = [len(v) for d, v in by_doc.items()]
    n_en = documents.filter(F.col("lang") == "en").count()
    en_copies = sum(
        1 for r in rows if r.lang == "en"
    )
    assert all(
        len(v) in (2, 3) for r in rows if r.lang == "en"
        for v in [by_doc[r.doc_id]]
    )
    # expected multiplicity 2.5 ± sampling noise
    assert 2.0 <= en_copies / n_en <= 3.0
    other = documents.filter(~F.col("lang").isin("en", "zh")).count()
    assert sum(1 for r in rows if r.lang not in ("en", "zh")) == other
    # deterministic
    again = sorted((r.doc_id, r.copy_idx) for r in mixture_upsample(
        documents, {"en": 2.5, "zh": 0.5}, domain_col="lang").collect())
    assert again == sorted((r.doc_id, r.copy_idx) for r in rows)


def test_pretrain_funnel_monotone_and_deterministic(spark, documents):
    from daily_top_songs_etl_spark.plans.pretrain import pretrain_corpus_funnel

    bench = documents.filter(F.col("doc_id") < 3).select("doc_id", "text")
    corpus = documents.filter(F.col("doc_id") >= 3)
    out = {r.stage: (r.stage_idx, r.n_rows)
           for r in pretrain_corpus_funnel(corpus, bench).collect()}
    assert list(sorted(v[0] for v in out.values())) == list(range(1, 9))
    # filtering stages only shrink the corpus
    chain = ["raw", "quality_gate", "exact_dedup", "near_dedup",
             "decontaminated", "mixture"]
    for a, b in zip(chain, chain[1:]):
        assert out[b][1] <= out[a][1], (a, b, out)
    assert out["raw"][1] == corpus.count()
    # chunking fans out; packing only groups
    assert out["chunks"][1] >= out["mixture"][1]
    assert out["packed_bins"][1] <= out["chunks"][1]
    # deterministic end-to-end
    again = {r.stage: (r.stage_idx, r.n_rows)
             for r in pretrain_corpus_funnel(corpus, bench).collect()}
    assert again == out


def test_compression_ratio_separates_boilerplate_from_entropy(spark):
    from daily_top_songs_etl_spark.extensions.text import compression_ratio

    import hashlib
    noisy = " ".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(60)
    )
    docs = spark.createDataFrame(
        [
            (0, "spam spam spam " * 100),  # template boilerplate
            (1, noisy),                      # high-entropy
            (2, None),                       # null text
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert rows[0].compress_ratio < 0.1      # repetitive → tiny ratio
    assert rows[1].compress_ratio > 0.5      # random hex barely compresses
    assert rows[2].compress_ratio is None and rows[2].n_bytes == 0
    assert rows[0].n_bytes == len("spam spam spam " * 100)


def test_dedup_segments_apply_cuts_planted_boilerplate(spark):
    from daily_top_songs_etl_spark.extensions.text import dedup_segments_apply

    boiler = " ".join(f"b{i}" for i in range(10))  # exactly one segment
    docs = spark.createDataFrame(
        [
            (0, boiler + " " + " ".join(f"x{i}" for i in range(10))),
            (1, boiler + " " + " ".join(f"y{i}" for i in range(10))),
            (2, " ".join(f"z{i}" for i in range(5))),  # short tail only
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup_segments_apply(docs).collect()}
    # doc 0 keeps both segments; doc 1 loses the boilerplate copy
    assert rows[0].n_segments == 2 and rows[0].n_kept == 2
    assert rows[1].n_segments == 2 and rows[1].n_kept == 1
    assert rows[1].clean_prefix.startswith("y0 ")
    assert boiler.split()[0] in rows[0].clean_prefix
    assert rows[2].n_segments == 1 and rows[2].n_kept == 1


def test_normalize_unicode_nfkc(spark):
    from daily_top_songs_etl_spark.extensions.text import normalize_unicode

    docs = spark.createDataFrame(
        [
            (0, "café ﬁne ６４"),  # combining accent, ligature, fullwidth
            (1, "plain ascii"),
            (2, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in normalize_unicode(docs).collect()}
    assert rows[0].norm_text == "café fine 64"
    assert rows[0].changed is True
    assert rows[1].norm_text == "plain ascii" and rows[1].changed is False
    assert rows[2].norm_text is None and rows[2].changed is False


def test_persisted_ann_index_build_query_recall(spark, embeddings, tmp_path):
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        query_ann_index,
    )
    from daily_top_songs_etl_spark.extensions.similarity import brute_force_topk

    cat = Catalog(spark, str(tmp_path / "wh"))
    build_ann_index(cat, "vecs", embeddings, n_centroids=8, iters=2)
    assert cat.exists("vecs__centroids") and cat.exists("vecs__lists")
    # every corpus vector landed in exactly one list
    assert cat.read("vecs__lists").count() == embeddings.count()

    queries = embeddings.filter(F.col("vec_id") < 8)
    got = query_ann_index(cat, "vecs", queries, k=5, n_probe=2)
    exact = brute_force_topk(embeddings, queries, k=5)
    g = {(r.query_id, r.neighbor_id) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(g & e) / len(e)
    assert recall >= 0.3, f"persisted-index recall {recall:.2f}"

    # query again WITHOUT rebuilding: identical answers off the stored index
    again = {
        (r.query_id, r.neighbor_id)
        for r in query_ann_index(cat, "vecs", queries, k=5, n_probe=2).collect()
    }
    assert again == g

    # rebuild writes a new snapshot version (queries racing a rebuild
    # read a consistent older index)
    v1 = cat.current_version("vecs__lists")
    build_ann_index(cat, "vecs", embeddings, n_centroids=8, iters=2)
    assert cat.current_version("vecs__lists") == v1 + 1

    # the lists are PARTITIONED by cluster and a single-query probe reads
    # only its n_probe partitions (static cluster IN (...) filter)
    one = embeddings.filter(F.col("vec_id") == 0)
    plan = (
        query_ann_index(cat, "vecs", one, k=5, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[cluster#\d+ IN \(([^)]*)\)", plan)
    assert m, plan[:2000]
    assert len(m.group(1).split(",")) == 2  # exactly n_probe partitions


def test_minhash_estimate_tracks_exact_jaccard(spark, documents):
    from daily_top_songs_etl_spark.extensions.dedup import (
        minhash_jaccard_estimates,
        ngram_jaccard_pairs,
    )

    est = {
        (r.doc_id_a, r.doc_id_b): r.est_jaccard
        for r in minhash_jaccard_estimates(documents).collect()
    }
    exact = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(documents, min_jaccard=0.0).collect()
    }
    common = set(est) & set(exact)
    assert common, "LSH candidates should include some true pairs"
    high = [est[p] for p in common if exact[p] >= 0.8]
    low = [est[p] for p in common if exact[p] < 0.3]
    assert high and sum(high) / len(high) >= 0.6  # near-dups score high
    if low:
        assert sum(low) / len(low) <= sum(high) / len(high) - 0.2
    # unbiasedness proxy: mean |est − exact| over candidates is bounded
    # by sketch noise at 8 components
    mae = sum(abs(est[p] - exact[p]) for p in common) / len(common)
    assert mae <= 0.25, mae


def test_suggested_n_planes_log_scales():
    from daily_top_songs_etl_spark.extensions.dedup import suggested_n_planes

    assert suggested_n_planes(80) == 1           # fits one bucket
    assert suggested_n_planes(400, 500) == 1     # explicit looser target
    assert suggested_n_planes(2_000) == 5        # sf0.1 auto regime
    assert suggested_n_planes(20_000) == 8       # 10x corpus (slope ~1.0)
    assert suggested_n_planes(20_000_000) == 18  # +3 decades -> +10 planes
    # doubling the corpus adds at most one plane (log scaling)
    for n in (10_000, 1_000_000, 100_000_000):
        assert suggested_n_planes(2 * n) - suggested_n_planes(n) <= 1


def test_dedup_index_matches_monolithic_estimates(spark, tmp_path):
    """The incremental path must lose nothing vs the monolithic one: on
    the sf0.001 documents, match_against_dedup_index(batch vs stored
    corpus) equals minhash_jaccard_estimates over the WHOLE table
    restricted to cross (batch x corpus) pairs — same candidates, same
    n_agree, same estimates."""
    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        build_dedup_index,
        match_against_dedup_index,
        minhash_jaccard_estimates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    cat = Catalog(spark, str(tmp_path / "ddeq"))
    build_dedup_index(cat, "dd", corpus)
    incremental = {
        (r.batch_doc_id, r.corpus_doc_id): (r.n_agree, r.est_jaccard)
        for r in match_against_dedup_index(cat, "dd", batch).collect()
    }

    mono = {}
    for r in minhash_jaccard_estimates(docs).collect():
        a_is_batch = r.doc_id_a % 5 == 0
        b_is_batch = r.doc_id_b % 5 == 0
        if a_is_batch == b_is_batch:
            continue  # within-batch or within-corpus pair
        key = (
            (r.doc_id_a, r.doc_id_b) if a_is_batch else (r.doc_id_b, r.doc_id_a)
        )
        mono[key] = (r.n_agree, r.est_jaccard)

    assert incremental == mono and incremental, len(incremental)


def test_dedup_index_partitioned_probe_prunes(spark, tmp_path):
    """probe_partitions layout: identical output to the flat path, the
    probe plan carries a STATIC bucket_mod partition filter (so only the
    batch's own partitions are read), and append keeps the partitioned
    layout in sync."""
    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        match_against_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    flat_cat = Catalog(spark, str(tmp_path / "flat"))
    build_dedup_index(flat_cat, "dd", corpus)
    flat = {
        (r.batch_doc_id, r.corpus_doc_id): (r.n_agree, r.est_jaccard)
        for r in match_against_dedup_index(flat_cat, "dd", batch).collect()
    }

    part_cat = Catalog(spark, str(tmp_path / "part"))
    build_dedup_index(part_cat, "dd", corpus, probe_partitions=16)
    part = {
        (r.batch_doc_id, r.corpus_doc_id): (r.n_agree, r.est_jaccard)
        for r in match_against_dedup_index(part_cat, "dd", batch).collect()
    }
    assert part == flat and part

    # a 1-doc batch reads only its own bucket-mod partitions
    tiny = docs.filter(F.col("doc_id") == 5)
    plan = (
        match_against_dedup_index(part_cat, "dd", tiny)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[bucket_mod#\d+ IN \(([^)]*)\)\]", plan)
    assert m, plan[:2000]
    assert 0 < len(m.group(1).split(",")) <= 4  # <= n_bands partitions

    # append keeps the bands layout in sync: a near-copy of an appended
    # doc must match through the PARTITIONED probe
    nd = (
        "a novel appended document with enough running text that a one "
        "word change keeps almost every trigram shingle intact overall"
    )
    append_to_dedup_index(
        part_cat, "dd",
        spark.createDataFrame([(900001, nd)], "doc_id long, text string"),
    )
    probe = spark.createDataFrame(
        [(900002, nd.replace("novel", "fresh"))], "doc_id long, text string"
    )
    hits = {
        (r.batch_doc_id, r.corpus_doc_id)
        for r in match_against_dedup_index(part_cat, "dd", probe).collect()
    }
    assert (900002, 900001) in hits


def test_star_edges_linear_and_equivalent(spark, documents):
    """Star edges give the SAME connected components (and therefore the
    same dedup_apply survivors) as the full pair graph, with linearly
    many edges on a degenerate all-duplicates corpus where pairs
    explode quadratically."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        dedup_apply,
        minhash_lsh_pairs,
        minhash_lsh_star_edges,
    )

    # degenerate corpus: 40 identical docs + 2 distinct ones
    same = "the very same boilerplate sentence repeated across the crawl"
    rows = [(i, same) for i in range(40)]
    rows += [(100, "a unique document about columnar engines and codegen"),
             (101, "another unique one concerning shuffle partitioning")]
    degen = spark.createDataFrame(rows, "doc_id long, text string")
    n_pairs = minhash_lsh_pairs(degen).count()
    n_star = minhash_lsh_star_edges(degen).count()
    assert n_pairs == 40 * 39 // 2  # quadratic: every identical pair
    assert n_star == 39             # linear: one edge per non-rep member

    # equivalence on the real corpus: identical survivor sets + flags
    base = {
        (r.doc_id, r.is_cluster_rep)
        for r in dedup_apply(
            documents.select("doc_id"), minhash_lsh_pairs(documents)
        ).collect()
    }
    star = {
        (r.doc_id, r.is_cluster_rep)
        for r in dedup_apply(
            documents.select("doc_id"), minhash_lsh_star_edges(documents)
        ).collect()
    }
    assert base == star and base


def test_compact_dedup_index_preserves_results_and_meta(spark, tmp_path):
    """After many small appends, compaction rewrites the index as one
    new snapshot: fewer files, identical match results, and the
    partitioned-probe meta (probe_partitions) survives so probes stay
    pruned."""
    import os

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        match_against_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    cat = Catalog(spark, str(tmp_path / "wh"))
    build_dedup_index(cat, "dd", corpus.limit(50), probe_partitions=16)
    rest = corpus.subtract(corpus.limit(50))
    for i in range(5):  # fragment the index with small appends
        append_to_dedup_index(cat, "dd", rest.filter(F.col("doc_id") % 5 == i))

    def nfiles(table):
        p = cat.path(table)
        return sum(
            1 for r, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")
        )

    before = {
        (r.batch_doc_id, r.corpus_doc_id): (r.n_agree, r.est_jaccard)
        for r in match_against_dedup_index(cat, "dd", batch).collect()
    }
    files_before = nfiles("dd__signatures")
    v_before = cat.current_version("dd__signatures")

    compact_dedup_index(cat, "dd")

    assert cat.current_version("dd__signatures") == v_before + 1
    assert nfiles("dd__signatures") < files_before
    assert (cat.read_meta("dd__signatures") or {}).get("probe_partitions") == 16
    after = {
        (r.batch_doc_id, r.corpus_doc_id): (r.n_agree, r.est_jaccard)
        for r in match_against_dedup_index(cat, "dd", batch).collect()
    }
    assert after == before and after
    # probe still pruned after compaction
    one = docs.filter(F.col("doc_id") == 5)
    plan = (
        match_against_dedup_index(cat, "dd", one)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [bucket_mod" in plan


def test_ivfpq_index_build_query(spark, embeddings, tmp_path):
    """IVF-PQ lifecycle: codes-only inverted lists, deterministic
    re-query, snapshot versioning, partition-pruned probes, and recall
    above the ADC floor."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from daily_top_songs_etl_spark.extensions.similarity import brute_force_topk

    cat = Catalog(spark, str(tmp_path / "wh"))
    build_ivfpq_index(
        cat, "v", embeddings, n_centroids=8, iters=2, m=4, k_codes=8
    )
    for t in ("v__centroids", "v__codebook", "v__pqlists"):
        assert cat.exists(t)
    lists = cat.read("v__pqlists")
    # every corpus vector has exactly one list entry, stored as CODES
    # (4 small ints), not float components
    assert lists.count() == embeddings.count()
    assert set(lists.columns) == {
        "vec_id", "cluster", "code_0", "code_1", "code_2", "code_3"
    }

    queries = embeddings.filter(F.col("vec_id") < 8)
    got = query_ivfpq_index(cat, "v", queries, k=5, n_probe=2)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert len(by_q) == 8 and all(len(v) == 5 for v in by_q.values())
    assert all(r.neighbor_id != r.query_id for r in rows)

    # recall vs exact cosine: coarse pruning + code quantization both
    # lose a little; the floor is below the plain ANN index's 0.3
    exact = brute_force_topk(embeddings, queries, k=5)
    g = {(r.query_id, r.neighbor_id) for r in rows}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(g & e) / len(e)
    assert recall >= 0.2, f"IVF-PQ recall {recall:.2f}"

    # deterministic off the stored index
    again = {
        (r.query_id, r.neighbor_id)
        for r in query_ivfpq_index(cat, "v", queries, k=5, n_probe=2).collect()
    }
    assert again == g

    # rebuild bumps the snapshot version of every index table
    v1 = cat.current_version("v__pqlists")
    build_ivfpq_index(
        cat, "v", embeddings, n_centroids=8, iters=2, m=4, k_codes=8
    )
    assert cat.current_version("v__pqlists") == v1 + 1

    # single-query probe reads exactly n_probe list partitions
    import re

    one = embeddings.filter(F.col("vec_id") == 0)
    plan = (
        query_ivfpq_index(cat, "v", one, k=5, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    m = re.search(r"PartitionFilters: \[cluster#\d+ IN \(([^)]*)\)", plan)
    assert m, plan[:2000]
    assert len(m.group(1).split(",")) == 2


def test_bm25_topk_matches_hand_computation(spark):
    """BM25 on a 3-doc corpus against scores computed longhand in
    Python — pins the idf guard, the length normalization, and the
    fixed-order sum."""
    import math

    from daily_top_songs_etl_spark.extensions.text import bm25_topk

    docs = [
        (0, "spark join spark spark table"),
        (1, "join stream join filter scan scan scan scan"),
        (2, "table scan filter"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    terms = ["spark", "join"]
    out = {
        r.doc_id: r
        for r in bm25_topk(df, terms, k=3, k1=1.2, b=0.75).collect()
    }

    n, avgdl = 3, (5 + 8 + 3) / 3.0
    tfs = {0: {"spark": 3, "join": 1}, 1: {"join": 2}}
    dls = {0: 5, 1: 8, 2: 3}
    dfs = {"spark": 1, "join": 2}

    def score(doc):
        s = 0.0
        for t in sorted(terms):
            tf = tfs.get(doc, {}).get(t, 0)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * (tf * 2.2) / (
                tf + 1.2 * (1.0 - 0.75 + 0.75 * dls[doc] / avgdl)
            )
        return round(s, 6)

    assert set(out) == {0, 1}  # doc 2 matches no query term
    for doc in (0, 1):
        assert abs(out[doc].score - score(doc)) < 1e-9, (doc, out[doc])
    assert out[0].n_terms_matched == 2 and out[1].n_terms_matched == 1
    # doc 0 outscores doc 1 (higher-idf term, 3 occurrences, shorter doc)
    assert out[0].rank == 1 and out[1].rank == 2


def test_bm25_topk_rank_contract(spark, documents):
    """On the corpus table: exactly k rows, ranks 1..k, scores
    non-increasing, deterministic across runs."""
    from daily_top_songs_etl_spark.extensions.text import bm25_topk

    out = bm25_topk(
        documents, ["spark", "vector", "join", "stream"], k=10
    ).collect()
    assert [r.rank for r in out] == list(range(1, 11))
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r.n_terms_matched <= 4 for r in out)
    again = bm25_topk(
        documents, ["spark", "vector", "join", "stream"], k=10
    ).collect()
    assert [(r.doc_id, r.score) for r in again] == [
        (r.doc_id, r.score) for r in out
    ]


def test_pagerank_hand_computed(spark):
    """Exact scaled-integer PageRank on graphs small enough to compute
    longhand: a symmetric 2-cycle is stationary at the initial mass; a
    star concentrates rank in the hub by the hand-derived amounts."""
    from daily_top_songs_etl_spark.extensions.graph import pagerank

    # 2-cycle: a<->b, outdeg 1 each; every iteration maps
    # 1_000_000 -> 150_000 + (85 * 1_000_000) // 100 = 1_000_000
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], ["src", "dst"]
    )
    got = {r.node: r.rank_scaled for r in pagerank(cyc, iters=3).collect()}
    assert got == {"a": 1_000_000, "b": 1_000_000}

    # star: hub c <-> leaves l1..l3. After one iteration:
    #   hub:  150_000 + (85 * (3 * 1_000_000 // 1)) // 100 = 2_700_000
    #   leaf: 150_000 + (85 * (1_000_000 // 3)) // 100   =   433_333
    star_pairs = [("c", f"l{i}") for i in (1, 2, 3)]
    star = spark.createDataFrame(
        star_pairs + [(d, s) for s, d in star_pairs], ["src", "dst"]
    )
    one = {r.node: r.rank_scaled for r in pagerank(star, iters=1).collect()}
    assert one["c"] == 2_700_000
    assert one["l1"] == one["l2"] == one["l3"] == 433_333
    # more iterations keep the hub dominant and leaves symmetric
    three = {r.node: r.rank_scaled for r in pagerank(star, iters=3).collect()}
    assert three["c"] > three["l1"] and len(set(three.values())) == 2


def test_pagerank_bipartite_contract(spark):
    """On the lineitem part-supplier graph: top-k contract (ranks 1..k,
    non-increasing), supplier hubs outrank part nodes (suppliers have
    ~part_per_supplier-fold higher degree), and determinism."""
    from daily_top_songs_etl_spark.extensions.graph import (
        bipartite_edges,
        pagerank,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    edges = bipartite_edges(li, "l_partkey", "l_suppkey")
    out = pagerank(edges, iters=3, k=50).collect()
    assert [r.rk for r in out] == list(range(1, 51))
    ranks = [r.rank_scaled for r in out]
    assert ranks == sorted(ranks, reverse=True)
    # high-degree supplier nodes dominate the head of the ranking
    assert all(r.node.startswith("s:") for r in out[:10])
    again = pagerank(edges, iters=3, k=50).collect()
    assert [(r.node, r.rank_scaled) for r in again] == [
        (r.node, r.rank_scaled) for r in out
    ]


def test_pagerank_materialized_edges_identical(spark):
    """materialize_edges=True (the at-scale Pregel cache-the-graph path)
    must produce bit-identical ranks to the recompute default."""
    from daily_top_songs_etl_spark.extensions.graph import (
        bipartite_edges,
        pagerank,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    edges = bipartite_edges(li, "l_partkey", "l_suppkey")
    a = sorted(
        (r.node, r.rank_scaled)
        for r in pagerank(edges, iters=2).collect()
    )
    b = sorted(
        (r.node, r.rank_scaled)
        for r in pagerank(edges, iters=2, materialize_edges=True).collect()
    )
    assert a == b


def test_decode_y4m_roundtrip_and_corrupt():
    """Stdlib Y4M codec: encode→decode round-trips mono and 4:2:0
    streams; corrupt/unsupported input fails loudly (closes the last
    multimodal stub — compressed codecs stay documented out of scope)."""
    from daily_top_songs_etl_spark.extensions.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    w, h = 8, 6
    mono = [bytes((i * 7 + t) % 256 for i in range(w * h)) for t in range(3)]
    data = encode_y4m(w, h, mono, fps_num=30, fps_den=1, colorspace="mono")
    assert decode_y4m(data) == (w, h, 30, 1, "mono", mono)

    yuv = [bytes(range(w * h)) + bytes(64 for _ in range(w * h // 2))]
    d420 = encode_y4m(w, h, yuv, colorspace="420")
    assert decode_y4m(d420) == (w, h, 25, 1, "420", yuv)

    with pytest.raises(ValueError, match="YUV4MPEG2"):
        decode_y4m(b"RIFF not a y4m\n")
    with pytest.raises(ValueError, match="missing W/H"):
        decode_y4m(b"YUV4MPEG2 F25:1\nFRAME\n")
    with pytest.raises(ValueError, match="truncated Y4M frame"):
        decode_y4m(data[:-5])
    with pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C411\nFRAME\n\x00\x00\x00")
    with pytest.raises(ValueError, match="no frames"):
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 Cmono\n")
    with pytest.raises(ValueError, match="expected FRAME"):
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 Cmono\nJUNK\n\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="even dimensions"):
        encode_y4m(3, 3, [b"x" * 9], colorspace="420")


def test_extract_features_real_video_decode(spark):
    """fake=False decodes ALL THREE kinds for real in one Arrow batch:
    the committed Y4M fixture's luma/motion statistics match the locally
    computed values next to a real PNG and a real WAV row."""
    import os

    from daily_top_songs_etl_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        encode_y4m,
        extract_features,
        video_features,
    )

    fdir = os.path.join(os.path.dirname(__file__), "fixtures")
    vid = open(os.path.join(fdir, "moving_gradient_16x12.y4m"), "rb").read()
    png = open(os.path.join(fdir, "gradient_16x12_rgb.png"), "rb").read()
    wav = open(os.path.join(fdir, "tone_440_8k_stereo16.wav"), "rb").read()
    expect = video_features(vid)
    media = spark.createDataFrame(
        [
            (0, "video", vid,
             {"width": 16, "height": 12, "sample_rate": None,
              "n_frames": 6, "mime": "video/x-yuv4mpeg"}),
            (1, "image", png,
             {"width": 16, "height": 12, "sample_rate": None,
              "n_frames": None, "mime": "image/png"}),
            (2, "audio", wav,
             {"width": None, "height": None, "sample_rate": 8000,
              "n_frames": None, "mime": "audio/wav"}),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in extract_features(media, fake=False).collect()}
    assert rows[0].n_bytes == len(vid)
    assert rows[0].feat == expect
    assert rows[0].feat[3] == pytest.approx(6 / 25)  # duration from header
    assert rows[0].feat[6] > 0.0  # moving clip has motion energy
    assert rows[1].feat[2] == 3.0  # PNG row decodes in the same batch
    assert rows[2].feat[1] == 2.0  # WAV row decodes in the same batch

    # a STATIC clip has exactly zero motion energy (exact integer sums)
    static = encode_y4m(4, 4, [bytes(range(16))] * 3, colorspace="mono")
    assert video_features(static)[6] == 0.0


def test_ann_index_append_lifecycle(spark, tmp_path):
    """Incremental vector ingest: build on a subset, append the rest
    WITHOUT retraining — appended rows land in the stored lists with the
    nearest-stored-centroid assignment, occupancy counts update by O(k)
    bookkeeping, the query path sees appended vectors, and a batch_id
    replay converges to one copy + one count increment."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        append_to_ann_index,
        build_ann_index,
        query_ann_index,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    n_batch = batch.count()

    cat = Catalog(spark, str(tmp_path / "ann"))
    build_ann_index(cat, "idx", base, n_centroids=4, iters=2)
    n0 = {r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()}
    cents_before = {
        r.cluster: r.centroid for r in cat.read("idx__centroids").collect()
    }

    append_to_ann_index(cat, "idx", batch, batch_id=7)

    lists = cat.read("idx__lists")
    appended = lists.filter(F.col("vec_id") % 5 == 0)
    assert appended.count() == n_batch
    # occupancy: new counts = old + per-cluster batch counts; centroids
    # themselves are unchanged (no retraining on append)
    n1 = {r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()}
    bc = {
        r.cluster: r.n
        for r in appended.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert n1 == {c: n0[c] + bc.get(c, 0) for c in n0}
    assert {
        r.cluster: r.centroid for r in cat.read("idx__centroids").collect()
    } == cents_before
    assert sum(n1.values()) == emb.count()

    # the query path sees appended vectors: an appended vector queried
    # against the index finds ITSELF excluded but ranks real neighbors;
    # query BY a base vector can return appended ids
    res = query_ann_index(cat, "idx", emb.limit(8), k=5, n_probe=4)
    assert {r.neighbor_id % 5 == 0 for r in res.collect()} & {True}

    # replay convergence (same batch_id): no duplicate rows, no double
    # counting
    append_to_ann_index(cat, "idx", batch, batch_id=7)
    assert cat.read("idx__lists").count() == sum(n1.values())
    assert {
        r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()
    } == n1


def test_ivfpq_index_append_lifecycle(spark, tmp_path):
    """Same ingest path on the PQ-coded layout: appended vectors are
    encoded with the STORED codebook (no subspace retraining) and become
    queryable through the IVF-PQ probe."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        append_to_ann_index,
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from daily_top_songs_etl_spark.extensions.pq import pq_encode

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)

    cat = Catalog(spark, str(tmp_path / "ivfpq"))
    build_ivfpq_index(cat, "idx", base, n_centroids=4, iters=2, m=4, k_codes=8)
    cb_before = sorted(map(tuple, cat.read("idx__codebook").collect()))
    append_to_ann_index(cat, "idx", batch)

    # codebook untouched; appended codes == encode-with-stored-codebook
    assert sorted(map(tuple, cat.read("idx__codebook").collect())) == cb_before
    stored = {
        r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
        for r in cat.read("idx__pqlists")
        .filter(F.col("vec_id") % 5 == 0)
        .collect()
    }
    expect = {
        r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
        for r in pq_encode(
            batch, cat.read("idx__codebook"), m=4
        ).collect()
    }
    assert stored == expect and len(stored) == batch.count()

    # appended ids are reachable through the probe
    res = query_ivfpq_index(cat, "idx", emb.limit(6), k=5, n_probe=4)
    assert any(r.neighbor_id % 5 == 0 for r in res.collect())


def test_temperature_mixture_semantics(spark):
    """α-temperature rebalancing: weights sum to 1; α=0.5 gives every
    low-share source MORE than its natural share and high-share sources
    less (flattening); α=1 (alpha_halves=2) is exactly proportional;
    allocation respects the budget; epochs = allocated/available."""
    from daily_top_songs_etl_spark.extensions.mixture import (
        temperature_mixture,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = {
        r.lang: r
        for r in temperature_mixture(
            docs, alpha_halves=1, budget_tokens=1_000_000
        ).collect()
    }
    total = sum(r.n_tokens for r in out.values())
    assert sum(r.weight for r in out.values()) == pytest.approx(1.0)
    assert sum(r.allocated_tokens for r in out.values()) <= 1_000_000
    for r in out.values():
        share = r.n_tokens / total
        if share < 1 / len(out):
            assert r.weight > share  # upsampled
        elif share > 1 / len(out):
            assert r.weight < share  # downsampled
        assert r.epochs == pytest.approx(r.allocated_tokens / r.n_tokens)

    prop = {
        r.lang: r.weight
        for r in temperature_mixture(docs, alpha_halves=2).collect()
    }
    for lang, r in out.items():
        assert prop[lang] == pytest.approx(r.n_tokens / total)

    with pytest.raises(ValueError, match="alpha_halves"):
        temperature_mixture(docs, alpha_halves=0)


def test_dedup_apply_priority_picks_best(spark):
    """Priority survivor selection: within a cluster the highest-priority
    member wins (ties -> lowest id); unclustered docs always survive;
    survivor count matches dedup_apply (same clusters, different rep)."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        dedup_apply,
        dedup_apply_priority,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5), (9, 50)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_id_a long, doc_id_b long"
    )
    out = {
        r.doc_id: r.is_cluster_rep
        for r in dedup_apply_priority(docs, pairs, "n_chars").collect()
    }
    # cluster {1,2,3}: 2 and 3 tie on n_chars=99 -> 2 wins (lower id)
    assert out == {2: True, 7: False, 9: False}
    base = dedup_apply(docs.select("doc_id"), pairs)
    assert base.count() == len(out)  # same survivor cardinality
    assert {r.doc_id for r in base.collect()} == {1, 7, 9}  # min-id rep


def test_lloyd_one_loop_shared_by_kmeans_and_pq(spark):
    """kmeans_fit and pq_train run one shared Lloyd loop
    (similarity._lloyd): pq_train with m=1 IS kmeans_fit row for row, an
    empty corpus trains to zero rows of the right schema with no special
    case, and the lazy round chain stays within the job budget it has
    always had — a per-round driver collect would add jobs."""
    import os

    from daily_top_songs_etl_spark.extensions.pq import pq_train
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    sf001 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    emb = spark.read.parquet(sf001 + "/embeddings.parquet")
    sc = spark.sparkContext

    def run(group, build):
        # the train runs while the DataFrame is BUILT (the final pin is
        # eager), so construction happens inside the job group
        spark.catalog.clearCache()
        sc.setJobGroup(group, group)
        try:
            rows = sorted(map(tuple, build().collect()))
        finally:
            sc.setJobGroup(None, None)
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    km, km_jobs = run("lloyd-kmeans", lambda: kmeans_fit(emb, k=4, iters=3))
    pq, pq_jobs = run(
        "lloyd-pq",
        lambda: pq_train(emb, m=1, k=4, iters=3)
        .drop("subspace")
        .withColumnRenamed("code", "cluster"),
    )
    assert len(km) == 4
    assert pq == km
    # the job counts these two calls have always had at sf0.01; a
    # per-round driver collect would exceed them
    assert km_jobs <= 21 and pq_jobs <= 24, (km_jobs, pq_jobs)

    empty = emb.filter(F.lit(False))
    km0 = kmeans_fit(empty, k=4, iters=3)
    pq0 = pq_train(empty, m=4, k=8, iters=2, d=64)
    assert km0.collect() == [] and pq0.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in km0.schema] == [
        ("cluster", "int"),
        ("centroid", "array<double>"),
        ("n_vectors", "bigint"),
    ]
    assert [(f.name, f.dataType.simpleString()) for f in pq0.schema] == [
        ("subspace", "int"),
        ("code", "int"),
        ("centroid", "array<double>"),
        ("n_vectors", "bigint"),
    ]


def test_vocab_growth_semantics(spark):
    """Heaps-law profile invariants: buckets partition the token volume,
    new_tokens sums to the corpus vocabulary, cum_vocab is its running
    sum, bucket 0 introduces its whole slice vocabulary, and a token
    seen in an early bucket is never counted new again."""
    from daily_top_songs_etl_spark.extensions.text import tokens, vocab_growth

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    rows = sorted(
        (r.bucket, r.n_tokens, r.new_tokens, r.cum_vocab)
        for r in vocab_growth(docs, n_buckets=10).collect()
    )
    assert [b for b, *_ in rows] == list(range(10))
    total_tokens = docs.select(F.explode(tokens()).alias("t")).count()
    vocab = docs.select(F.explode(tokens()).alias("t")).distinct().count()
    assert sum(n for _, n, _, _ in rows) == total_tokens
    assert sum(nw for _, _, nw, _ in rows) == vocab
    assert rows[-1][3] == vocab  # cumulative ends at full vocabulary
    run = 0
    for _, _, nw, cum in rows:
        run += nw
        assert cum == run
    # a controlled corpus: bucket 1 reuses bucket 0's words entirely
    ctl = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta alpha alpha")],
        "doc_id long, text string",
    )
    ctl_rows = {r.bucket: r for r in vocab_growth(ctl, n_buckets=2).collect()}
    assert ctl_rows[0].new_tokens == 2 and ctl_rows[1].new_tokens == 0
    assert ctl_rows[1].cum_vocab == 2


def test_tokenizer_fertility_semantics(spark):
    """Fertility invariants: every word yields >= 1 subword (fertility
    >= 1); a language of short words has fertility exactly 1; long words
    raise it; counts partition the corpus."""
    from daily_top_songs_etl_spark.extensions.text import (
        tokenizer_fertility,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    rows = {r.lang: r for r in tokenizer_fertility(docs).collect()}
    assert sum(r.n_docs for r in rows.values()) == docs.count()
    for r in rows.values():
        assert r.fertility >= 1.0
        assert r.chars_per_word > 0

    ctl = spark.createDataFrame(
        [(1, "aa bb cc", "xx"), (2, "abcdefgh ij", "yy")],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in tokenizer_fertility(ctl).collect()}
    assert out["xx"].fertility == 1.0          # all words <= 4 chars
    assert out["yy"].n_words == 2
    assert out["yy"].n_subwords == 3           # ceil(8/4) + ceil(2/4)
    assert out["yy"].fertility == 1.5


def test_bloom_decontaminate_superset_of_exact(spark, documents):
    """Bloom construction guarantees zero false negatives: every doc the
    exact gram-join flags is Bloom-flagged, and each doc's candidate-gram
    count bounds its exact shared-gram count from above. FP inflation at
    32 bits/gram + 4 hashes stays small."""
    from daily_top_songs_etl_spark.extensions.text import (
        bloom_decontaminate,
        decontaminate,
    )

    corpus = documents.filter(F.col("doc_id") % 13 != 0)
    bench = documents.filter(F.col("doc_id") % 13 == 0)
    exact = {
        r.doc_id: r.n_shared_ngrams
        for r in decontaminate(corpus, bench, n=7).collect()
    }
    bloom = {
        r.doc_id: r.n_candidate_grams
        for r in bloom_decontaminate(corpus, bench, n=7).collect()
    }
    assert set(bloom) == set(exact)  # full corpus audit on both paths
    for doc_id, n_exact in exact.items():
        assert bloom[doc_id] >= n_exact, f"false negative on doc {doc_id}"
    n_exact_flagged = sum(1 for v in exact.values() if v > 0)
    n_bloom_flagged = sum(1 for v in bloom.values() if v > 0)
    assert n_bloom_flagged >= n_exact_flagged
    # ~2% expected doc-level FP rate at 1/8 fill with 4 hashes
    # (per-gram p ≈ 2e-4 compounding over ~90 distinct grams/doc);
    # allow generous slack for the small corpus.
    n_clean = sum(1 for v in exact.values() if v == 0)
    n_fp = sum(
        1 for d, v in bloom.items() if v > 0 and exact[d] == 0
    )
    assert n_fp <= max(5, 0.10 * n_clean), f"FP rate too high: {n_fp}/{n_clean}"


def test_bigram_lm_score_exact_counts(spark):
    """Hand-checkable corpus: bigram corpus counts, hapax counts and the
    unrounded ratios all match pencil-and-paper."""
    from daily_top_songs_etl_spark.extensions.text import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),       # bigrams: (a b), (b a), (a b)
            (2, "a b c"),         # bigrams: (a b), (b c)
            (3, "solo"),          # no bigram -> absent from output
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_score(docs).collect()}
    assert set(out) == {1, 2}
    # corpus counts: "a b" -> 3, "b a" -> 1, "b c" -> 1
    r1 = out[1]
    assert r1.n_bigrams == 3
    assert r1.sum_bigram_freq == 3 + 1 + 3
    assert r1.n_hapax_bigrams == 1
    assert r1.mean_bigram_freq == 7 / 3
    assert r1.hapax_ratio == 1 / 3
    r2 = out[2]
    assert (r2.n_bigrams, r2.sum_bigram_freq, r2.n_hapax_bigrams) == (2, 4, 1)


def test_rerank_topk_matches_brute_force_when_candidates_cover(
    spark, embeddings
):
    """With n_candidates = corpus size the coarse stage cannot drop a true
    neighbor, so the rerank result must EQUAL brute force exactly (same
    pairs, same ranks, same cosines); with a tight candidate budget the
    result is still a high-recall subset with correct full-dim cosines."""
    from daily_top_songs_etl_spark.extensions.similarity import (
        brute_force_topk,
        rerank_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 5)
    n = embeddings.count()
    exact = brute_force_topk(embeddings, queries, k=5)
    full = rerank_topk(
        embeddings, queries, k=5, coarse_dim=16, n_candidates=n
    )
    e = {(r.query_id, r.rank, r.neighbor_id, r.cosine) for r in exact.collect()}
    f = {(r.query_id, r.rank, r.neighbor_id, r.cosine) for r in full.collect()}
    assert e == f
    tight = rerank_topk(
        embeddings, queries, k=5, coarse_dim=16, n_candidates=30
    )
    t = {(r.query_id, r.neighbor_id): r.cosine for r in tight.collect()}
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cosine for r in exact.collect()
    }
    # every returned cosine is the true full-dim cosine
    for pair, cos in t.items():
        if pair in exact_cos:
            assert cos == exact_cos[pair]
    recall = len(set(t) & set(exact_cos)) / len(exact_cos)
    # Random Gaussian vectors are the worst case for truncated-dim
    # screening (no Matryoshka variance front-loading: the 16/64 coarse
    # cosine correlates ~sqrt(1/4) with the full one), so the bar is
    # deliberately low; real embeddings concentrate variance in leading
    # dims and the full-coverage equality above pins the semantics.
    assert recall >= 0.15, f"rerank recall {recall:.2f} too low"
    wide = rerank_topk(
        embeddings, queries, k=5, coarse_dim=16, n_candidates=150
    )
    w = {(r.query_id, r.neighbor_id) for r in wide.collect()}
    recall_wide = len(w & set(exact_cos)) / len(exact_cos)
    assert recall_wide >= recall  # recall grows with candidate budget


def test_knn_classify_votes_and_tiebreak(spark):
    """Majority vote wins; exact vote ties fall to the smaller label id;
    the query's own row never votes."""
    from daily_top_songs_etl_spark.extensions.similarity import knn_classify

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.05, 0.0], 7),
            (2, [1.0, 0.02, 0.0, 0.0], 7),
            (3, [0.98, 0.0, 0.0, 0.03], 7),
            (4, [0.0, 1.0, 0.0, 0.02], 2),
            (5, [0.01, 0.97, 0.0, 0.0], 2),
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    # Query 10 sits in the label-7 cluster but carries label 2 itself.
    queries = spark.createDataFrame(
        [(10, [0.9, 0.1, 0.0, 0.0], 2)],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = knn_classify(corpus.union(queries), queries, k=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.predicted_label, r.n_votes, r.query_label, r.correct) == (
        7, 3, 2, False,
    )
    # Tie case: two equidistant neighbors with labels 9 and 3 -> 3 wins.
    tie_corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], 9), (2, [0.0, 1.0], 3)],
        "vec_id bigint, embedding array<float>, label int",
    )
    tie_q = spark.createDataFrame(
        [(10, [0.5, 0.5], 9)],
        "vec_id bigint, embedding array<float>, label int",
    )
    tr = knn_classify(tie_corpus.union(tie_q), tie_q, k=2).collect()[0]
    assert (tr.predicted_label, tr.n_votes) == (3, 1)


def test_recall_at_k_exact_fractions(spark):
    """recall@k on hand-built retrieval sets: hits, misses, and a query
    the retriever returned nothing for (recall 0, not absent)."""
    from daily_top_songs_etl_spark.extensions.similarity import recall_at_k

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id bigint, neighbor_id bigint",
    )
    retrieved = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99)],  # query 2 retrieved nothing
        "query_id bigint, neighbor_id bigint",
    )
    out = {r.query_id: r for r in recall_at_k(retrieved, truth).collect()}
    assert (out[1].n_true, out[1].n_hit, out[1].recall) == (3, 2, 2 / 3)
    assert (out[2].n_true, out[2].n_hit, out[2].recall) == (2, 0, 0.0)


def test_hard_negatives_excludes_same_label(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.similarity import (
        brute_force_topk,
        hard_negatives,
    )

    anchors = embeddings.filter(F.col("vec_id") < 8)
    out = hard_negatives(embeddings, anchors, k=5).collect()
    labels = {r.vec_id: r.label for r in embeddings.collect()}
    assert out, "expected hard negatives"
    for r in out:
        # the defining property: every mined negative crosses the label
        assert labels[r.negative_id] != labels[r.query_id]
        assert r.negative_label == labels[r.negative_id]
        assert 1 <= r.rank <= 5
    # per anchor: ranks are 1..n, cosines non-increasing
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        cos = [r.cosine for r in rows]
        assert cos == sorted(cos, reverse=True)
    # cross-check vs brute-force: the top same-vs-different-label split —
    # hard negatives are exactly the brute-force ranking restricted to
    # label-crossing rows
    exact = brute_force_topk(embeddings, anchors, k=10**6)
    want = {}
    for r in exact.collect():
        if labels[r.neighbor_id] != labels[r.query_id]:
            want.setdefault(r.query_id, []).append(
                (r.rank, r.neighbor_id)
            )
    for q, rows in by_q.items():
        expect = [n for _, n in sorted(want[q])[:5]]
        assert [r.negative_id for r in rows] == expect


def test_rrf_fuse_math_and_membership(spark):
    from daily_top_songs_etl_spark.extensions.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, rank int"
    )
    out = {r.doc_id: r for r in rrf_fuse([a, b], k_rrf=60, k=10).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 2 appears in both lists and must win
    assert out[2].rank == 1 and out[2].n_lists == 2
    assert abs(out[2].rrf_score - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert out[1].n_lists == 1
    assert abs(out[1].rrf_score - round(1 / 61, 6)) < 1e-9
    # rank ordering follows the fused score with doc_id tiebreak
    ranked = sorted(out.values(), key=lambda r: r.rank)
    keys = [(-r.rrf_score, r.doc_id) for r in ranked]
    assert keys == sorted(keys)


def test_rrf_fuse_k_limit_and_empty_input(spark):
    from daily_top_songs_etl_spark.extensions.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(i, i) for i in range(1, 8)], "doc_id long, rank int"
    )
    assert rrf_fuse([a], k=3).count() == 3
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_containment_catches_subsumed_doc(spark):
    from daily_top_songs_etl_spark.extensions.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10))  # prefix of long
    docs = spark.createDataFrame(
        [
            (1, long_text, "en"),
            (2, short_text, "en"),
            (3, "zz yy xx ww vv uu", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    pairs = ngram_containment_pairs(docs, min_containment=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.doc_id_a, p.doc_id_b) == (1, 2)
    # short doc (8 shingles) fully inside long doc (38 shingles)
    assert p.containment_b == 1.0
    assert abs(p.containment_a - round(8 / 38, 6)) < 1e-9
    # jaccard at the same cutoff misses it: 8/38 ≈ 0.21 union overlap
    jac = ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    assert jac == []


def test_triangle_count_hand_graph(spark):
    from daily_top_songs_etl_spark.extensions.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant edge
    # 4-5 and an isolated edge 6-7 (no triangles).
    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (4, 5), (6, 7),
            # duplicates / reversed / self-loop must normalize away
            (2, 1), (1, 1),
        ],
        "src long, dst long",
    )
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_matches_naive(spark, documents):
    from daily_top_songs_etl_spark.extensions.graph import triangle_count
    from itertools import combinations

    # small co-occurrence graph from sf0.001 lineitem
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    rows = li.collect()
    by_order = {}
    for r in rows:
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    adj = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            adj.add((a, b))
    naive = {}
    nodes = sorted({x for e in adj for x in e})
    neigh = {v: set() for v in nodes}
    for a, b in adj:
        neigh[a].add(b)
        neigh[b].add(a)
    # the edge loop visits each triangle once per edge = 3x per node hit
    for a, b in adj:
        for c in neigh[a] & neigh[b]:
            for x in (a, b, c):
                naive[x] = naive.get(x, 0) + 1
    a_join = spark.createDataFrame(
        [(a, b) for a, b in adj], "src long, dst long"
    )
    got = {r.node: r.n_triangles for r in triangle_count(a_join).collect()}
    assert got == {k: v // 3 for k, v in naive.items() if v // 3 > 0}


def test_cms_estimate_upper_bounds_and_merges(spark):
    from daily_top_songs_etl_spark.operators.heavyhitters import (
        cms_build,
        cms_estimate,
    )

    items = spark.createDataFrame(
        [(i % 7,) for i in range(1000)] + [(99,)] * 50, "k long"
    )
    sketch = cms_build(items, "k", width=64, depth=4)
    keys = spark.createDataFrame([(k,) for k in range(7)] + [(99,)], "k long")
    est = {r.k: r.cms_estimate for r in
           cms_estimate(sketch, keys, "k", width=64, depth=4).collect()}
    exact = {k: (143 if k < 6 else 142) for k in range(7)}
    exact[99] = 50
    for k, e in exact.items():
        assert est[k] >= e, f"CMS must never underestimate ({k})"
    # mergeability: sketch(A) + sketch(B) cell-wise == sketch(A ∪ B)
    a = items.filter(F.col("k") < 4)
    b = items.filter(F.col("k") >= 4)
    merged = (
        cms_build(a, "k", width=64, depth=4)
        .unionByName(cms_build(b, "k", width=64, depth=4))
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r.i, r.bucket): r.cnt for r in sketch.collect()}
    got = {(r.i, r.bucket): r.cnt for r in merged.collect()}
    assert got == whole


def test_priority_sample_dlt_properties(spark):
    from daily_top_songs_etl_spark.extensions.mixture import priority_sample

    df = spark.createDataFrame(
        [(i, 10 + (i * 37) % 500) for i in range(200)],
        "doc_id long, n_chars long",
    )
    out = priority_sample(df, "doc_id", "n_chars", n=20).collect()
    assert len(out) == 20
    # estimator dominates the weight; priorities dominate tau
    pr_all = {
        r.doc_id: (r.n_chars * 2147483647)
        // (((r.doc_id % 2147483647) * 1000003 + 12345) % 2147483647 + 1)
        for r in df.collect()
    }
    want = sorted(pr_all, key=lambda d: (-pr_all[d], d))[:20]
    tau = sorted(pr_all.values(), reverse=True)[20]
    got_ids = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert got_ids == want
    for r in out:
        assert r.priority == pr_all[r.doc_id]
        assert r.w_est == max(r.weight, tau)
        assert r.w_est >= r.weight


def test_mmr_diversifies_away_from_near_duplicate(spark):
    from daily_top_songs_etl_spark.extensions.similarity import mmr_topk

    # query [1,0,0,0]; candidates: two near-identical high-relevance
    # vectors (1, 2), one moderately relevant diverse vector (3), one
    # weak (4). Pure relevance would pick 1 then 2; MMR must pick 1
    # then 3 (2 is punished by its similarity to the selected 1).
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),
        (2, [0.98, 0.11, 0.0, 0.0], 0),
        (3, [0.7, 0.0, 0.7, 0.0], 0),
        (4, [0.1, 0.0, 0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = sorted(
        mmr_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=3, n_candidates=4
        ).collect(),
        key=lambda r: r.pick,
    )
    assert [r.pick for r in out] == [1, 2, 3]
    assert out[0].vec_id == 1  # highest relevance first
    assert out[1].vec_id == 3  # diverse pick beats the near-dup 2
    # scores are non-increasing is NOT guaranteed by MMR, but pick-1
    # score is the raw relevance
    assert out[0].score == max(r.score for r in out)


def test_mmr_first_pick_is_relevance_argmax(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.similarity import (
        brute_force_topk,
        mmr_topk,
    )

    q = embeddings.filter(F.col("vec_id") == 0)
    out = mmr_topk(embeddings, q, k=4, n_candidates=10).collect()
    assert len(out) == 4
    assert sorted(r.pick for r in out) == [1, 2, 3, 4]
    top1 = brute_force_topk(embeddings, q, k=1).collect()[0]
    first = next(r for r in out if r.pick == 1)
    assert first.vec_id == top1.neighbor_id
    # selections are distinct candidates of the query
    assert len({r.vec_id for r in out}) == 4


def test_cluster_drift_shares_and_totals(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.ann_index import cluster_drift

    base = embeddings.filter(F.col("vec_id") % 5 != 0)
    cur = embeddings.filter(F.col("vec_id") % 5 == 0)
    out = cluster_drift(base, cur, n_centroids=4, iters=2).collect()
    assert len(out) == 4
    assert sum(r.n_base for r in out) == base.count()
    assert sum(r.n_cur for r in out) == cur.count()
    assert abs(sum(r.share_base for r in out) - 1.0) < 1e-9
    assert abs(sum(r.share_cur for r in out) - 1.0) < 1e-9
    assert abs(sum(r.drift for r in out)) < 1e-9
    for r in out:
        assert abs(r.drift - (r.share_cur - r.share_base)) < 1e-12


def test_srp_project_matches_python(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.similarity import (
        sign_matrix,
        srp_project,
    )

    out = {(r.vec_id, r.plane): r.value
           for r in srp_project(embeddings, n_planes=8).collect()}
    signs = sign_matrix(8, 64)
    import decimal

    def q1000(x):
        # mirror round-half-up of F.round(x*1000, 0)
        return int(
            decimal.Decimal(x * 1000).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    rows = embeddings.collect()
    assert len(out) == len(rows) * 8
    for r in rows[:20]:
        qv = [q1000(float(x)) for x in r.embedding]
        for p in range(8):
            want = sum(a * s for a, s in zip(qv, signs[p]))
            assert out[(r.vec_id, p)] == want


def test_srp_neighbor_recall_bounds_and_more_planes_help(spark, embeddings):
    from daily_top_songs_etl_spark.extensions.similarity import (
        srp_neighbor_recall,
    )

    q = embeddings.filter(F.col("vec_id") < 4)
    r16 = {r.query_id: r.recall
           for r in srp_neighbor_recall(embeddings, q, k=10,
                                        n_planes=16).collect()}
    assert set(r16) == {0, 1, 2, 3}
    assert all(0.0 <= v <= 1.0 for v in r16.values())
    # projecting to MORE planes preserves neighborhoods at least as well
    # on average (JL: distortion shrinks with projection dim)
    r48 = {r.query_id: r.recall
           for r in srp_neighbor_recall(embeddings, q, k=10,
                                        n_planes=48).collect()}
    assert sum(r48.values()) >= sum(r16.values()) - 0.11


def test_refine_ann_index_warm_start(spark, tmp_path):
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        refine_ann_index,
    )
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cat = Catalog(spark, str(tmp_path))
    base = emb.filter(F.col("vec_id") % 5 != 0)
    build_ann_index(cat, "idx", base, n_centroids=4, iters=2)
    stored_before = {
        r.cluster: list(r.centroid)
        for r in cat.read("idx__centroids").collect()
    }
    refine_ann_index(cat, "idx", emb, iters=1)
    refined = cat.read("idx__centroids")
    # the refined table must equal a direct warm-start fit on the full
    # corpus from the stored centroids
    want = kmeans_fit(
        emb,
        iters=1,
        init_centroids=spark.createDataFrame(
            [(c, v) for c, v in sorted(stored_before.items())],
            "cluster int, centroid array<double>",
        ),
    )
    got = {r.cluster: list(r.centroid) for r in refined.collect()}
    exp = {r.cluster: list(r.centroid) for r in want.collect()}
    assert got == exp
    # n_vectors records the occupancy of the STORED lists (the
    # quantized-cosine assignment), not kmeans' L2 training assignment —
    # the round-7 truthful-occupancy invariant the delete face relies on
    lists = cat.read("idx__lists")
    occ = {r.cluster: r.n_vectors for r in refined.collect()}
    surv = {
        r.cluster: r.n
        for r in lists.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert occ == {c: surv.get(c, 0) for c in occ}
    # lists were rewritten over the FULL corpus
    assert lists.count() == emb.count()


def test_interval_coverage_island_merge(spark):
    from daily_top_songs_etl_spark.extensions.events import (
        interval_coverage,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1: events at 0s and 100s overlap (300s window) -> one
        # island covering 0..400s; event at 1000s -> second island
        (1, ts(0)), (1, ts(100)), (1, ts(1000)),
        # user 2: duplicate timestamps merge into one island
        (2, ts(50)), (2, ts(50)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r.user_id: r for r in
           interval_coverage(ev, "user_id", "ts", 300).collect()}
    assert got[1].n_islands == 2
    assert got[1].covered_us == (400 + 300) * 1_000_000
    assert got[1].n_events == 3
    assert got[2].n_islands == 1
    assert got[2].covered_us == 300 * 1_000_000


def test_funnel_steps_excludes_null_timestamp_events(spark):
    """A user whose step-0 events all have a NULL ts is counted at no
    stage; a NULL-ts event next to a timestamped one is skipped."""
    from daily_top_songs_etl_spark.extensions.events import funnel_steps
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (1, ts(0), "view"), (1, ts(10), "cart"),  # converts
        (2, None, "view"), (2, None, "view"), (2, ts(20), "cart"),  # never enters
        (3, None, "view"), (3, ts(5), "view"), (3, ts(30), "cart"),  # converts
        (4, ts(0), "view"), (4, None, "cart"),  # step 0 only
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = [(r.step_index, r.step, r.users)
           for r in funnel_steps(ev, ["view", "cart"]).orderBy("step_index").collect()]
    assert got == [(0, "view", 3), (1, "cart", 2)]


def test_vocab_overlap_and_correlation_sanity(spark, documents):
    from daily_top_songs_etl_spark.extensions.text import (
        length_correlation,
        vocab_overlap,
    )

    ov = vocab_overlap(documents).collect()
    assert ov, "sources share vocabulary"
    srcs = {r["source"] for r in documents.select("source").collect()}
    for r in ov:
        assert r.source_a < r.source_b
        assert 0 < r.n_common <= min(r.size_a, r.size_b)
        assert 0.0 <= r.jaccard <= 1.0
    corr = {r.source: r.pearson for r in
            length_correlation(documents).collect()}
    assert set(corr) <= srcs
    # token count and char count are strongly positively correlated
    for s, p in corr.items():
        assert 0.5 < p <= 1.0, (s, p)


def test_budget_allocation_hamilton_exact(spark):
    from daily_top_songs_etl_spark.extensions.mixture import (
        budget_allocation,
    )

    df = spark.createDataFrame(
        [("a", 10), ("a", 23), ("b", 47), ("c", 11), ("d", 9)],
        "source string, w long",
    )
    out = {r.source: r for r in
           budget_allocation(df, "source", "w", budget=10).collect()}
    # weights: a=33, b=47, c=11, d=9, W=100; quotas: 3.3, 4.7, 1.1, 0.9
    assert sum(r.alloc for r in out.values()) == 10
    assert out["a"].base == 3 and out["b"].base == 4
    # largest remainders: b (.7), a (.3) ... leftover = 2 -> b and d? no:
    # remainders scaled by W: a=30, b=70, c=10, d=90 -> d, b get +1
    assert out["d"].alloc == 1 and out["b"].alloc == 5
    assert out["a"].alloc == 3 and out["c"].alloc == 1


def test_oov_rate_bounds_and_known_tokens(spark):
    from daily_top_songs_etl_spark.extensions.text import oov_rate

    train = spark.createDataFrame(
        [(1, "alpha beta gamma alpha", "en", "s1", 22)] * 1,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    new = spark.createDataFrame(
        [(5, "alpha beta zzz qqq", "en", "s1", 18)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = oov_rate(train, new, vocab_size=10).collect()[0]
    assert r.n_tokens == 4 and r.n_oov == 2
    assert abs(r.oov_rate - 0.5) < 1e-12


def test_transition_matrix_hand_sequence(spark):
    from daily_top_songs_etl_spark.extensions.events import (
        transition_matrix,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(seconds=i), u, e)
        for i, (u, e) in enumerate(
            [(1, "a"), (1, "b"), (1, "a"), (2, "a"), (2, "a")]
        )
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, e) for i, (_, ts, u, e) in
         enumerate((r[0], r[1], r[2], r[3]) for r in rows)],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {(r.from_type, r.to_type): r for r in
           transition_matrix(ev).collect()}
    # user1: a->b, b->a; user2: a->a
    assert out[("a", "b")].n == 1 and out[("b", "a")].n == 1
    assert out[("a", "a")].n == 1
    assert abs(out[("a", "b")].share - 0.5) < 1e-12
    assert abs(out[("a", "a")].share - 0.5) < 1e-12
    assert abs(out[("b", "a")].share - 1.0) < 1e-12


def test_leakage_safe_split_keeps_clusters_together(spark):
    from daily_top_songs_etl_spark.extensions.dedup import (
        leakage_safe_split,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, base, "en"),
            (2, base + " extra", "en"),          # near-dup of 1
            (3, "completely different words here now", "en"),
            (4, base + " other tail", "en"),     # near-dup of 1
        ],
        "doc_id long, text string, lang string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 4)], "doc_id_a long, doc_id_b long"
    )
    out = {r.doc_id: r for r in
           leakage_safe_split(docs, pairs, test_pct=50).collect()}
    assert len(out) == 4
    # whole cluster {1,2,4} shares the representative and the side
    assert out[1].rep == out[2].rep == out[4].rep == 1
    assert out[1].split == out[2].split == out[4].split
    assert out[3].rep == 3


def test_adjacent_pairs_are_consecutive_chunks(spark):
    from daily_top_songs_etl_spark.extensions.text import adjacent_pairs

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text, "en")], "doc_id long, text string, lang string"
    )
    out = sorted(adjacent_pairs(docs, chunk_tokens=4).collect(),
                 key=lambda r: r.chunk_idx)
    # 10 tokens / 4 per chunk -> chunks [0..3],[4..7],[8..9] -> 2 pairs
    assert len(out) == 2
    assert out[0].anchor == "w0 w1 w2 w3" and out[0].positive == "w4 w5 w6 w7"
    assert out[1].anchor == "w4 w5 w6 w7" and out[1].positive == "w8 w9"


def test_session_paths_hand_sessions(spark):
    from daily_top_songs_etl_spark.extensions.events import session_paths
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: a>b then (gap) c
        (0, t0, 1, "a"), (1, t0 + dt.timedelta(minutes=5), 1, "b"),
        (2, t0 + dt.timedelta(hours=3), 1, "c"),
        # user 2: a>b again
        (3, t0, 2, "a"), (4, t0 + dt.timedelta(minutes=1), 2, "b"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r.path: r for r in session_paths(ev, gap_minutes=30, k=10).collect()}
    assert out["a>b"].n == 2 and out["a>b"].rank == 1
    assert out["c"].n == 1


def test_text_index_query_matches_recompute_and_prunes(spark, tmp_path):
    """The persisted-postings BM25 path must (a) rank identically to the
    fresh-tokenization bm25_topk on the same corpus (shared scoring
    tail — stored-path ≡ recompute is the lifecycle invariant), and
    (b) prune the postings scan to the query terms' hash partitions
    (the same static-IN PartitionFilters contract as the dedup band
    probe and the ANN cluster lists)."""
    import re

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.text import (
        bm25_topk,
        build_text_index,
        query_text_index,
    )

    docs = spark.createDataFrame(
        [
            (i, f"spark joins the stream number {i} " + "filler word " * (i % 5))
            for i in range(40)
        ]
        + [(100, "vector search beats grep"), (101, "spark spark spark")],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    build_text_index(cat, "tx", docs, probe_partitions=16)
    terms = ["spark", "vector", "stream"]
    fresh = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    stored_df = query_text_index(cat, "tx", terms, k=10)
    stored = [tuple(r) for r in stored_df.collect()]
    assert stored == fresh and len(stored) == 10

    plan = stored_df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[term_mod#\d+ IN \(([^)]*)\)", plan)
    assert m, plan[:2000]
    assert 0 < len(m.group(1).split(",")) <= len(terms)


def test_text_index_append_exactly_once_matches_oneshot(spark, tmp_path):
    """Incremental lexical ingest ≡ one-shot build, down to BM25 scores:
    build on a subset, append the rest in two batches, REPLAY one batch
    (postings must converge via append_once, stats via the marker), and
    the stored-index query must equal bm25_topk over the whole corpus.
    A doubled stats row or doubled postings shifts idf/avgdl and breaks
    the equality."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.text import (
        append_to_text_index,
        bm25_topk,
        build_text_index,
        query_text_index,
    )

    docs = spark.createDataFrame(
        [
            (i, f"spark streams vector number {i} " + "pad token " * (i % 4))
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    build_text_index(cat, "tx", docs.filter(F.col("doc_id") < 20))
    b1 = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 25))
    b2 = docs.filter(F.col("doc_id") >= 25)
    append_to_text_index(cat, "tx", b1, batch_id="b1")
    append_to_text_index(cat, "tx", b2, batch_id="b2")
    append_to_text_index(cat, "tx", b2, batch_id="b2")  # replay
    stats = cat.read("tx__stats").first()
    assert stats["n_docs"] == 30  # not 35 — replay folded once
    terms = ["spark", "vector"]
    stored = [tuple(r) for r in query_text_index(cat, "tx", terms, k=10).collect()]
    fresh = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    assert stored == fresh and len(stored) == 10


def test_decode_jpeg_roundtrip_rgb_and_gray():
    """Stdlib baseline JPEG codec (round-7 stretch — retires the
    'compressed codecs out of scope' caveat for still images): 4:4:4
    encode→decode round-trips within quantization loss; unsupported
    modes and corrupt input fail loudly."""
    import pytest as _pytest

    from daily_top_songs_etl_spark.extensions.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    W, H = 24, 16
    px = bytearray()
    for y in range(H):
        for x in range(W):
            px += bytes([min(255, x * 10), min(255, y * 15), (x * 7 + y * 3) % 256])
    jp = encode_jpeg(W, H, 3, bytes(px))
    w, h, c, out = decode_jpeg(jp)
    assert (w, h, c) == (W, H, 3)
    mean_err = sum(abs(out[i] - px[i]) for i in range(len(px))) / len(px)
    assert mean_err < 6.0  # Annex-K-table quantization loss, not garbage
    assert max(abs(out[i] - px[i]) for i in range(len(px))) < 40

    g = bytes([(x * 11 + y * 5) % 256 for y in range(H) for x in range(W)])
    w, h, c, outg = decode_jpeg(encode_jpeg(W, H, 1, g))
    assert (w, h, c) == (W, H, 1)
    assert sum(abs(outg[i] - g[i]) for i in range(len(g))) / len(g) < 12.0

    with _pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    with _pytest.raises(ValueError):
        decode_jpeg(jp[: len(jp) // 2])  # truncated entropy stream
    # progressive (SOF2) must be refused, not mis-decoded
    sof0 = jp.index(b"\xff\xc0")
    prog = jp[:sof0] + b"\xff\xc2" + jp[sof0 + 2 :]
    with _pytest.raises(ValueError):
        decode_jpeg(prog)


def test_decode_jpeg_real_world_420_fixture():
    """The decoder handles a REAL third-party baseline JPEG — the
    CPython test-suite image (Lib/test/imghdrdata/python.jpg, PSF-2.0),
    which is 16x16 YCbCr with 2x2/1x1/1x1 sampling — so the 4:2:0
    upsampling path is validated against an independent encoder, not
    just this module's own 4:4:4 output."""
    import os

    from daily_top_songs_etl_spark.extensions.multimodal import (
        decode_jpeg,
        image_features,
    )

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "cpython_python_420.jpg"
    )
    payload = open(fixture, "rb").read()
    w, h, c, px = decode_jpeg(payload)
    assert (w, h, c) == (16, 16, 3)
    assert len(px) == 16 * 16 * 3
    feats = image_features(payload)
    assert feats[2] == 3.0
    assert all(0.0 <= v <= 1.0 for v in feats[3:])
    # the image is mostly light background: sanity on the decoded means
    assert 0.2 < feats[7] < 0.95


def test_avi_mjpeg_roundtrip_and_features():
    """AVI/MJPEG: encode N RGB frames as JPEG-in-RIFF, decode through
    the shared baseline-JPEG kernel, and check geometry/fps/frame
    fidelity plus the video_features dispatch (motion > 0 for a moving
    gradient, 0 duration error, same 8-dim shape as Y4M)."""
    import math

    import pytest

    from daily_top_songs_etl_spark.extensions.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        video_features,
    )

    W, H, N = 24, 16, 3
    frames = []
    for t in range(N):
        px = bytearray()
        for y in range(H):
            for x in range(W):
                px += bytes((
                    (x * 10 + t * 40) % 256, (y * 12) % 256, 128,
                ))
        frames.append(bytes(px))
    avi = encode_avi_mjpeg(W, H, 30, 1, frames)
    w, h, num, den, dec = decode_avi_mjpeg(avi)
    assert (w, h, num, den, len(dec)) == (W, H, 30, 1, N)
    assert all(c == 3 and len(px) == W * H * 3 for c, px in dec)
    # JPEG is lossy but close: per-pixel error bounded
    err = max(
        abs(a - b) for (_, px), org in zip(dec, frames)
        for a, b in zip(px, org)
    )
    assert err < 40

    feats = video_features(avi)
    assert len(feats) == 8
    assert feats[2] == math.log1p(N)
    assert feats[3] == N / 30          # duration from strh dwRate/dwScale
    assert feats[6] > 0.0              # the gradient moves between frames

    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_avi_mjpeg(avi[: len(avi) // 2])  # truncated chunk tree


def test_extract_features_video_dispatches_y4m_and_mjpeg(spark):
    """fake=False video branch dispatches on container signature: one
    batch carrying a Y4M clip and an MJPEG clip yields each container's
    real features."""
    from daily_top_songs_etl_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        encode_avi_mjpeg,
        encode_y4m,
        extract_features,
        video_features,
    )

    W, H = 8, 8
    y4m = encode_y4m(W, H, [bytes([40] * (W * H * 3 // 2))] * 2,
                     colorspace="420")
    gray = [bytes([60] * (W * H)), bytes([200] * (W * H))]
    avi = encode_avi_mjpeg(W, H, 10, 1, gray, channels=1)
    meta = {"width": None, "height": None, "sample_rate": None,
            "n_frames": None, "mime": "video/*"}
    media = spark.createDataFrame(
        [(0, "video", y4m, meta), (1, "video", avi, meta)], MEDIA_SCHEMA
    )
    rows = {r.media_id: r for r in extract_features(media, fake=False).collect()}
    assert rows[0].feat == video_features(y4m)
    assert rows[1].feat == video_features(avi)
    assert rows[1].feat[6] > 0.3  # big luma jump between the two frames


def test_decode_jpeg_tolerates_fill_bytes_before_markers():
    """T.81 B.1.1.2: markers may be preceded by any number of 0xFF fill
    bytes — a filled stream must decode byte-identically to the
    unfilled one (round-7 ADVICE low: the fill byte must not be read
    as the marker code)."""
    import os

    from daily_top_songs_etl_spark.extensions.multimodal import decode_jpeg

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "cpython_python_420.jpg"
    )
    payload = open(fixture, "rb").read()
    # inject fill bytes before the first marker after SOI and before EOI
    filled = payload[:2] + b"\xff\xff\xff" + payload[2:-2] + b"\xff" + payload[-2:]
    assert decode_jpeg(filled) == decode_jpeg(payload)


def test_extract_features_dispatches_png_and_jpeg(spark):
    """fake=False image branch dispatches on container signature: one
    Arrow batch carrying a PNG and a JPEG yields each format's real
    pixel features."""
    import os

    from daily_top_songs_etl_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        image_features,
    )

    fdir = os.path.join(os.path.dirname(__file__), "fixtures")
    png = open(os.path.join(fdir, "gradient_16x12_rgb.png"), "rb").read()
    jpg = open(os.path.join(fdir, "gradient_24x16_rgb.jpg"), "rb").read()
    meta = {"width": None, "height": None, "sample_rate": None,
            "n_frames": None, "mime": "image/*"}
    media = spark.createDataFrame(
        [(0, "image", png, meta), (1, "image", jpg, meta)], MEDIA_SCHEMA
    )
    rows = {r.media_id: r for r in extract_features(media, fake=False).collect()}
    assert rows[0].feat == image_features(png)
    assert rows[1].feat == image_features(jpg)
    assert rows[1].feat[0] != rows[0].feat[0]  # different geometries


def test_boilerplate_strip_changes_pair_semantics(spark):
    """The C4-style strip pre-pass: docs related ONLY through shared
    boilerplate stop pairing once the corpus-dominant shingles are
    stripped, while genuine content near-dups survive with a HIGHER
    jaccard (the union no longer carries boilerplate)."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        dominant_shingles,
        ngram_jaccard_pairs,
        strip_boilerplate_stats,
    )

    boiler = "terms of service apply to all"  # 6 tokens -> 4 shingles
    rows = [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(6)
    ]
    rows.append((10, f"{boiler} real content shared tokens here xtra1"))
    rows.append((11, f"{boiler} real content shared tokens here xtra2"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    hot = sorted(r[0] for r in dominant_shingles(docs, max_df_ratio=0.5).collect())
    assert hot == [
        "apply to all", "of service apply", "service apply to",
        "terms of service",
    ]
    # unstripped: every pair of the 8 docs shares the 4 boilerplate
    # shingles and clears jaccard 0.2 -> all C(8,2)=28 pairs
    assert ngram_jaccard_pairs(docs, 0.2).count() == 28
    # stripped: only the genuine content pair survives, and its jaccard
    # rose (boilerplate no longer inflates the union)
    got = ngram_jaccard_pairs(docs, 0.2, max_df_ratio=0.5).collect()
    assert [(r.doc_id_a, r.doc_id_b) for r in got] == [(10, 11)]
    assert got[0].jaccard > 0.7
    # per-doc accounting: every doc lost exactly the 4 boiler shingles
    stats = strip_boilerplate_stats(docs, max_df_ratio=0.5).collect()
    assert all(r.n_stripped == 4 for r in stats)
    assert all(r.n_kept == r.n_shingles - 4 for r in stats)


def test_remove_dominant_direction_breaks_template_clique(spark):
    """Vector-space boilerplate strip: a corpus where most vectors
    collapse onto one direction pairs everything with everything at
    cosine ~1; after projecting out the dominant (mean) direction the
    template clique dissolves while a genuine near-dup pair — similar
    in a direction ORTHOGONAL to the template — survives."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        embedding_cosine_pairs,
        remove_dominant_direction,
    )

    dim = 64
    n_t = 18
    rows = []
    # the hot shape in miniature: most vectors are the template
    # (0.1 everywhere) plus a small UNIQUE per-vector fingerprint —
    # pairwise cosine ~1 purely through the shared template
    for i in range(n_t):
        v = [0.1] * dim
        v[2 + i] += 0.05
        rows.append((i, v))
    # a genuine near-dup pair in an orthogonal subspace (ids 100, 101)
    for j, eps in ((100, 0.01), (101, -0.01)):
        v = [0.0] * dim
        v[40] = 0.5
        v[41] = eps
        rows.append((j, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    plain = embedding_cosine_pairs(emb, min_cosine=0.9, n_planes=4)
    template_pairs = plain.filter(F.col("id_b") < n_t).count()
    assert template_pairs == n_t * (n_t - 1) // 2  # the full clique

    stripped = embedding_cosine_pairs(
        emb, min_cosine=0.9, n_planes=4, remove_dominant=True
    )
    got = {(r.id_a, r.id_b) for r in stripped.collect()}
    assert (100, 101) in got          # genuine pair survives the strip
    assert not any(b < n_t for _, b in got)  # template clique dissolved

    # residuals stay integer-exact drop-ins for the quantized pipeline
    res = remove_dominant_direction(emb)
    assert dict(res.dtypes)["qvec"] == "array<bigint>"
    assert res.count() == n_t + 2


def test_histogram_drift_exact_shares_and_alignment(spark):
    """The drift monitor bins on FIXED edges, aligns bins present in
    either snapshot, excludes NULLs from both counts and totals, and
    emits shares as exact single divisions."""
    from daily_top_songs_etl_spark.operators.diff import histogram_drift

    old = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 25), (4, None)], "id long, x int"
    )
    new = spark.createDataFrame(
        [(1, 25), (2, 99), (3, 99), (4, 99)], "id long, x int"
    )
    rows = {r.bin: r for r in histogram_drift(
        old, new, "x", [20.0, 50.0]
    ).collect()}
    assert set(rows) == {0, 1, 2}
    assert (rows[0].n_old, rows[0].n_new) == (2, 0)   # x < 20
    assert (rows[1].n_old, rows[1].n_new) == (1, 1)   # 20 <= x < 50
    assert (rows[2].n_old, rows[2].n_new) == (0, 3)   # x >= 50
    assert rows[0].share_old == 2 / 3                 # NULL excluded
    assert rows[2].share_new == 3 / 4
    assert rows[2].share_delta == 3 / 4 - 0.0


def test_fuzzy_decontaminate_catches_paraphrase_not_exact_only(spark):
    """Near-dup decontamination: a training doc that PARAPHRASES an
    eval item (shares most but not all shingles) is flagged, clean
    docs are not, and the strip knob prevents boilerplate shared with
    the benchmark from producing false flags."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        fuzzy_decontaminate,
    )

    eval_q = ("what is the capital of france the answer is paris the "
              "city of light on the seine river in europe")
    train = spark.createDataFrame(
        [
            # reworded eval item: one token changed -> near-dup, not exact
            (0, eval_q.replace("answer is", "answer was")),
            (2, "completely unrelated text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, eval_q)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in fuzzy_decontaminate(
        train, bench, min_jaccard=0.3
    ).collect()}
    assert set(got) == {0}
    assert got[0].n_eval_matches == 1
    assert 0.3 <= got[0].max_jaccard < 1.0  # near-dup, not identical

    # boilerplate shared with the benchmark must not flag by itself:
    # every doc (train AND eval) carries the same prefix; with the
    # strip on, only genuine content overlap survives
    boiler = "generated by the export tool all rights reserved"
    train2 = spark.createDataFrame(
        [(0, f"{boiler} the quick brown fox jumps over dogs"),
         (2, f"{boiler} an entirely different subject matter here")],
        "doc_id long, text string",
    )
    bench2 = spark.createDataFrame(
        [(100, f"{boiler} the quick brown fox leaps over dogs")],
        "doc_id long, text string",
    )
    flagged = fuzzy_decontaminate(
        train2, bench2, min_jaccard=0.3, max_df_ratio=0.5
    ).collect()
    assert [r.doc_id for r in flagged] == [0]  # doc 2 shares ONLY boiler


def test_dominant_tokens_strip_dedups_simhash(spark):
    """Token-domain strip for simhash: docs differing only in dominant
    tokens collapse to identical fingerprints after the strip; the
    top-k tie-break on the token string is deterministic."""
    from daily_top_songs_etl_spark.extensions.dedup import (
        dominant_tokens,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(0, "aa x y z"), (1, "bb x y z"), (2, "aa p q r"), (3, "bb p q r")],
        "doc_id long, text string",
    )
    # every token has df=2; the tie-break picks the lexicographic first
    assert sorted(
        r[0] for r in dominant_tokens(docs, top_k=2).collect()
    ) == ["aa", "bb"]
    got = sorted(
        (r.doc_id_a, r.doc_id_b)
        for r in simhash_pairs(docs, max_hamming=0, top_k=2).collect()
    )
    assert got == [(0, 1), (2, 3)]


def test_ann_index_delete_lifecycle(spark, tmp_path):
    """Vector deletion (FAISS remove_ids shape): deleted ids leave the
    stored lists, untouched cluster partitions are hardlinked (not
    rewritten), occupancy decrements to exactly the survivor counts,
    a replayed delete batch is refused, and the query path no longer
    returns deleted vectors."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        delete_from_ann_index,
        query_ann_index,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    cat = Catalog(spark, str(tmp_path / "ann"))
    build_ann_index(cat, "idx", emb, n_centroids=4, iters=2)
    n_total = emb.count()
    doomed = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    n_doomed = doomed.count()

    delete_from_ann_index(cat, "idx", doomed, batch_id="del0")
    lists = cat.read("idx__lists")
    assert lists.count() == n_total - n_doomed
    assert lists.filter(F.col("vec_id") % 7 == 3).count() == 0
    occ = {r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()}
    surv = {
        r.cluster: r.n
        for r in lists.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert occ == {c: surv.get(c, 0) for c in occ}

    # replay refused: same snapshot version, same occupancy
    v_before = cat.current_version("idx__lists")
    delete_from_ann_index(cat, "idx", doomed, batch_id="del0")
    assert cat.current_version("idx__lists") == v_before
    assert {
        r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()
    } == occ

    # queries never see deleted vectors
    res = query_ann_index(cat, "idx", emb.limit(8), k=5, n_probe=4)
    assert res.filter(F.col("neighbor_id") % 7 == 3).count() == 0

    # deleting already-absent ids (unguarded) is a clean no-op on counts
    delete_from_ann_index(cat, "idx", doomed)
    assert {
        r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()
    } == occ


def test_ann_index_delete_crash_replay_converges(spark, tmp_path):
    """Crash-window convergence (round-7 ADVICE medium): a crash AFTER
    the lists pointer flip but BEFORE the centroid write leaves
    occupancy stale; the replayed delete finds the ids already absent,
    so a subtractive update would decrement by zero — the recount-based
    update must instead converge n_vectors to the stored survivor
    counts."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        delete_from_ann_index,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    cat = Catalog(spark, str(tmp_path / "ann"))
    build_ann_index(cat, "idx", emb, n_centroids=4, iters=2)
    doomed = emb.filter(F.col("vec_id") % 5 == 1).select("vec_id")

    # simulate the crash: perform ONLY the lists rewrite (the pointer
    # flip), leaving the centroid table's n_vectors stale/overstated
    lists = cat.read("idx__lists")
    touched = sorted(
        r.cluster
        for r in lists.join(doomed, "vec_id", "left_semi")
        .select("cluster").distinct().collect()
    )
    survivors = lists.filter(F.col("cluster").isin(touched)).join(
        doomed, "vec_id", "left_anti"
    )
    cat.overwrite_partitions(
        survivors, "idx__lists", touched, partition_by=["cluster"]
    )
    stale = {
        r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()
    }
    assert sum(stale.values()) == emb.count()  # overstated pre-replay

    # the replay (ledger never saw del0) must converge, not subtract zero
    delete_from_ann_index(cat, "idx", doomed, batch_id="del0")
    occ = {
        r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()
    }
    surv = {
        r.cluster: r.n
        for r in cat.read("idx__lists")
        .groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert occ == {c: surv.get(c, 0) for c in occ}
    assert sum(occ.values()) == emb.count() - doomed.count()


def test_ann_index_delete_pq_layout(spark, tmp_path):
    """The same deletion path on the PQ-coded layout: codes leave the
    pqlists, codebook untouched."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ivfpq_index,
        delete_from_ann_index,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    cat = Catalog(spark, str(tmp_path / "ivfpq"))
    build_ivfpq_index(cat, "idx", emb, n_centroids=4, iters=2, m=4, k_codes=8)
    cb = sorted(map(tuple, cat.read("idx__codebook").collect()))
    doomed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    delete_from_ann_index(cat, "idx", doomed, batch_id="del0")
    pql = cat.read("idx__pqlists")
    assert pql.filter(F.col("vec_id") % 3 == 0).count() == 0
    assert pql.count() == emb.filter(F.col("vec_id") % 3 != 0).count()
    assert sorted(map(tuple, cat.read("idx__codebook").collect())) == cb
    occ = {r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()}
    surv = {
        r.cluster: r.n
        for r in pql.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert occ == {c: surv.get(c, 0) for c in occ}


def test_compact_text_index_preserves_content_and_layout(spark, tmp_path):
    """Compaction shrinks the per-partition file count without changing
    query results, the partitioned layout, or the stats/meta."""
    import os

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.text import (
        append_to_text_index,
        build_text_index,
        compact_text_index,
        query_text_index,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    cat = Catalog(spark, str(tmp_path / "tx"))
    build_text_index(
        cat, "tx", docs.filter(F.col("doc_id") % 5 != 0), probe_partitions=8
    )
    held = docs.filter(F.col("doc_id") % 5 == 0)
    for i in range(3):
        append_to_text_index(
            cat, "tx", held.filter(F.col("doc_id") % 3 == i), batch_id=i
        )
    before_rows = sorted(
        map(tuple, query_text_index(cat, "tx", ["the", "data"], k=10).collect())
    )
    n_before = sum(
        f.endswith(".parquet")
        for r, _, fs in os.walk(cat.path("tx__postings"))
        for f in fs
    )
    compact_text_index(cat, "tx")
    n_after = sum(
        f.endswith(".parquet")
        for r, _, fs in os.walk(cat.path("tx__postings"))
        for f in fs
    )
    assert n_after < n_before
    assert (cat.read_meta("tx__postings") or {}).get("probe_partitions") == 8
    # partitioned-directory layout survives (pruned probes still work)
    assert any(
        e.startswith("term_mod=")
        for e in os.listdir(cat.path("tx__postings"))
    )
    after_rows = sorted(
        map(tuple, query_text_index(cat, "tx", ["the", "data"], k=10).collect())
    )
    assert after_rows == before_rows


def test_source_quota_exact_cap_and_hash_order(spark):
    """Reference-model check of the two-level top-k merge: the kept set
    per source must equal the naive top-cap by (md5 4-nibble bucket, id),
    including a hot group far larger than cap and a group under cap."""
    import hashlib

    from daily_top_songs_etl_spark.extensions.mixture import source_quota

    rows = [(i, "hot") for i in range(300)] + [
        (1000 + i, "cold") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_quota(df, cap=5, fanout=4).collect()

    def bucket(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return int(h[:4], 16)

    want_hot = sorted(range(300), key=lambda i: (bucket(i), i))[:5]
    want_cold = sorted([1000, 1001, 1002], key=lambda i: (bucket(i), i))
    by_src = {}
    for r in sorted(out, key=lambda r: (r.source, r.quota_rank)):
        by_src.setdefault(r.source, []).append(r)
    assert [r.doc_id for r in by_src["hot"]] == want_hot
    assert [r.doc_id for r in by_src["cold"]] == want_cold
    for rs in by_src.values():
        assert [r.quota_rank for r in rs] == list(range(1, len(rs) + 1))
        for r in rs:
            assert r.hash_bucket == bucket(r.doc_id)


def test_importance_resample_reference_model(spark):
    """Exact-mass check against a pure-Python unigram model: target and
    raw masses are integer sums of corpus occurrence counts; selection is
    top-n by the single-division ratio with id tie-break."""
    from collections import Counter

    from daily_top_songs_etl_spark.extensions.text import (
        importance_resample,
    )

    rows = [
        (1, "alpha beta gamma", "en"),
        (2, "alpha alpha delta", "en"),
        (3, "beta beta beta", "fr"),
        (4, "gamma delta epsilon", "fr"),
        (5, "alpha beta", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in importance_resample(df, "en", n=3).collect()}

    raw, tgt = Counter(), Counter()
    docs = {}
    for doc_id, text, lang in rows:
        toks = text.lower().strip().split()
        docs[doc_id] = toks
        raw.update(toks)
        if lang == "en":
            tgt.update(toks)
    scored = {
        d: (
            sum(tgt[t] for t in toks),
            sum(raw[t] for t in toks),
            len(toks),
        )
        for d, toks in docs.items()
    }
    want = sorted(
        scored, key=lambda d: (-scored[d][0] / scored[d][1], d)
    )[:3]
    assert sorted(out) == sorted(want)
    for rank, d in enumerate(want, start=1):
        r = out[d]
        t_mass, r_mass, n_tok = scored[d]
        assert (r.target_mass, r.raw_mass, r.n_tokens) == (
            t_mass,
            r_mass,
            n_tok,
        )
        assert r.sel_rank == rank
        assert r.importance == round(t_mass / r_mass, 6)


def test_dedup_apply_soft_keep_k_policy(spark):
    """Planted clusters: a 4-member cluster keeps its top-2 by
    (priority DESC, id), a pair keeps both, singletons pass with
    keep_rank 0 — the bounded keep-fraction between hard dedup and
    none."""
    from daily_top_songs_etl_spark.extensions.dedup import dedup_apply_soft

    docs = spark.createDataFrame(
        [
            (1, 100), (2, 300), (3, 200), (4, 300),  # cluster {1,2,3,4}
            (5, 50), (6, 60),                        # cluster {5,6}
            (7, 10),                                 # singleton
        ],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "doc_id_a long, doc_id_b long"
    )
    out = {
        r.doc_id: r.keep_rank
        for r in dedup_apply_soft(
            docs, pairs, priority_col="n_chars", keep_k=2
        ).collect()
    }
    # top-2 of {1,2,3,4} by (n_chars desc, id): 2 (300), 4 (300) -> ranks
    # 1, 2; docs 1 and 3 dropped entirely.
    assert out == {2: 1, 4: 2, 5: 2, 6: 1, 7: 0}


def test_merge_ann_index_sharded_equals_oneshot(spark, embeddings, tmp_path):
    """Shard-merge invariance (the FAISS ``merge_from`` flow): two
    parity-shard indexes built under ONE shared quantizer and merged
    are identical — lists AND occupancy — to a one-shot build of the
    full corpus under the same quantizer; a replayed merge is refused
    by the applied-batch ledger."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        merge_ann_index,
    )
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    cat = Catalog(spark, str(tmp_path / "mrg"))
    quant = kmeans_fit(embeddings, k=4, iters=2).localCheckpoint(eager=True)
    even = embeddings.filter(F.col("vec_id") % 2 == 0)
    odd = embeddings.filter(F.col("vec_id") % 2 == 1)
    build_ann_index(cat, "a", even, centroids=quant)
    build_ann_index(cat, "b", odd, centroids=quant)
    build_ann_index(cat, "full", embeddings, centroids=quant)

    merge_ann_index(cat, "a", "b")
    merged = {
        (r.vec_id, r.cluster)
        for r in cat.read("a__lists").select("vec_id", "cluster").collect()
    }
    oneshot = {
        (r.vec_id, r.cluster)
        for r in cat.read("full__lists")
        .select("vec_id", "cluster")
        .collect()
    }
    assert merged == oneshot
    occ = {
        r.cluster: r.n_vectors for r in cat.read("a__centroids").collect()
    }
    assert occ == {
        r.cluster: r.n_vectors
        for r in cat.read("full__centroids").collect()
    }

    # replay: refused outright — same lists snapshot, same occupancy
    v = cat.current_version("a__lists")
    merge_ann_index(cat, "a", "b")
    assert cat.current_version("a__lists") == v
    assert occ == {
        r.cluster: r.n_vectors for r in cat.read("a__centroids").collect()
    }


def test_merge_ann_index_geometry_guard(spark, embeddings, tmp_path):
    """Merging an index built under a DIFFERENT quantizer must raise —
    lists assigned under different centroid geometries are not
    comparable, and a silent union would corrupt the merged index."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        merge_ann_index,
    )

    cat = Catalog(spark, str(tmp_path / "geo"))
    build_ann_index(
        cat, "a", embeddings.filter(F.col("vec_id") % 2 == 0),
        n_centroids=4, iters=2,
    )
    build_ann_index(
        cat, "b", embeddings.filter(F.col("vec_id") % 2 == 1),
        n_centroids=4, iters=1,
    )
    with pytest.raises(ValueError, match="quantizer"):
        merge_ann_index(cat, "a", "b")


def test_merge_ann_index_crash_replay_converges(spark, embeddings, tmp_path):
    """Crash window: the lists ``append_once`` committed but the
    centroid/ledger pointer flip did not. The replayed merge must
    converge — one copy of src's rows (append_once refuses the
    duplicate batch) and ONE occupancy increment (the increment reads
    src's immutable STORED occupancy, never delete-time state)."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        merge_ann_index,
    )
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    cat = Catalog(spark, str(tmp_path / "crash"))
    quant = kmeans_fit(embeddings, k=4, iters=2).localCheckpoint(eager=True)
    build_ann_index(
        cat, "a", embeddings.filter(F.col("vec_id") % 2 == 0),
        centroids=quant,
    )
    build_ann_index(
        cat, "b", embeddings.filter(F.col("vec_id") % 2 == 1),
        centroids=quant,
    )
    # simulate the crash: ONLY the idempotent lists append happened
    cat.append_once(
        cat.read("b__lists"), "a__lists", "merge-b",
        partition_by=["cluster"],
    )
    # replay the full merge — must converge, not double anything
    merge_ann_index(cat, "a", "b")
    lists = cat.read("a__lists")
    assert lists.count() == embeddings.count()
    assert lists.select("vec_id").distinct().count() == embeddings.count()
    occ = {
        r.cluster: r.n_vectors for r in cat.read("a__centroids").collect()
    }
    surv = {
        r.cluster: r.n
        for r in lists.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert occ == {c: surv.get(c, 0) for c in occ}


def test_cluster_quota_matches_python_reference(spark, embeddings):
    """cluster_quota vs a direct Python model: quantize (round-half-up
    ×1000), assign to the 4-lowest-id proto-centroids by exact integer
    squared distance (ties to the lower cluster id), rank each cluster
    peripheral-first (d2 DESC, id ASC), keep the top cap."""
    import decimal

    from daily_top_songs_etl_spark.extensions.similarity import (
        cluster_quota,
    )

    def q1000(x):
        return int(
            decimal.Decimal(x * 1000).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    rows = sorted(
        ((r.vec_id, [q1000(float(v)) for v in r.embedding])
         for r in embeddings.collect()),
    )
    cents = [qv for _, qv in rows[:4]]
    assigned = []
    for vid, qv in rows:
        d2s = [
            sum((a - b) * (a - b) for a, b in zip(qv, cv)) for cv in cents
        ]
        best = min(range(4), key=lambda c: (d2s[c], c))
        assigned.append((vid, best, d2s[best]))
    want = set()
    for c in range(4):
        members = sorted(
            ((d2, vid) for vid, cl, d2 in assigned if cl == c),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (d2, vid) in enumerate(members[:25], start=1):
            want.add((vid, c, d2, rank))

    got = {
        (r.vec_id, r.cluster, r.dist2, r.keep_rank)
        for r in cluster_quota(embeddings, k=4, cap=25).collect()
    }
    assert got == want


def test_cluster_quota_fanout_invariant(spark, embeddings):
    """The two-level top-k merge is EXACT: any fanout produces the same
    kept set and ranks as the single-window formulation (fanout=1)."""
    from daily_top_songs_etl_spark.extensions.similarity import (
        cluster_quota,
    )

    base = {
        tuple(r)
        for r in cluster_quota(
            embeddings, k=4, cap=10, fanout=1
        ).collect()
    }
    for fanout in (3, 32):
        assert {
            tuple(r)
            for r in cluster_quota(
                embeddings, k=4, cap=10, fanout=fanout
            ).collect()
        } == base


def test_merge_text_index_sharded_equals_oneshot(spark, documents, tmp_path):
    """Lexical shard-merge invariance: two parity-shard indexes merged
    must carry exactly the one-shot build's postings rows AND stats;
    a replayed merge is refused (stats must not double)."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.text import (
        build_text_index,
        merge_text_index,
    )

    cat = Catalog(spark, str(tmp_path / "tmrg"))
    even = documents.filter(F.col("doc_id") % 2 == 0)
    odd = documents.filter(F.col("doc_id") % 2 == 1)
    build_text_index(cat, "a", even, probe_partitions=8)
    build_text_index(cat, "b", odd, probe_partitions=8)
    build_text_index(cat, "full", documents, probe_partitions=8)

    merge_text_index(cat, "a", "b")
    cols = ["doc_id", "term", "tf", "dl"]
    merged = {tuple(r) for r in cat.read("a__postings").select(cols).collect()}
    oneshot = {
        tuple(r) for r in cat.read("full__postings").select(cols).collect()
    }
    assert merged == oneshot
    s = cat.read("a__stats").first()
    sf = cat.read("full__stats").first()
    assert (s["n_docs"], s["sum_dl"]) == (sf["n_docs"], sf["sum_dl"])

    # replay refused: stats unchanged, postings not doubled
    merge_text_index(cat, "a", "b")
    s2 = cat.read("a__stats").first()
    assert (s2["n_docs"], s2["sum_dl"]) == (s["n_docs"], s["sum_dl"])
    assert cat.read("a__postings").count() == len(oneshot)


def test_merge_text_index_partitioning_guard(spark, documents, tmp_path):
    """Merging indexes with different probe_partitions must raise —
    stored term_mod values are not transferable across hash moduli."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.text import (
        build_text_index,
        merge_text_index,
    )

    cat = Catalog(spark, str(tmp_path / "tguard"))
    build_text_index(
        cat, "a", documents.filter(F.col("doc_id") % 2 == 0),
        probe_partitions=8,
    )
    build_text_index(
        cat, "b", documents.filter(F.col("doc_id") % 2 == 1),
        probe_partitions=16,
    )
    with pytest.raises(ValueError, match="term_mod"):
        merge_text_index(cat, "a", "b")


def test_merge_text_index_crash_replay_converges(spark, documents, tmp_path):
    """Crash window: postings append_once committed, stats flip did
    not. The replayed merge converges — one copy of src's postings,
    one stats fold (the fold reads src's immutable stored stats)."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.text import (
        build_text_index,
        merge_text_index,
    )

    cat = Catalog(spark, str(tmp_path / "tcrash"))
    even = documents.filter(F.col("doc_id") % 2 == 0)
    odd = documents.filter(F.col("doc_id") % 2 == 1)
    build_text_index(cat, "a", even, probe_partitions=8)
    build_text_index(cat, "b", odd, probe_partitions=8)
    n_a = cat.read("a__postings").count()
    n_b = cat.read("b__postings").count()
    # simulate the crash: ONLY the idempotent postings append happened
    cat.append_once(
        cat.read("b__postings"), "a__postings", "merge-b",
        partition_by=["term_mod"],
    )
    merge_text_index(cat, "a", "b")
    assert cat.read("a__postings").count() == n_a + n_b
    s = cat.read("a__stats").first()
    assert s["n_docs"] == documents.count()
    tf_sum = (
        cat.read("a__postings").agg(F.sum("tf").alias("s")).first()["s"]
    )
    assert s["sum_dl"] == tf_sum


def test_merge_dedup_index_sharded_equals_oneshot(spark, documents, tmp_path):
    """Dedup-index shard-merge invariance: signatures have no trained
    state, so merged parity shards carry exactly the one-shot build's
    signature AND band rows; a replayed merge converges (append_once
    idempotency — no ledger involved)."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        build_dedup_index,
        merge_dedup_index,
    )

    cat = Catalog(spark, str(tmp_path / "ddmrg"))
    even = documents.filter(F.col("doc_id") % 2 == 0)
    odd = documents.filter(F.col("doc_id") % 2 == 1)
    build_dedup_index(cat, "a", even, probe_partitions=4)
    build_dedup_index(cat, "b", odd, probe_partitions=4)
    build_dedup_index(cat, "full", documents, probe_partitions=4)

    merge_dedup_index(cat, "a", "b")
    for table in ("signatures", "bands"):
        merged = {
            tuple(r) for r in cat.read(f"a__{table}").collect()
        }
        oneshot = {
            tuple(r) for r in cat.read(f"full__{table}").collect()
        }
        assert merged == oneshot, table

    n_sig = cat.read("a__signatures").count()
    n_bands = cat.read("a__bands").count()
    merge_dedup_index(cat, "a", "b")  # replay
    assert cat.read("a__signatures").count() == n_sig
    assert cat.read("a__bands").count() == n_bands


def test_merge_dedup_index_param_guard(spark, documents, tmp_path):
    """Merging indexes with different banding/hashing parameters must
    raise — signatures hashed differently are not comparable."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        build_dedup_index,
        merge_dedup_index,
    )

    cat = Catalog(spark, str(tmp_path / "ddguard"))
    build_dedup_index(
        cat, "a", documents.filter(F.col("doc_id") % 2 == 0),
        probe_partitions=4,
    )
    build_dedup_index(
        cat, "b", documents.filter(F.col("doc_id") % 2 == 1),
        probe_partitions=8,
    )
    with pytest.raises(ValueError, match="probe_partitions"):
        merge_dedup_index(cat, "a", "b")


def test_merge_dedup_index_queries_see_merged_corpus(
    spark, documents, tmp_path
):
    """After the merge, a probe against dst matches near-dups whose
    representatives live in EITHER shard — the operational point of
    consolidating shard indexes."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        build_dedup_index,
        match_against_dedup_index,
        merge_dedup_index,
    )

    corpus = documents.filter(F.col("doc_id") >= 10)
    cat = Catalog(spark, str(tmp_path / "ddprobe"))
    build_dedup_index(
        cat, "a", corpus.filter(F.col("doc_id") % 2 == 0),
        probe_partitions=4,
    )
    build_dedup_index(
        cat, "b", corpus.filter(F.col("doc_id") % 2 == 1),
        probe_partitions=4,
    )
    merge_dedup_index(cat, "a", "b")
    # a batch of EXACT copies of corpus docs from both parities must
    # match their originals through the merged index
    batch = (
        corpus.filter(F.col("doc_id").isin(10, 11, 12, 13))
        .select((F.col("doc_id") - 10).alias("doc_id"), "text")
    )
    m = match_against_dedup_index(cat, "a", batch)
    got = {
        (r.batch_doc_id, r.corpus_doc_id)
        for r in m.filter(F.col("est_jaccard") == 1.0).collect()
    }
    assert {(0, 10), (1, 11), (2, 12), (3, 13)} <= got


def test_merge_ivfpq_sharded_equals_oneshot(spark, embeddings, tmp_path):
    """PQ-branch shard-merge invariance: parity shards encoded under ONE
    shared (quantizer, codebook) and merged carry exactly the one-shot
    build's code lists and occupancy; a codebook mismatch raises."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ivfpq_index,
        merge_ann_index,
    )
    from daily_top_songs_etl_spark.extensions.pq import pq_train
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    cat = Catalog(spark, str(tmp_path / "ipqmrg"))
    quant = kmeans_fit(embeddings, k=4, iters=2).localCheckpoint(eager=True)
    cb = pq_train(embeddings, m=4, k=4, iters=2).localCheckpoint(eager=True)
    even = embeddings.filter(F.col("vec_id") % 2 == 0)
    odd = embeddings.filter(F.col("vec_id") % 2 == 1)
    build_ivfpq_index(cat, "a", even, centroids=quant, codebook=cb, m=4)
    build_ivfpq_index(cat, "b", odd, centroids=quant, codebook=cb, m=4)
    build_ivfpq_index(cat, "full", embeddings, centroids=quant,
                      codebook=cb, m=4)

    merge_ann_index(cat, "a", "b")
    cols = ["vec_id", "cluster", "code_0", "code_1", "code_2", "code_3"]
    merged = {tuple(r) for r in cat.read("a__pqlists").select(cols).collect()}
    oneshot = {
        tuple(r) for r in cat.read("full__pqlists").select(cols).collect()
    }
    assert merged == oneshot
    occ = {r.cluster: r.n_vectors for r in cat.read("a__centroids").collect()}
    assert occ == {
        r.cluster: r.n_vectors
        for r in cat.read("full__centroids").collect()
    }

    # codebook mismatch: an index trained on its own codebook refuses
    build_ivfpq_index(cat, "c", odd, n_centroids=4, iters=1, m=4, k_codes=4)
    with pytest.raises(ValueError, match="quantizer|codebook"):
        merge_ann_index(cat, "a", "c")


def test_build_ivfpq_requires_paired_pretrained_state(
    spark, embeddings, tmp_path
):
    """centroids without codebook (or vice versa) must raise — codes
    under one codebook are not comparable under another's centroids."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ivfpq_index,
    )
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    cat = Catalog(spark, str(tmp_path / "ipqpair"))
    quant = kmeans_fit(embeddings, k=4, iters=1)
    with pytest.raises(ValueError, match="together"):
        build_ivfpq_index(cat, "x", embeddings, centroids=quant)


def test_pq_encode_empty_codebook_returns_zero_rows(spark, embeddings):
    """An empty codebook must produce an EMPTY encode result (the old
    inner-join shape), never N rows of NULL codes — NULL-code rows
    could otherwise be appended into stored __pqlists at the empty-
    index boundary (round-11 ADVICE low)."""
    from daily_top_songs_etl_spark.extensions.pq import pq_encode

    empty_cb = spark.createDataFrame(
        [], "subspace int, code int, centroid array<double>, n_vectors long"
    )
    out = pq_encode(embeddings, empty_cb, m=4)
    assert out.count() == 0


def test_build_ivfpq_rejects_mismatched_external_codebook(
    spark, tmp_path, embeddings
):
    """build_ivfpq_index records m/d in the codebook's meta; with an
    EXTERNALLY trained codebook those must be verified against the
    supplied artifact, not trusted from the caller's params — a
    mismatch would make every later append silently encode with the
    wrong geometry (round-11 ADVICE low)."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.pq import pq_train
    from daily_top_songs_etl_spark.extensions.similarity import kmeans_fit

    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ivfpq_index,
    )

    cat = Catalog(spark, str(tmp_path / "ipqgeom"))
    quant = kmeans_fit(embeddings, k=4, iters=1).localCheckpoint()
    cb_m2 = pq_train(embeddings, m=2, k=4, iters=1).localCheckpoint()
    with pytest.raises(ValueError, match="geometry"):
        build_ivfpq_index(
            cat, "x", embeddings, m=4, centroids=quant, codebook=cb_m2
        )
    # matching geometry still builds
    build_ivfpq_index(
        cat, "ok", embeddings, m=2, centroids=quant, codebook=cb_m2
    )
    meta = cat.read_meta("ok__codebook")
    assert int(meta["m"]) == 2


def test_merge_dedup_index_flat_src_bands_falls_back(spark, tmp_path):
    """A src whose __bands snapshot is stored FLAT (pre-partitioned-
    layout build) must merge through the row-level append — file-level
    hardlinks would produce a mixed flat+partitioned directory that
    Spark's partition discovery rejects (round-11 ADVICE low)."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        build_dedup_index,
        match_against_dedup_index,
        merge_dedup_index,
    )

    docs_a = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 3 + str(i)) for i in range(6)],
        "doc_id long, text string",
    )
    docs_b = spark.createDataFrame(
        [(100 + i, "epsilon zeta eta theta " * 3 + str(i)) for i in range(6)],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path / "ddflat"))
    build_dedup_index(cat, "d", docs_a, probe_partitions=4)
    build_dedup_index(cat, "s", docs_b, probe_partitions=4)
    # simulate the older build: rewrite src's bands snapshot FLAT
    # (same rows, no bucket_mod= partition dirs)
    cat.write(cat.read("s__bands"), "s__bands")
    assert not any(
        rel.startswith("bucket_mod=")
        for rel in cat._list_files(cat.path("s__bands"))
    )
    merge_dedup_index(cat, "d", "s")
    merged = cat.read("d__bands")
    # every src band row arrived exactly once, and the merged snapshot
    # stays readable (no mixed-layout AnalysisException)
    n_src = cat.read("s__bands").count()
    n_dst = merged.count()
    assert n_src > 0 and n_dst >= n_src
    # and the merged index still answers probes (readable layout)
    hits = match_against_dedup_index(cat, "d", docs_b.limit(1))
    assert hits.count() >= 0


def test_index_build_multi_table_commit_is_atomic(
    spark, tmp_path, embeddings, monkeypatch
):
    """The index builders publish their 2-3 tables under ONE staged
    commit_tables manifest (round-11 verdict item 3): a crash after the
    first pointer flip must leave the intent manifest behind, and the
    next catalog open must roll the remaining flips FORWARD — never a
    torn index (fresh centroids visible next to stale/absent code
    lists)."""
    import os

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ivfpq_index,
    )

    root = str(tmp_path / "atomic")
    cat = Catalog(spark, root)

    real_flip = Catalog._flip
    flips = {"n": 0}

    def crashing_flip(self, table, version):
        flips["n"] += 1
        if flips["n"] == 2:  # die after the FIRST table went visible
            raise RuntimeError("simulated crash mid-commit")
        return real_flip(self, table, version)

    monkeypatch.setattr(Catalog, "_flip", crashing_flip)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_ivfpq_index(cat, "ix", embeddings, n_centroids=4, iters=1)
    monkeypatch.setattr(Catalog, "_flip", real_flip)
    # the manifest survived the crash; the writer lock did not (the
    # process 'died' — simulate by removing the lock the crashed hold
    # left behind)
    assert os.path.exists(os.path.join(root, "_txn.json"))
    lock = os.path.join(root, "_writer.lock")
    if os.path.exists(lock):
        os.remove(lock)
    cat2 = Catalog(spark, root)  # open → roll-forward recovery
    assert not os.path.exists(os.path.join(root, "_txn.json"))
    # all three tables visible and mutually consistent
    occ = {
        r["cluster"]: r["n_vectors"]
        for r in cat2.read("ix__centroids").collect()
    }
    lists = (
        cat2.read("ix__pqlists").groupBy("cluster").count().collect()
    )
    assert {r["cluster"]: r["count"] for r in lists} == {
        c: n for c, n in occ.items() if n > 0
    }
    meta = cat2.read_meta("ix__codebook")
    assert int(meta["m"]) == 4 and "d" in meta
