"""Structured-Streaming tests: landing-dir micro-batch ingestion (the
daily-cron replacement) and watermark-windowed aggregation on a stream."""

from __future__ import annotations

import pytest

import datetime as dt
import os

from pyspark.sql import functions as F

from daily_top_songs_etl_spark import schemas
from daily_top_songs_etl_spark.catalog import Catalog
from daily_top_songs_etl_spark.streaming.daily_stream import (
    LANDING_SCHEMA,
    run_landing_stream,
)
from daily_top_songs_etl_spark.streaming.windows import tumbling_counts


def _batch_rows(day: dt.date, seed: int):
    rows = []
    for i in range(10):
        isrc = f"ZZ{seed:02d}{i:08d}"  # exactly 12 chars, unique per row
        rows.append(
            (
                i,
                "Spotify",
                isrc,
                [{"artist_id": f"ART{seed:02d}{'x' * 17}"[:22], "artist_name": f"Artist {seed}"}],
                f"Song {seed}-{i}",
                180000,
                False,
                f"https://open.spotify.com/track/s{seed}i{i}",
                None,
                day,
            )
        )
    return rows


@pytest.mark.slow
def test_landing_stream_drains_backlog(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    os.makedirs(landing)
    cat = Catalog(spark, wh)

    d1, d2 = dt.date(2026, 8, 1), dt.date(2026, 8, 2)
    spark.createDataFrame(_batch_rows(d1, 1), LANDING_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    spark.createDataFrame(_batch_rows(d2, 2), LANDING_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    run_landing_stream(spark, landing, cat, ckpt)
    ranking = cat.read("ranking")
    assert ranking.count() == 20
    assert {r.ranking_date for r in ranking.select("ranking_date").distinct().collect()} == {d1, d2}

    # Re-running with the same checkpoint must NOT re-apply consumed files
    # (exactly-once over the at-least-once foreachBatch, via source tracking
    # + idempotent upserts).
    run_landing_stream(spark, landing, cat, ckpt)
    assert cat.read("ranking").count() == 20

    # A newly landed day drains incrementally.
    d3 = dt.date(2026, 8, 3)
    spark.createDataFrame(_batch_rows(d3, 3), LANDING_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run_landing_stream(spark, landing, cat, ckpt)
    assert cat.read("ranking").count() == 30


def test_stateful_running_totals_matches_batch(spark, tmp_path):
    """applyInPandasWithState per-user running totals: after draining the
    source in multiple micro-batches, the latest emitted state per user
    must EXACTLY equal the one-shot batch aggregate (state survives batch
    splits bit-identically thanks to integer micro-unit accumulation)."""
    import __spark_entry__ as entrymod

    from daily_top_songs_etl_spark.streaming.stateful import (
        running_user_totals,
        running_user_totals_batch,
    )

    events = entrymod._events(spark, "/root/testdata/sf0.001")
    src_dir = str(tmp_path / "events_src")
    events.repartition(5).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(src_dir)
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals_out")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.sql(
        """SELECT user_id, n_events, total_micro FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY update_seq DESC) rn
             FROM running_totals_out) WHERE rn = 1"""
    )
    got = {r.user_id: (r.n_events, r.total_micro) for r in final.collect()}
    want = {
        r.user_id: (r.n_events, r.total_micro)
        for r in running_user_totals_batch(events).collect()
    }
    assert got == want
    # multiple micro-batches actually happened (update_seq > 1 somewhere)
    assert spark.sql(
        "SELECT max(update_seq) m FROM running_totals_out"
    ).first().m > 1


def test_streaming_tumbling_window_matches_batch(spark, tmp_path):
    """Stream the events table file-by-file; windowed counts must equal the
    batch computation (unified semantics)."""
    import __spark_entry__ as entrymod

    events = entrymod._events(spark, "/root/testdata/sf0.001")
    src_dir = str(tmp_path / "events_src")
    events.repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    agg = tumbling_counts(stream, window="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling_out")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql(
        "SELECT window_start, event_type, n_events FROM tumbling_out"
    )
    batch = tumbling_counts(events, window="1 hour").select(
        "window_start", "event_type", "n_events"
    )
    # Watermarked append-mode emits only windows older than the final
    # watermark; every emitted window must match batch exactly.
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got, "stream should emit closed windows"
    assert got <= want
    assert len(got) >= 0.9 * len(want)


def test_streaming_dedup_matches_batch_keys(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a multi-micro-batch drain must
    keep exactly one row per key, and the key set must equal the batch
    formulation's (survivor ROWS may differ: arrival-first vs time-first).

    The watermark horizon must cover the event-time span of the corpus for
    the dedup to be exact — with a shorter horizon, per-key state is
    evicted as the watermark passes and a key reappearing later is emitted
    again (that bounded-state trade-off is the operator's scale story)."""
    import __spark_entry__ as entrymod

    from daily_top_songs_etl_spark.streaming.windows import first_event_per_key

    events = entrymod._events(spark, "/root/testdata/sf0.001")
    src_dir = str(tmp_path / "events_src")
    events.repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        first_event_per_key(stream, watermark="366 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_dedup_out")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT user_id, event_type, count(*) n FROM stream_dedup_out "
        "GROUP BY 1, 2"
    ).collect()
    assert all(r.n == 1 for r in got)
    want = {
        (r.user_id, r.event_type)
        for r in first_event_per_key(events)
        .select("user_id", "event_type")
        .collect()
    }
    assert {(r.user_id, r.event_type) for r in got} == want


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join drained with availableNow must produce
    exactly the batch pair set (inner join, both sides watermarked)."""
    import __spark_entry__ as entrymod

    from daily_top_songs_etl_spark.streaming.windows import clicks_before_purchase

    events = entrymod._events(spark, "/root/testdata/sf0.001")
    src_dir = str(tmp_path / "events_src")
    events.repartition(4).write.parquet(src_dir)

    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = df.filter(F.col("event_type") == "click").select("user_id", "ts")
        return purchases, clicks

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    q = (
        clicks_before_purchase(*split(stream))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("interval_join_out")
        .option("checkpointLocation", str(tmp_path / "ijckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.purchase_id, r.click_ts)
        for r in spark.sql("SELECT * FROM interval_join_out").collect()
    }
    want = {
        (r.purchase_id, r.click_ts)
        for r in clicks_before_purchase(*split(events)).collect()
    }
    assert got == want
    assert len(want) > 0


def test_streaming_enrichment_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment drained with availableNow must
    equal the batch join row-for-row (stateless — no watermark, no state
    store, so the equality is exact, not just key-set)."""
    import __spark_entry__ as entrymod

    from daily_top_songs_etl_spark.streaming.windows import enrich_with_dim

    events = entrymod._events(spark, "/root/testdata/sf0.001")
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    src_dir = str(tmp_path / "events_src")
    events.repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        enrich_with_dim(stream, dim)
        .select("event_id", "c_name", "c_mktsegment")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_enrich_out")
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM stream_enrich_out").collect()
    )
    want = sorted(
        tuple(r)
        for r in enrich_with_dim(events, dim)
        .select("event_id", "c_name", "c_mktsegment")
        .collect()
    )
    assert got == want and len(got) == 1000


@pytest.mark.slow
def test_distinct_state_stream_matches_batch_and_is_replay_safe(spark, tmp_path):
    """Drain three landed event files through the sketch-state stream:
    the final estimate must match a single-shot batch sketch within the
    sketch error, and re-landing an already-represented batch must leave
    the state estimate EXACTLY unchanged (HLL union idempotency — the
    at-least-once story without processed-batch bookkeeping)."""
    from pyspark.sql import types as T

    from daily_top_songs_etl_spark.operators.incremental import (
        distinct_state,
        finalize_distinct,
    )
    from daily_top_songs_etl_spark.streaming.distinct_state import (
        read_distinct_state,
        run_distinct_state_stream,
    )

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    all_rows = []
    for b in range(3):
        rows = [
            ("click" if u % 2 else "view", (b * 400 + u) % 900)
            for u in range(500)
        ]
        all_rows += rows
        land(rows)
    run_distinct_state_stream(
        spark, landing, schema, state, ckpt, ["event_type"], "user_id"
    )
    streamed = {
        r.event_type: r.approx_n_distinct
        for r in finalize_distinct(
            read_distinct_state(spark, state), ["event_type"]
        ).collect()
    }
    batch = {
        r.event_type: r.approx_n_distinct
        for r in finalize_distinct(
            distinct_state(
                spark.createDataFrame(all_rows, schema), ["event_type"], "user_id"
            ),
            ["event_type"],
        ).collect()
    }
    assert set(streamed) == {"click", "view"}
    for k in streamed:
        assert abs(streamed[k] - batch[k]) / batch[k] < 0.02

    # replay: land a content-identical copy of batch 0 as a new file
    land([("click" if u % 2 else "view", u % 900) for u in range(500)])
    run_distinct_state_stream(
        spark, landing, schema, state, ckpt, ["event_type"], "user_id"
    )
    replayed = {
        r.event_type: r.approx_n_distinct
        for r in finalize_distinct(
            read_distinct_state(spark, state), ["event_type"]
        ).collect()
    }
    assert replayed == streamed  # register max(x, x) = x — exact


@pytest.mark.slow
def test_incremental_view_stream_exactly_once_under_restart(spark, tmp_path):
    """Drain event batches into an IncrementalView via foreachBatch with a
    checkpoint; then land NEW files and drain again under the SAME
    checkpoint. The checkpoint keeps batch ids monotone across restarts,
    so (a) already-applied files are never re-merged and (b) the new
    batches get FRESH ids the ledger admits — the restart-renumbering
    collision (new data arriving under a previously-applied batch id,
    silently dropped) cannot occur. Final state must equal a single full
    recompute over everything landed."""
    from pyspark.sql import types as T

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.operators.matview import IncrementalView
    from daily_top_songs_etl_spark.streaming.distinct_state import (
        run_incremental_view_stream,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    all_rows = []

    def land(batch_no):
        rows = [(str((batch_no + i) % 3), float(i + batch_no)) for i in range(100)]
        all_rows.extend(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    for b in range(3):
        land(b)

    cat = Catalog(spark, str(tmp_path / "wh"))
    view = IncrementalView(cat, "stream_totals", ["k"], "v")
    run_incremental_view_stream(spark, landing, schema, view, ckpt)
    first = {r.k: (r.n_rows, r.sum_value) for r in view.read().collect()}
    n_applied_first = view.applied_count()

    # restart drain with NO new data: checkpoint yields zero new batches,
    # state untouched
    run_incremental_view_stream(spark, landing, schema, view, ckpt)
    second = {r.k: (r.n_rows, r.sum_value) for r in view.read().collect()}
    assert second == first
    assert view.applied_count() == n_applied_first

    # land NEW files, restart the drain: the checkpoint continues batch
    # numbering past the prior run, so the new data is admitted (a
    # checkpoint-less restart would renumber from 0 and the ledger would
    # wrongly refuse it)
    land(3)
    land(4)
    run_incremental_view_stream(spark, landing, schema, view, ckpt)
    third = {r.k: (r.n_rows, r.sum_value) for r in view.read().collect()}
    assert view.applied_count() > n_applied_first

    expect = {
        r.k: (r.n_rows, r.sum_value)
        for r in spark.createDataFrame(all_rows, schema)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert third == expect


@pytest.mark.slow
def test_dedup_index_stream_routes_and_grows(spark, tmp_path):
    """Streaming dedup against HISTORY: micro-batches route near-dups of
    the persisted corpus (and non-representatives of within-batch
    clusters) to duplicates/, fresh docs to accepted/, and accepted docs
    fold into the index so a LATER batch dedups against an EARLIER one.
    Re-running the drained stream is a no-op (replay-safe append)."""
    import os

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import build_dedup_index
    from daily_top_songs_etl_spark.streaming.dedup_stream import (
        read_routed,
        run_dedup_index_stream,
    )

    base = (
        "the shared boilerplate sentence that appears in every scraped "
        "page of this particular mirror keeps going for a while so "
        "shingle overlap dominates"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "a completely different historical document "
                        "about engines and columnar storage formats")],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path / "ddidx"))
    build_dedup_index(cat, "dd", corpus)

    fresh1 = (
        "genuinely new content from the first batch long enough to carry "
        "its own shingle identity across many tokens of running text"
    )
    batch1 = spark.createDataFrame(
        [
            (101, base.replace("mirror", "archive")),  # near-dup of history
            (102, fresh1),                             # fresh
            (103, fresh1.replace("many", "plenty of")),  # within-batch dup of 102
        ],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        # near-dup of batch 1's ACCEPTED doc (cross-batch history growth)
        [(201, fresh1.replace("running", "flowing")),
         (202, "another unrelated brand new document with an entirely "
               "distinct vocabulary footprint spanning plenty of words")],
        "doc_id long, text string",
    )
    landing = str(tmp_path / "landing")
    batch1.coalesce(1).write.parquet(landing)
    batch2.coalesce(1).write.mode("append").parquet(landing)

    out = str(tmp_path / "out")
    run_dedup_index_stream(
        spark, landing, batch1.schema, cat, "dd",
        str(tmp_path / "ckpt"), out,
    )

    accepted = {r.doc_id for r in read_routed(spark, out, "accepted").collect()}
    dupes = {r.doc_id for r in read_routed(spark, out, "duplicates").collect()}
    assert accepted & {202}, accepted          # fresh doc in batch 2 accepted
    assert 101 in dupes                        # history near-dup rejected
    assert (102 in accepted) ^ (103 in accepted)  # one batch-cluster rep
    assert 201 in dupes                        # killed by EARLIER batch's accept
    assert accepted.isdisjoint(dupes)
    assert accepted | dupes == {101, 102, 103, 201, 202}

    # replay: drained stream re-run must not double the index
    sig_count = cat.read("dd__signatures").count()
    run_dedup_index_stream(
        spark, landing, batch1.schema, cat, "dd",
        str(tmp_path / "ckpt"), out,
    )
    assert cat.read("dd__signatures").count() == sig_count


@pytest.mark.slow
def test_pretrain_ingest_stream_end_to_end(spark, tmp_path):
    """The full incremental corpus-ingest funnel over micro-batches:
    quality-gate rejects, history dedup kills a near-copy of the seed
    corpus, decontamination kills a benchmark-overlapping doc,
    cross-batch dedup kills a near-copy of an earlier ACCEPTED doc,
    survivors append to the versioned corpus table, and a replay of the
    drained stream changes nothing."""
    import os

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import build_dedup_index
    from daily_top_songs_etl_spark.streaming.pretrain_stream import (
        read_funnel_counts,
        run_pretrain_ingest_stream,
    )

    from daily_top_songs_etl_spark.extensions.text import quality_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    passing = (
        quality_gate(docs, passthrough=True)
        .filter(F.col("passes_all"))
        .orderBy("doc_id")
    )
    texts = [r.text for r in passing.limit(8).collect()]
    assert len(texts) >= 5, "need gate-passing fixture docs"
    schema = "doc_id long, text string"

    cat = Catalog(spark, str(tmp_path / "wh"))
    seed = spark.createDataFrame([(1, texts[0]), (2, texts[1])], schema)
    cat.write(seed, "corpus")
    build_dedup_index(cat, "dd", seed, probe_partitions=16)

    bench = spark.createDataFrame([(9000, texts[2])], schema)

    words0 = texts[0].split()
    batch1 = spark.createDataFrame(
        [
            (101, " ".join(words0[:-1] + ["changed"])),  # near-dup of seed 1
            (102, texts[3]),                             # clean accept
            (103, "!!! ??? !!! ??? !!!"),                # fails quality gate
            (104, texts[2]),                             # contaminated (= bench)
        ],
        schema,
    )
    w3 = texts[3].split()
    batch2 = spark.createDataFrame(
        [
            # near-dup of batch 1's ACCEPTED doc 102
            (201, " ".join(w3[:-1] + ["altered"])),
            (202, texts[4]),                             # clean accept
        ],
        schema,
    )
    landing = str(tmp_path / "landing")
    batch1.coalesce(1).write.parquet(landing)
    batch2.coalesce(1).write.mode("append").parquet(landing)

    state = str(tmp_path / "state")
    os.makedirs(state, exist_ok=True)
    run_pretrain_ingest_stream(
        spark, landing, batch1.schema, cat, "dd", "corpus", bench,
        str(tmp_path / "ckpt"), state,
    )

    corpus_ids = {r.doc_id for r in cat.read("corpus").collect()}
    assert corpus_ids == {1, 2, 102, 202}, corpus_ids

    counts = {c["batch_id"]: c for c in read_funnel_counts(state)}
    b1 = [c for c in counts.values() if c["raw"] == 4][0]
    assert b1["quality"] == 3          # 103 gated out
    assert b1["fresh_vs_history"] == 2  # 101 killed by history
    assert b1["accepted"] == 1          # 104 decontaminated
    b2 = [c for c in counts.values() if c["raw"] == 2][0]
    assert b2["fresh_vs_history"] == 1  # 201 killed by batch 1's accept
    assert b2["accepted"] == 1
    for c in counts.values():  # funnel is monotone per batch
        assert (
            c["raw"] >= c["quality"] >= c["batch_unique"]
            >= c["fresh_vs_history"] >= c["accepted"]
        )

    # replay: nothing changes (corpus version, contents, counts file)
    v = cat.current_version("corpus")
    n_sig = cat.read("dd__signatures").count()
    run_pretrain_ingest_stream(
        spark, landing, batch1.schema, cat, "dd", "corpus", bench,
        str(tmp_path / "ckpt"), state,
    )
    assert cat.current_version("corpus") == v
    assert {r.doc_id for r in cat.read("corpus").collect()} == corpus_ids
    assert cat.read("dd__signatures").count() == n_sig
    assert len(read_funnel_counts(state)) == 2


def test_append_once_replay_converges(spark, tmp_path):
    """catalog.append_once is the exactly-once growth primitive: a
    replayed append (same batch_id, same rows — the foreachBatch replay
    contract) converges to ONE copy of the batch, including when a
    crashed first attempt left partial per-batch files behind, and
    including the table-creation batch."""
    import os

    from daily_top_songs_etl_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    schema = "k long, v string"

    # table-creation batch: replay flips to an equivalent snapshot
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    cat.append_once(b0, "t", 0)
    cat.append_once(b0, "t", 0)
    assert cat.read("t").count() == 2

    # steady-state batch replayed: still one copy
    b1 = spark.createDataFrame([(3, "c"), (4, "d"), (5, "e")], schema)
    cat.append_once(b1, "t", 1)
    cat.append_once(b1, "t", 1)
    assert cat.read("t").count() == 5
    assert {r.k for r in cat.read("t").collect()} == {1, 2, 3, 4, 5}

    # crashed-attempt debris: a stale batch-2 file from a partial first
    # attempt (simulated by an extra copy under the per-batch name) is
    # removed before the replay's files move in
    b2 = spark.createDataFrame([(6, "f")], schema)
    cat.append_once(b2, "t", 2)
    p = cat.path("t")
    real = max(  # the non-empty part file (empty partitions write too)
        (f for f in os.listdir(p) if f.startswith("batch-2-")),
        key=lambda f: os.path.getsize(os.path.join(p, f)),
    )
    import shutil as _sh

    _sh.copy(
        os.path.join(p, real), os.path.join(p, "batch-2-00099.parquet")
    )
    spark.catalog.refreshByPath(p)  # manual copy bypasses Spark's listing cache
    assert cat.read("t").filter("k = 6").count() == 2  # debris doubles
    cat.append_once(b2, "t", 2)  # replay
    spark.catalog.refreshByPath(p)
    assert cat.read("t").filter("k = 6").count() == 1
    assert cat.read("t").count() == 6

    # partitioned layout: per-batch files land inside partition dirs
    pb = spark.createDataFrame([(7, "x"), (8, "y")], "k long, part string")
    cat.append_once(pb, "pt", 0, partition_by=["part"])
    cat.append_once(pb, "pt", 0, partition_by=["part"])
    pb2 = spark.createDataFrame([(9, "x")], "k long, part string")
    cat.append_once(pb2, "pt", 1, partition_by=["part"])
    cat.append_once(pb2, "pt", 1, partition_by=["part"])
    assert cat.read("pt").count() == 3
    assert cat.read("pt").filter("part = 'x'").count() == 2


@pytest.mark.slow
def test_dedup_stream_replay_after_append_before_marker(spark, tmp_path):
    """The at-least-once corner from the round-4 advice: a batch crashes
    AFTER its signatures were appended to the index but BEFORE the
    marker write and checkpoint commit. The replay then matches against
    an index that already holds the batch's own signatures — without the
    self-exclusion it would self-match every accepted doc (est = 1.0)
    and overwrite accepted/ with an empty set. Simulate the crashed
    first attempt by pre-appending the would-be-accepted signatures
    under the batch id the stream will assign, then drive the replay."""
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        append_to_dedup_index,
        build_dedup_index,
    )
    from daily_top_songs_etl_spark.streaming.dedup_stream import (
        read_routed,
        run_dedup_index_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "a historical document about engines and columnar formats "
             "with enough running text to carry a shingle identity")],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path / "ddidx"))
    build_dedup_index(cat, "dd", corpus)

    fresh = (
        "genuinely new content long enough to carry its own shingle "
        "identity across many tokens of running text in this batch"
    )
    batch1 = spark.createDataFrame(
        [(101, fresh)], "doc_id long, text string"
    )
    landing = str(tmp_path / "landing")
    batch1.coalesce(1).write.parquet(landing)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_dedup_index_stream(
        spark, landing, batch1.schema, cat, "dd", ckpt, out
    )
    assert {r.doc_id for r in read_routed(spark, out, "accepted").collect()} == {101}

    # batch 2 will get batch_id=1; its accepted set is {202} (201 is a
    # near-dup of the already-accepted 101). Simulate the crashed first
    # attempt: signatures for 202 are ALREADY in the index under id 1,
    # no marker, checkpoint uncommitted.
    fresh2 = (
        "another unrelated brand new document with an entirely distinct "
        "vocabulary footprint spanning plenty of words and clauses"
    )
    batch2 = spark.createDataFrame(
        [(201, fresh.replace("many", "plenty of")), (202, fresh2)],
        "doc_id long, text string",
    )
    append_to_dedup_index(
        cat, "dd", batch2.filter("doc_id = 202"), batch_id=1
    )
    batch2.coalesce(1).write.mode("append").parquet(landing)
    run_dedup_index_stream(
        spark, landing, batch1.schema, cat, "dd", ckpt, out
    )

    accepted = {r.doc_id for r in read_routed(spark, out, "accepted").collect()}
    dupes = {r.doc_id for r in read_routed(spark, out, "duplicates").collect()}
    assert 202 in accepted, (accepted, dupes)   # did NOT self-match
    assert 201 in dupes                          # real history dup still dies
    # exactly one copy of 202's signature row survives the replay
    assert cat.read("dd__signatures").filter("doc_id = 202").count() == 1


@pytest.mark.slow
def test_pretrain_stream_replay_after_append_before_marker(spark, tmp_path):
    """Same crash window for the corpus-ingest funnel: corpus + index
    appends done, marker missing. The replay must neither duplicate
    corpus rows nor reject its own docs as history dups."""
    import os

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.dedup import (
        append_to_dedup_index,
        build_dedup_index,
    )
    from daily_top_songs_etl_spark.extensions.text import quality_gate
    from daily_top_songs_etl_spark.streaming.pretrain_stream import (
        read_funnel_counts,
        run_pretrain_ingest_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    passing = (
        quality_gate(docs, passthrough=True)
        .filter(F.col("passes_all"))
        .orderBy("doc_id")
    )
    texts = [r.text for r in passing.limit(4).collect()]
    schema = "doc_id long, text string"

    cat = Catalog(spark, str(tmp_path / "wh"))
    seed = spark.createDataFrame([(1, texts[0])], schema)
    cat.write(seed, "corpus")
    build_dedup_index(cat, "dd", seed)
    bench = spark.createDataFrame([(9000, texts[1])], schema)

    # the only batch (id 0) would accept doc 102; simulate its crashed
    # first attempt: corpus + index already carry 102, marker missing
    batch = spark.createDataFrame([(102, texts[2])], schema)
    cat.append_once(batch, "corpus", 0)
    append_to_dedup_index(cat, "dd", batch, batch_id=0)

    landing = str(tmp_path / "landing")
    batch.coalesce(1).write.parquet(landing)
    state = str(tmp_path / "state")
    os.makedirs(state, exist_ok=True)
    run_pretrain_ingest_stream(
        spark, landing, batch.schema, cat, "dd", "corpus", bench,
        str(tmp_path / "ckpt"), state,
    )

    rows = cat.read("corpus").filter("doc_id = 102").count()
    assert rows == 1, rows  # replay converged, no duplicate corpus rows
    assert cat.read("dd__signatures").filter("doc_id = 102").count() == 1
    counts = read_funnel_counts(state)
    assert len(counts) == 1
    assert counts[0]["accepted"] == 1  # 102 was not self-rejected


def test_vector_ingest_stream_grows_index_exactly_once(spark, tmp_path):
    """Continuous vector ingest: micro-batches fold into the stored ANN
    index (assignment against STORED centroids, occupancy bookkeeping),
    appended vectors become queryable, and a full re-run of the drained
    stream changes nothing (the index tables carry their own exactly-once
    markers)."""
    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.extensions.ann_index import (
        build_ann_index,
        query_ann_index,
    )
    from daily_top_songs_etl_spark.streaming.vector_stream import (
        run_vector_ingest_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    b1 = emb.filter(F.col("vec_id") % 5 == 0).filter(F.col("vec_id") < 250)
    b2 = emb.filter(F.col("vec_id") % 5 == 0).filter(F.col("vec_id") >= 250)

    cat = Catalog(spark, str(tmp_path / "ann"))
    build_ann_index(cat, "idx", base, n_centroids=4, iters=2)

    landing = str(tmp_path / "landing")
    b1.coalesce(1).write.parquet(landing)
    b2.coalesce(1).write.mode("append").parquet(landing)
    ckpt = str(tmp_path / "ckpt")
    run_vector_ingest_stream(spark, landing, b1.schema, cat, "idx", ckpt)

    lists = cat.read("idx__lists")
    assert lists.count() == emb.count()
    n1 = {r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()}
    assert sum(n1.values()) == emb.count()

    # appended ids reachable through the stored-index probe
    res = query_ann_index(cat, "idx", emb.limit(6), k=5, n_probe=4)
    assert any(r.neighbor_id % 5 == 0 for r in res.collect())

    # replay: drained stream re-run is a no-op
    run_vector_ingest_stream(spark, landing, b1.schema, cat, "idx", ckpt)
    assert cat.read("idx__lists").count() == emb.count()
    assert {
        r.cluster: r.n_vectors for r in cat.read("idx__centroids").collect()
    } == n1

    # unbuilt index refuses ingest
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not built"):
        run_vector_ingest_stream(
            spark, landing, b1.schema, Catalog(spark, str(tmp_path / "x")),
            "nope", str(tmp_path / "ckpt2"),
        )


def test_sketch_stream_exactly_once_and_merge_identity(
    spark, tmp_path, monkeypatch
):
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.operators.heavyhitters import (
        cms_build,
        kmv_sketch,
    )
    from daily_top_songs_etl_spark.streaming.sketch_stream import (
        build_sketch_state,
        merge_sketch_batch,
    )

    whole = spark.createDataFrame(
        [(i % 700,) for i in range(4000)], "k long"
    )
    seed = whole.filter(F.col("k") % 3 == 0)
    b1 = whole.filter(F.col("k") % 3 == 1)
    b2 = whole.filter(F.col("k") % 3 == 2)
    cat = Catalog(spark, str(tmp_path / "wh"))
    build_sketch_state(cat, "st", seed, "k", width=512, depth=4, kmv_k=128)
    assert merge_sketch_batch(cat, "st", b1, batch_id=1)
    # replay of batch 1 must be a no-op (ledger in the CMS meta)
    v_cms = cat.current_version("st__cms")
    v_kmv = cat.current_version("st__kmv")
    assert not merge_sketch_batch(cat, "st", b1, batch_id=1)
    assert cat.current_version("st__cms") == v_cms
    # crash window: both merges staged, the commit never happens —
    # neither table moves, and the replay folds batch 2 exactly once
    seen = []

    def crash(dfs, staged=None, **kw):
        seen.append(set(staged or {}))
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(cat, "commit_tables", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        merge_sketch_batch(cat, "st", b2, batch_id=2)
    monkeypatch.undo()
    assert seen == [{"st__cms", "st__kmv"}]
    assert cat.current_version("st__cms") == v_cms
    assert cat.current_version("st__kmv") == v_kmv
    assert merge_sketch_batch(cat, "st", b2, batch_id=2)
    got_cms = {(r.i, r.bucket): r.cnt for r in cat.read("st__cms").collect()}
    want_cms = {
        (r.i, r.bucket): r.cnt
        for r in cms_build(whole, "k", width=512, depth=4).collect()
    }
    assert got_cms == want_cms
    got_kmv = sorted(r.hv for r in cat.read("st__kmv").collect())
    want_kmv = sorted(
        r.hv for r in kmv_sketch(whole, "k", k=128).collect()
    )
    assert got_kmv == want_kmv


def test_sketch_stream_end_to_end(spark, tmp_path):
    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.operators.heavyhitters import cms_build
    from daily_top_songs_etl_spark.streaming.sketch_stream import (
        build_sketch_state,
        run_sketch_stream,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    whole = spark.createDataFrame(
        [(i % 97,) for i in range(3000)], "k long"
    )
    seed = whole.filter(F.col("k") < 30)
    rest = whole.filter(F.col("k") >= 30)
    cat = Catalog(spark, str(tmp_path / "wh"))
    build_sketch_state(cat, "st", seed, "k", width=256, depth=4, kmv_k=64)
    rest.repartition(3).write.mode("append").parquet(landing)
    run_sketch_stream(
        spark, landing, "k long", cat, "st", str(tmp_path / "ckpt")
    )
    got = {(r.i, r.bucket): r.cnt for r in cat.read("st__cms").collect()}
    want = {
        (r.i, r.bucket): r.cnt
        for r in cms_build(whole, "k", width=256, depth=4).collect()
    }
    assert got == want


def test_quota_stream_fcfs_exactly_once(spark, tmp_path):
    """Streaming per-source quota: FCFS admission across micro-batches
    matches the one-shot (batch, bucket, id) ranking; a drained-stream
    re-run and an out-of-order replay change nothing; the crash window
    between the admitted append and the counts flip converges."""
    import hashlib

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog
    from daily_top_songs_etl_spark.streaming.quota_stream import (
        admit_quota_batch,
        run_quota_admission_stream,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source")
    b = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]

    landing = str(tmp_path / "landing")
    b[0].coalesce(1).write.parquet(landing)
    b[1].coalesce(1).write.mode("append").parquet(landing)
    cat = Catalog(spark, str(tmp_path / "quota"))
    ckpt = str(tmp_path / "ckpt")
    run_quota_admission_stream(
        spark, landing, b[0].schema, cat, "q", ckpt, cap=4
    )

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16)

    rows = [(r.doc_id, r.source) for r in docs.collect()]
    want = {}
    for src in {s for _, s in rows}:
        cand = sorted(
            (d for d, s in rows if s == src),
            key=lambda d: (d % 2, bucket(d), d),
        )
        want[src] = cand[:4]
    got = {}
    for r in cat.read("q__admitted").collect():
        got.setdefault(r.source, []).append((r.admit_rank, r.doc_id))
    got = {s: [d for _, d in sorted(v)] for s, v in got.items()}
    assert got == want

    # drained re-run: no-op (checkpoint replays nothing; state intact)
    run_quota_admission_stream(
        spark, landing, b[0].schema, cat, "q", ckpt, cap=4
    )
    assert cat.read("q__admitted").count() == sum(map(len, want.values()))

    # out-of-order manual replay of batch 0: ledger refuses
    assert not admit_quota_batch(cat, "q", b[0], batch_id=0, cap=4)

    # crash window: a batch whose admitted rows were appended but whose
    # counts pointer never flipped — replaying the SAME batch id must
    # converge (append_once dedupes the rows; counts flip once).
    extra = spark.createDataFrame(
        [(100000 + i, "srcX") for i in range(6)], "doc_id long, source string"
    )
    from daily_top_songs_etl_spark.extensions.mixture import _md5_bucket64k
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("hash_bucket", "doc_id")
    pre = (
        extra.select(
            "source", "doc_id", _md5_bucket64k("doc_id").alias("hash_bucket")
        )
        .withColumn("admit_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("admit_rank") <= 4)
        .select("source", "doc_id", "hash_bucket", "admit_rank")
    )
    cat.append_once(pre, "q__admitted", 2)  # crashed attempt's append
    assert admit_quota_batch(cat, "q", extra, batch_id=2, cap=4)
    srcx = [
        r
        for r in cat.read("q__admitted").collect()
        if r.source == "srcX"
    ]
    assert len(srcx) == 4  # no doubled rows from the crashed append
    counts = {
        r.source: r.n_admitted for r in cat.read("q__counts").collect()
    }
    assert counts["srcX"] == 4
