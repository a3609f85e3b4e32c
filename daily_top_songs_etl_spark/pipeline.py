"""Daily micro-batch orchestration — the ETL ``main()`` re-expressed.

The reference's load phase (``etl_pipeline.py:874-1034``) runs four upserts
over two FK-ordered waves on two pooled connections, then Postgres triggers
fire per row. Here the same DAG is one declarative batch:

    daily_batch (nested, rank-ordered)
      ├─ explode artists        → upsert artist           (wave 1)
      ├─ project song fields    → merge_song              (wave 1)
      ├─ explode (isrc,artist)  → upsert artist_song_map  (wave 2)
      └─ positional ranks (P6)  → validate → upsert ranking (wave 2)
    then maintain() (T1→T2→T3) and CSV mirrors of each RETURNING delta.

The FK barrier survives as operator ordering (dims before facts); the
reference's connection-pool parallelism is subsumed by Spark scheduling
(SURVEY.md §3.1). Under Structured Streaming the same function is the
``foreachBatch`` body (streaming/daily_stream.py).

Once per run: ``run_daily_batch`` evaluates its input batch exactly once.
It persists the batch on entry (unless the caller already did), so the
upsert waves, the date collect and the mirror read the cached rows
instead of re-running the caller's lineage (a ``createDataFrame`` batch
is a Python RDD: every re-run is a Python-worker pass). Each dimension's
RETURNING set is cached as well, so the maintain pins and the CSV mirror
share one anti-join. All of these caches are released before the call
returns; the returned deltas stay lazy over the caller's batch.

A fifth table rides the same commit: ``song_last_charted(isrc,
last_date)``, ``max(ranking_date)`` per isrc of the committed fact, the
state T2 probes instead of scanning the fact (operators/maintain.py).
Each run updates it as ``max(state, inserted rows)`` and maintain()
applies T1's cutoff to it. Its ``_meta.json`` records the ``ranking``
version it describes. A run trusts the state only when that version is
the current one; otherwise (no state yet, a seed load, or a ``ranking``
commit by any other writer) maintain() derives it once from the fact
and the run commits it. A writer that appended to ``ranking`` in place
(``Catalog.append*``) would keep the version and so is not detected;
nothing appends to ``ranking``.

No-change path: a batch none of whose RETURNING sets can be non-empty
(an exact replay of a committed day) commits nothing, as ``ON CONFLICT
DO NOTHING`` fires no trigger in the reference. ``run_daily_batch``
returns empty deltas, runs no cascade, appends no mirror and publishes no
version of any table. It decides this from the batch's rows (the one
collect it takes anyway) and at most one probe job, and only when all of
these hold:

- the last-charted state is trusted (above);
- each dimension snapshot is the one a run published. A run writes
  ``{"daily_batch_version": v}`` into each dimension's ``_meta.json``,
  ``v`` being the version that snapshot is published as. Any other
  writer's snapshot names no version, or, if it copied ``read_meta()``
  into ``write(meta=...)``, the version before its own. Without an
  insert the full path's only effect is T2/T3 GC, and a run's
  dimensions are already GC-closed against the state it commits, so the
  guard is what makes skipping the cascade exact. In-place appends keep
  the version, as for ``ranking``; nothing appends to the dimensions;
- every batch date is a committed ``ranking`` partition (a listing);
- the probe, one collect over ``ranking`` (pruned to the batch's dates),
  ``song``, ``artist_song_map`` and ``artist`` filtered to the batch's
  keys, finds every key the upserts would insert and no NULL
  ``apple_music_url`` that ``merge_song`` would patch.

A row that fails validation is never in ``ranking``, so a batch holding
one takes the full path, which gives the same tables: the gate is
conservative, never wrong.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .pins import release_new_pins, snapshot_pins
from .operators.maintain import Tables, last_charted, maintain, retention_cutoff
from .operators.topk import assign_positional_ranks
from .operators.upsert import merge_song, upsert
from .operators.validate import validate_ranking
from .sources.sinks import write_csv_mirror


#: the last-charted state's table (module docstring)
LAST_CHARTED = "song_last_charted"
#: the dimension tables every run publishes together
DIMENSIONS = ("artist", "song", "artist_song_map")
#: a dimension ``_meta.json`` key: the version a run published the
#: snapshot as (module docstring, no-change path)
PUBLISHED_AS = "daily_batch_version"


def _last_charted_version(catalog: Catalog) -> int | None:
    """The ``ranking`` version the committed last-charted state
    describes (None without a state)."""
    return (catalog.read_meta(LAST_CHARTED) or {}).get("ranking_version")


def _dims_published_by_a_run(catalog: Catalog) -> bool:
    """Whether each dimension's current snapshot names its own version
    under :data:`PUBLISHED_AS`, as only a run's commit writes it."""
    for table in DIMENSIONS:
        v = catalog.current_version(table)
        if v is None or (catalog.read_meta(table) or {}).get(PUBLISHED_AS) != v:
            return False
    return True


def _nothing_new(catalog: Catalog, rows: list, batch_dates: list) -> bool:
    """Whether no upsert wave of a batch inserts or patches a row: every
    ``(isrc, date, source)`` key is in ``ranking``, every isrc in
    ``song`` without a NULL ``apple_music_url`` that a batch row could
    fill (``merge_song``), every artist in ``artist`` and every
    ``(artist, isrc)`` pair in ``artist_song_map``. ``rows`` are the
    batch rows :func:`run_daily_batch` collects. One collect reads the
    four tables filtered to the batch's keys, so it returns at most a
    batch's worth of rows per table."""
    isrcs = sorted({r.isrc for r in rows} - {None})
    pairs = {(a, r.isrc) for r in rows for a in r.artist_ids or ()}
    has_isrc = F.col("isrc").isin(isrcs)
    no_str, no_date = F.lit(None).cast("string"), F.lit(None).cast("date")
    probe = (
        catalog.read("ranking")
        .filter(F.col("ranking_date").isin(batch_dates) & has_isrc)
        .select(F.lit("ranking"), "isrc", "ranking_source", "ranking_date")
        .union(
            catalog.read("song")
            .filter(has_isrc)
            .select(F.lit("song"), "isrc", "apple_music_url", no_date)
        )
        .union(
            catalog.read("artist_song_map")
            .filter(has_isrc)
            .select(F.lit("artist_song_map"), "isrc", "artist_id", no_date)
        )
        .union(
            catalog.read("artist")
            .filter(F.col("artist_id").isin(sorted({a for a, _ in pairs} - {None})))
            .select(F.lit("artist"), "artist_id", no_str, no_date)
        )
    )
    found: dict[str, list] = {t: [] for t in ("ranking", *DIMENSIONS)}
    for table, *key in probe.collect():
        found[table].append(key)
    url = {isrc: u for isrc, u, _ in found["song"]}
    return (
        {(r.isrc, r.ranking_date, r.source) for r in rows}
        <= {(isrc, d, src) for isrc, src, d in found["ranking"]}
        and all(r.isrc in url for r in rows)
        and all(url[r.isrc] is not None for r in rows if r.apple_music_url is not None)
        and {a for a, _ in pairs} <= {a for a, _, _ in found["artist"]}
        and pairs <= {(a, isrc) for isrc, a, _ in found["artist_song_map"]}
    )


@dataclass
class BatchDeltas:
    """The RETURNING sets — what the reference mirrors to CSV (Q10)."""

    artist: DataFrame
    song_inserted: DataFrame
    song_updated: DataFrame
    artist_song_map: DataFrame
    ranking: DataFrame


def _utc_today() -> dt.date:
    """The load date the reference stamps, ``now(UTC).date()``
    (``etl_pipeline.py:843``)."""
    return dt.datetime.now(dt.timezone.utc).date()


def run_daily_batch(
    catalog: Catalog, daily_batch: DataFrame, csv_mirror_dir: str | None = None
) -> BatchDeltas:
    """Apply one daily batch (DAILY_BATCH schema) to the star schema.

    The batch is evaluated once (see the module docstring). A batch the
    caller already persisted keeps its cache after the call.

    A batch that can insert or patch nothing (an exact replay) takes the
    no-change path: it returns empty deltas and publishes no version of
    any table, writes no mirror file and runs no cascade. The gate is the
    trusted last-charted state, dimension snapshots that a run published
    (their ``daily_batch_version`` guard), batch dates that are all
    committed ``ranking`` partitions, and one probe collect that finds
    every batch key already stored (module docstring). Any other batch
    takes the full path."""
    owns_cache = daily_batch.storageLevel == StorageLevel.NONE
    if owns_cache:
        daily_batch.persist()
    sc = daily_batch.sparkSession.sparkContext
    cached: list[DataFrame] = []
    pre_pin_ids = None
    try:
        artist_t = catalog.read("artist")
        song_t = catalog.read("song")
        map_t = catalog.read("artist_song_map")
        ranking_t = catalog.read("ranking")
        state_valid = (
            catalog.exists("ranking")
            and _last_charted_version(catalog) == catalog.current_version("ranking")
        )

        # Wave 1a — artists: explode the nested struct array (P5,
        # etl_pipeline.py:607-611), upsert on artist_id.
        artist_batch = daily_batch.select(F.explode("artists").alias("a")).select(
            "a.artist_id", "a.artist_name"
        )
        artist_res = upsert(artist_t, artist_batch, ["artist_id"])

        # Wave 1b — songs: merge (patch apple url when newly known) + insert.
        song_batch = daily_batch.select(
            "isrc",
            "song_name",
            "song_duration_ms",
            "is_explicit",
            "spotify_url",
            "apple_music_url",
        )
        song_res = merge_song(song_t, song_batch)

        # Wave 2a — bridge rows (P5, etl_pipeline.py:781-785).
        map_batch = daily_batch.select(
            "isrc", F.explode("artists").alias("a")
        ).select("a.artist_id", "isrc")
        map_res = upsert(map_t, map_batch, ["artist_id", "isrc"])

        # Each dimension's RETURNING set is computed once: the maintain
        # pins below build these caches as a side effect (the new table
        # states union them in), and the CSV mirror reads them back
        # instead of re-running the anti-join. Spark plans a cached query
        # without AQE partition coalescing by default, which would keep
        # each delta in spark.sql.shuffle.partitions slices and add up to
        # that many small files to every dimension snapshot per day
        # (tools/maintain_replay_bench.py 1, local[32] on a 4-core x86
        # host: tasks per day grew 790/964/1004 without coalescing,
        # 449/459/470 with it). So the cached plans are built with
        # coalescing allowed.
        cached = [artist_res.inserted, song_res.inserted, map_res.inserted]
        conf = daily_batch.sparkSession.conf
        coalesce_key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        coalesce_was = conf.get(coalesce_key)
        conf.set(coalesce_key, "true")
        try:
            for df in cached:
                df.cache()
        finally:
            conf.set(coalesce_key, coalesce_was)

        # Wave 2b — fact rows: positional rank (P6), validated (F8). The
        # reference stamps now(UTC).date() once at load time
        # (etl_pipeline.py:843); a replayed/streamed batch may instead
        # carry its own ``batch_date`` column (backlog drains keep their
        # original dates). The load date is a literal, not
        # F.current_date(), which every Spark action would evaluate anew:
        # a run crossing UTC midnight would stamp and conflict-check
        # different days.
        date_col = (
            F.col("batch_date")
            if "batch_date" in daily_batch.columns
            else F.lit(_utc_today())
        )
        facts = assign_positional_ranks(daily_batch).select(
            "isrc",
            date_col.cast("date").alias("ranking_date"),
            "rank",
            F.col("source").alias("ranking_source"),
        )
        # The batch's keys, from the first action on the persisted batch
        # (it fills the cache: no extra pass over the caller's lineage).
        # Taken before validation, whose F8 check reads current_date and
        # so may differ between actions; a superset of the inserted
        # dates keeps the pruned conflict check exact either way. The
        # same rows decide the no-change path below.
        rows = daily_batch.select(
            "isrc",
            date_col.cast("date").alias("ranking_date"),
            "source",
            "apple_music_url",
            F.col("artists.artist_id").alias("artist_ids"),
        ).collect()
        batch_dates = sorted({r.ranking_date for r in rows} - {None})
        ranking_batch = validate_ranking(facts)
        # The key contains ranking_date, so only rows on the batch's
        # dates can conflict: the anti-join reads those partitions only.
        # The pruned table state is never used — the fact union below is
        # built from the full ranking_t.
        ranking_res = upsert(
            ranking_t.filter(F.col("ranking_date").isin(batch_dates)),
            ranking_batch,
            ["isrc", "ranking_date", "ranking_source"],
        )

        # The no-change path (module docstring): the gate's driver-side
        # checks first, so a new day, whose date is no partition yet,
        # runs no probe.
        if (
            state_valid
            and _dims_published_by_a_run(catalog)
            and set(batch_dates) <= set(catalog.partition_values("ranking"))
            and _nothing_new(catalog, rows, batch_dates)
        ):
            # limit(0) keeps each delta's schema and plans as an empty
            # relation, so reading it runs no anti-join
            return BatchDeltas(
                artist=artist_res.inserted.limit(0),
                song_inserted=song_res.inserted.limit(0),
                song_updated=song_res.updated.limit(0),
                artist_song_map=map_res.inserted.limit(0),
                ranking=ranking_res.inserted.limit(0),
            )

        # Pin the batch-sized RETURNING set once: the date listing, the
        # fact union, the mirror and the staged write all consume it, and
        # each would otherwise re-run the anti-join against the batch's
        # date partitions.
        ranking_ins = ranking_res.inserted.localCheckpoint(eager=True)
        # One collect of the inserted dates (one value per touched day,
        # never NULL after validate_ranking), deduplicated here rather
        # than by a distinct() job, serves both the trigger's
        # NEW.ranking_date and the commit's touched partitions.
        inserted_dates = sorted(
            {r[0] for r in ranking_ins.select("ranking_date").collect()}
        )
        # Snapshot the persisted-RDD ids AFTER the (kept) ranking pin and
        # BEFORE maintain()'s dimension pins: DataFrame.unpersist() is a
        # no-op for localCheckpoint blocks (it only clears CacheManager
        # entries — the same gap bench.py works around), so the precise
        # way to release the dim pins after the commit is to unpersist
        # exactly the RDD ids maintain() adds. Single-writer, like the
        # catalog.
        pre_pin_ids = snapshot_pins(sc)

        # The last-charted state of the fact after the insert:
        # max(committed state, inserted rows) per isrc. An untrusted
        # state is left to maintain() to derive from the fact. Both
        # inputs are bounded by the rank domain (ranks × sources ×
        # retained days), so the merge runs in one partition, which
        # already satisfies the aggregate's distribution: no shuffle.
        state = None
        if state_valid:
            state = last_charted(
                catalog.read(LAST_CHARTED)
                .select("isrc", F.col("last_date").alias("ranking_date"))
                .unionByName(ranking_ins.select("isrc", "ranking_date"))
                .coalesce(1)
            )

        # Trigger cascade (T1→T2→T3) relative to the batch's max date.
        new_max_date = max(inserted_dates, default=None)
        tables = maintain(
            Tables(
                artist=artist_res.table,
                song=song_res.table,
                artist_song_map=map_res.table,
                ranking=ranking_t.unionByName(ranking_ins),
                song_last_charted=state,
            ),
            new_max_date,
        )

        # Persist. The dimension deltas are cached and the fact delta
        # pinned before the table swap, so the mirror reflects exactly
        # what was inserted.
        deltas = BatchDeltas(
            artist=artist_res.inserted,
            song_inserted=song_res.inserted,
            song_updated=song_res.updated,
            artist_song_map=map_res.inserted,
            ranking=ranking_ins,
        )
        if csv_mirror_dir:
            from . import schemas

            for name, df in (
                ("artist", deltas.artist),
                ("song", deltas.song_inserted),
                ("artist_song_map", deltas.artist_song_map),
                ("ranking", deltas.ranking),
            ):
                write_csv_mirror(
                    df,
                    os.path.join(csv_mirror_dir, name),
                    columns=schemas.TABLE_SCHEMAS[name].fieldNames(),
                )

        # One snapshot-consistent commit across all four tables (and the
        # last-charted state) — the Spark analog of the reference
        # wrapping its four upsert waves in a single Postgres
        # transaction (etl_pipeline.py:898-911). Sequential catalog.write
        # calls left a crash window where the new song table was visible
        # next to the old artist_song_map; commit_tables publishes them
        # all under one intent manifest with roll-forward recovery.
        #
        # The fact table commits PARTITION-SCOPED: a daily batch touches
        # the batch's date partitions and the T1 purge drops a trailing
        # date range — every other partition is byte-identical to the
        # current snapshot and is staged as a hardlink (manifest reuse on
        # an object store), not rewritten. At 100 TB this is the
        # difference between a one-partition write and a full-table
        # rewrite per day; at the 10x replay it cut the per-day wall 2.2x
        # (BENCH_sf1.json maintain_replay_round9). Dimension tables stay
        # full snapshot writes — they are broadcast-sized by the data
        # model.
        #
        # Hold the writer lock across the WHOLE stage+commit sequence:
        # each catalog method self-locks, but the staged fact version and
        # the manifest publication below are one logical transaction — a
        # second concurrent run_daily_batch interleaving between them
        # could overwrite the staged version dir. With the explicit hold
        # (reentrant for the nested calls), the second writer fails
        # loudly at its first mutation instead (ConcurrentWriterError —
        # the serialization the reference gets from Postgres row locks).
        with catalog.writer_lock():
            return _commit_batch(
                catalog, tables, deltas, inserted_dates, new_max_date
            )
    finally:
        # Release this run's caches: the dimension deltas first (they
        # are built over the cached batch, and uncaching the batch first
        # would re-plan any of them not yet filled), then the batch
        # unless the caller owns its cache. Then the dimension pins
        # (their data is committed to parquet; a long-lived foreachBatch
        # session would otherwise accumulate checkpoint blocks until GC
        # thrash — the effect bench.py measured). ranking_ins's pin
        # predates the snapshot and stays alive: it is returned in
        # deltas and is batch-sized.
        for df in cached:
            df.unpersist()
        if owns_cache:
            daily_batch.unpersist()
        if pre_pin_ids is not None:
            release_new_pins(sc, pre_pin_ids, "run_daily_batch")


def _commit_batch(catalog, tables, deltas, inserted_dates, new_max_date):
    """The snapshot-consistent publication tail of :func:`run_daily_batch`
    (runs under the caller's held writer lock — the nested catalog calls
    below re-enter it). The partition bookkeeping is driver metadata:
    the touched dates come from the caller's one collect, and the purged
    dates from the snapshot's ``ranking_date=`` directory names. The
    last-charted state is written whenever ``ranking`` gets a new
    version or the committed state does not describe the current one."""
    dims = {t: getattr(tables, t) for t in DIMENSIONS}
    # Each dimension names the version it is published as (the
    # no-change path's guard): commit_tables stages every table at its
    # pointer + 1 (Catalog._write_version), and the writer lock the
    # caller holds keeps the pointers where they are until then.
    metas = {t: {PUBLISHED_AS: (catalog.current_version(t) or 0) + 1} for t in dims}
    staged = {}
    if not catalog.exists("ranking"):
        staged["ranking"] = catalog.stage_table(tables.ranking, "ranking")
    else:
        if new_max_date is not None:
            # the same cutoff maintain()'s T1 filter applied
            cutoff = retention_cutoff(new_max_date)
            purged = [d for d in catalog.partition_values("ranking") if d <= cutoff]
            touched = [d for d in inserted_dates if d > cutoff]
        else:
            purged, touched = [], inserted_dates
        # With nothing touched or purged, ranking is bit-identical to the
        # current snapshot and only the dimensions commit (their upsert
        # deltas may be non-empty). touched is never empty otherwise: a
        # purge implies >=1 inserted row, and the max inserted date is
        # always > its own 1-year cutoff.
        if touched or purged:
            staged["ranking"] = catalog.stage_partition_delta(
                tables.ranking.filter(F.col("ranking_date").isin(touched)),
                "ranking",
                touched,
                drop=purged,
            )
    ranking_v = staged.get("ranking", catalog.current_version("ranking"))
    if ranking_v != _last_charted_version(catalog):
        dims[LAST_CHARTED] = tables.song_last_charted
        metas[LAST_CHARTED] = {"ranking_version": ranking_v}
    catalog.commit_tables(dims, metas, staged=staged)
    return deltas
