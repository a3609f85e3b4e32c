"""The two workloads: ``chart_day`` (the daily ETL) and ``faces`` (registry faces).

Each workload object has ``setup()``, which builds its inputs, and
``warm()``, the rest of the set-up, which returns an error string or
``None``; ``ops()``, which yields ``(label, op)``
pairs, one zero-argument callable per timed operation, in a fixed order
without end (the runner stops after whole groups of ``pass_len``); and
``check(i)``, which compares op ``i``'s output with an independent
reference outside the timed region and returns an error string or
``None``. ``after_op()`` runs untimed between operations.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import shutil
from decimal import Decimal

import chart

HISTORY_END = dt.date(2025, 6, 30)
#: a little over a year of daily charts: the first batch after it (set-up)
#: makes the one-time large retention purge, so that every timed day
#: purges exactly one date partition
HISTORY_DAYS = 380

#: face -> engine layer its execution belongs to. One face per engine
#: module the registry exercises, plus the flagship SQL face.
FACES = {
    "flagship_delta": "entry.sql",
    "dedup_simhash_stripped": "extensions.dedup",
    "kmeans": "extensions.similarity",
    "pq_codes": "extensions.pq",
    "bm25_topk": "extensions.text",
    "pagerank": "extensions.graph",
    "funnel_conversion": "extensions.events",
    "exact_quartiles": "operators.quantiles",
    "ann_index_build": "extensions.ann_index",
    "sketch_stream_state": "streaming.sketch_stream",
}
#: the registry's sf0.01 tables, the data the oracle suite checks the faces on
FACE_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
FACE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _nospan(_name):
    return contextlib.nullcontext()


class ChartDay:
    """One op = one daily batch through the reference's product:
    ``run_daily_batch`` (upserts, T1/T2/T3, partition-scoped commit, CSV
    mirror), a partition-scoped monthly rank view refresh keyed by the
    day, and the markdown leaderboard from the delta view."""

    name = "chart_day"

    def __init__(self, spark, work: str, seed: int, tracer=None):
        from pyspark.sql import types as T

        from daily_top_songs_etl_spark import schemas

        self.spark, self.work, self.seed = spark, work, seed
        self.span = tracer.span if tracer else _nospan
        self.mirror = os.path.join(work, "mirror")
        self.batch_schema = T.StructType(
            schemas.DAILY_BATCH.fields + [T.StructField("batch_date", T.DateType(), False)]
        )
        self.results: dict[int, tuple] = {}

    def setup(self) -> None:
        from daily_top_songs_etl_spark import schemas
        from daily_top_songs_etl_spark.catalog import Catalog
        from daily_top_songs_etl_spark.operators.matview import PartitionedIncrementalView

        spark = self.spark
        self.root = os.path.join(self.work, "catalog")
        self.gen = chart.ChartGenerator(self.seed)
        self.model = chart.ChartModel()
        rows = []
        start = HISTORY_END - dt.timedelta(days=HISTORY_DAYS - 1)
        for i in range(HISTORY_DAYS):
            day = start + dt.timedelta(days=i)
            self.gen.step(day)
            rows += self.gen.rows(day)
        m = self.model
        inserted = m.bulk_load(rows)
        self.cat = Catalog(spark, self.root)
        ranking = spark.createDataFrame(sorted(m.ranking), schemas.RANKING)
        self.cat.commit_tables(
            {
                # one file per date partition, written by all cores
                "ranking": ranking.repartitionByRange(
                    spark.sparkContext.defaultParallelism, "ranking_date"
                ),
                "song": spark.createDataFrame([(k, *v) for k, v in m.song.items()], schemas.SONG),
                "artist": spark.createDataFrame(sorted(m.artist.items()), schemas.ARTIST),
                "artist_song_map": spark.createDataFrame(sorted(m.amap), schemas.ARTIST_SONG_MAP),
            }
        )
        self.view = PartitionedIncrementalView(
            self.cat, "song_month_rank", ["month", "isrc"], "rank", "month"
        )
        self.view.refresh(self._with_month(ranking), "history")
        m.refresh_view(inserted, "history")

    def warm(self) -> str | None:
        """The first batch after the history, which comes after a skipped
        day: it makes the one-time large purge, all its deltas are NULL,
        and it compiles every plan the timed days use."""
        self.days = self._days()
        _, op = next(self.days)
        op()
        return self.check(-1)

    @staticmethod
    def _with_month(df):
        from pyspark.sql import functions as F

        month = F.year("ranking_date") * 100 + F.month("ranking_date")
        return df.withColumn("month", month.cast("int"))

    #: ops are timed in whole groups of this many: a new day (it purges
    #: exactly one date partition) and the replay of its batch
    pass_len = 2

    def ops(self):
        return self.days

    def _days(self):
        prev = HISTORY_END
        rows = None
        # op -1 is the untimed first day (warm); timed ops count from 0
        for i, (day, kind) in enumerate(chart.plan_days(HISTORY_END), start=-1):
            if kind != "replay":
                while prev < day:  # the chart moves on skipped days too
                    prev += dt.timedelta(days=1)
                    self.gen.step(prev)
                rows = self.gen.rows(day)
            yield f"{day.isoformat()}:{kind}", (lambda i=i, day=day, rows=rows: self._op(i, day, rows))

    def _op(self, i: int, day: dt.date, rows: list) -> None:
        from daily_top_songs_etl_spark.pipeline import run_daily_batch
        from daily_top_songs_etl_spark.plans.report import render_markdown, report_rows
        from daily_top_songs_etl_spark.plans.views import all_rankings_with_delta_view

        cat, span = self.cat, self.span
        batch = self.spark.createDataFrame(rows, self.batch_schema)
        with span("pipeline.run_daily_batch"):
            deltas = run_daily_batch(cat, batch, self.mirror)
        with span("operators.matview"):
            applied = self.view.refresh(self._with_month(deltas.ranking), day.isoformat())
        with span("plans.views"):
            view = all_rankings_with_delta_view(
                cat.read("ranking"), cat.read("artist"), cat.read("song"), cat.read("artist_song_map")
            )
        with span("plans.report"):
            got = [r.asDict() for r in report_rows(view, day).collect()]
            md = render_markdown(got, day)
        self.results[i] = (day, rows, applied, got, md)

    def check(self, i: int) -> str | None:
        from daily_top_songs_etl_spark.plans.report import render_markdown

        day, rows, applied, got, md = self.results.pop(i)
        m = self.model
        inserted = m.apply_day(rows)
        if applied != m.refresh_view(inserted, day.isoformat()):
            return f"view refresh returned {applied}; the ledger model disagrees"
        want = m.report(day)
        if got != want or md != render_markdown(want, day):
            return f"leaderboard for {day} differs from the model"
        tables = {
            "ranking": {(r["isrc"], dt.date.fromisoformat(r["ranking_date"]), r["rank"], r["ranking_source"])
                        for r in self._read("ranking")},
            "song": {r["isrc"]: (r["song_name"], r["song_duration_ms"], r["is_explicit"],
                                 r["spotify_url"], r["apple_music_url"]) for r in self._read("song")},
            "artist": {r["artist_id"]: r["artist_name"] for r in self._read("artist")},
            "artist_song_map": {(r["artist_id"], r["isrc"]) for r in self._read("artist_song_map")},
        }
        model = {"ranking": m.ranking, "song": m.song, "artist": m.artist, "artist_song_map": m.amap}
        for name, have in tables.items():
            if have != model[name]:
                return f"table {name} differs from the model after {day}"
        state = {
            (r["month"], r["isrc"]): [r["cnt"], r["sum_val"], r["min_val"], r["max_val"]]
            for r in self._read("song_month_rank")
        }
        want_state = {k: [v[0], Decimal(v[1]), v[2], v[3]] for k, v in m.month_view.items()}
        if state != want_state:
            return f"monthly rank view differs from the model after {day}"
        return None

    def _read(self, table: str) -> list[dict]:
        """The committed snapshot, read with pyarrow (independent of Spark)."""
        import pyarrow.dataset as ds

        return ds.dataset(self.cat.path(table), format="parquet", partitioning="hive").to_table().to_pylist()

    def after_op(self) -> None:
        pass  # a long-lived daily session gets no between-batch hygiene

    def meter_root(self) -> str:
        return self.root


class Faces:
    """One op = one registry face, built and collected; outputs are compared
    with the face's DuckDB oracle after the timed region."""

    name = "faces"

    def __init__(self, spark, work: str, seed: int, tracer=None):
        import __spark_entry__ as entry

        self.spark, self.work, self.seed = spark, work, seed
        self.span = tracer.span if tracer else _nospan
        self.entry = entry
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.results: dict[int, tuple] = {}
        self.n_ops = 0

    def setup(self) -> None:
        import duckdb

        # a private copy, so that the engine's layout split is made afresh
        self.sf_dir = os.path.join(self.work, "data", "sf0.01")
        shutil.copytree(FACE_DATA, self.sf_dir)
        for t in FACE_TABLES:  # the one-time layout split, outside the ops
            self.entry._t(self.spark, self.sf_dir, t).selectExpr("count(*)").collect()
        self.duck = duckdb.connect()
        self.duck.execute("SET threads=1")
        self.duck.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
        for t in FACE_TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")

    pass_len = len(FACES)  # a pass runs every face once, in FACES order

    def warm(self) -> str | None:
        """Scan and shuffle every table once more, so that the session's
        scan, exchange and write paths are compiled before the first face."""
        n = self.spark.sparkContext.defaultParallelism
        for t in FACE_TABLES:
            df = self.entry._t(self.spark, self.sf_dir, t)
            df.repartition(n).write.mode("overwrite").parquet(os.path.join(self.work, "warm", t))
        return None

    def ops(self):
        i = 0
        while True:
            for name in FACES:
                yield name, (lambda i=i, name=name: self._op(i, name))
                i += 1

    def _op(self, i: int, name: str) -> None:
        with self.span("entry.build"):
            df = self.registry[name](self.spark, self.sf_dir)
        with self.span(FACES[name]):
            rows = df.collect()
        self.results[i] = (name, df.columns, rows)

    def check(self, i: int) -> str | None:
        name, cols, rows = self.results.pop(i)
        if not rows:
            return f"{name}: empty result"
        res = self.duck.execute(self.oracles[name])
        dcols = [d[0] for d in res.description]
        if sorted(cols) != sorted(dcols):
            return f"{name}: columns {sorted(cols)} != oracle {sorted(dcols)}"
        got = _multiset(cols, [[r[c] for c in cols] for r in rows])
        if got != _multiset(dcols, res.fetchall()):
            return f"{name}: result differs from the DuckDB oracle"
        return None

    def after_op(self) -> None:
        """Between-face hygiene, as the registry sweep does it; the catalog's
        pending deletions also finish here, not during the next face."""
        from daily_top_songs_etl_spark.catalog import flush_trash

        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        flush_trash()
        self.n_ops += 1
        if self.n_ops % 5 == 0:
            sc._jvm.System.gc()

    def meter_root(self) -> str:
        return os.environ["TMPDIR"]


# The oracle suite's comparison rule, kept here so that the benchmark does
# not change when the test suite is refactored.
def _canon(v) -> str:
    """One cell for an order-insensitive comparison; floats to 9 digits."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _multiset(columns: list[str], rows) -> list[str]:
    """The oracle suite's rule: rows as sorted strings, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (ChartDay, Faces)}
