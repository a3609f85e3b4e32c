"""Physical-plan regression guards (the PLANS.md audit as assertions).

A query that silently loses predicate pushdown, a broadcast, or its
shuffle-free shape still returns correct rows at sf0.01 — these tests make
the PLAN a tested property, because at 100 TB the plan IS the behavior.
"""

from __future__ import annotations

import contextlib
import io
import os

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _formatted_plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned read schema: the 7 consumed columns, nothing else
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_star_join_broadcasts_all_dims(spark):
    plan = _formatted_plan(spark, "star_join_agg")
    # customer, nation, region must broadcast (orders may or may not at
    # larger scale — don't pin it)
    assert plan.count("BroadcastHashJoin") >= 3


def test_winnow_is_shuffle_free(spark):
    plan = _formatted_plan(spark, "text_winnow")
    assert "Exchange" not in plan


def test_topk_uses_window_group_limit(spark):
    plan = _formatted_plan(spark, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_exact_dedup_single_shuffle(spark):
    plan = _formatted_plan(spark, "dedup_exact")
    # one partial+final aggregate pair → exactly one shuffle boundary
    assert plan.count("(") > 0
    exchanges = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l
    ]
    assert len(exchanges) == 1, exchanges


def _shuffle_exchanges(plan: str) -> list[str]:
    return [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l
        and "BroadcastExchange" not in l
    ]


def test_sessionize_single_shuffle(spark):
    # window pass and per-session agg both reuse hashpartitioning(user_id)
    plan = _formatted_plan(spark, "sessionize")
    assert len(_shuffle_exchanges(plan)) == 1


def test_cube_single_shuffle_with_expand(spark):
    # all 4 grouping sets in one pass: Expand before partial agg, 1 shuffle
    plan = _formatted_plan(spark, "cube_agg")
    assert "Expand" in plan
    assert len(_shuffle_exchanges(plan)) == 1


def test_shipping_priority_plan_shape(spark):
    plan = _formatted_plan(spark, "shipping_priority")
    # top-10 must be a per-partition heap, never a global sort
    assert "TakeOrderedAndProject" in plan
    # segment filter applied as a semi-join, all 3 scans filter-pushed
    assert "LeftSemi" in plan
    assert plan.count("PushedFilters: [IsNotNull") == 3


def test_length_percentiles_partitioned_window_single_shuffle(spark):
    # windows partition by lang — never a global single-task sort
    plan = _formatted_plan(spark, "length_percentiles")
    assert len(_shuffle_exchanges(plan)) == 1
    assert "SinglePartition" not in plan


def test_order_count_histogram_histogram_input_preaggregated(spark):
    # ≤2 real shuffles: fact→custkey agg, then one row per customer
    plan = _formatted_plan(spark, "order_count_histogram")
    assert len(_shuffle_exchanges(plan)) <= 2


def test_salted_join_exercises_shuffle_path(spark):
    # force_shuffle pins shuffle-hash so the salted spread is real even
    # at test scale (a broadcast join would make the salt a no-op)
    plan = _formatted_plan(spark, "salted_join_agg")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_text_redact_shuffle_free_no_udf(spark):
    plan = _formatted_plan(spark, "text_redact")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_int8_stats_broadcast(spark):
    # per-dim stats collapse to one row and broadcast; encode never shuffles
    plan = _formatted_plan(spark, "embedding_int8")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_regional_volume_broadcasts_all_dims(spark):
    # Q5 shape: customer/supplier/nation/region all broadcast; the cyclic
    # c_nationkey = s_nationkey condition must NOT force an extra shuffle
    plan = _formatted_plan(spark, "regional_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    # the only shuffle is the final group-by agg (orders side may add one
    # at larger scale — allow ≤2, never a join-key cascade)
    assert len(_shuffle_exchanges(plan)) <= 2
    assert "GreaterThanOrEqual(o_orderdate" in plan  # date pushdown


def test_disjunctive_join_pushes_or_predicate_to_both_scans(spark):
    # Q19 shape: the OR-of-ANDs must reach BOTH parquet scans as a pushed
    # filter (quantity ranges on lineitem, brand/size on part) — losing
    # either side means scanning the full fact at 100 TB
    plan = _formatted_plan(spark, "disjunctive_join")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "Or(" in l]
    assert len(pushed) >= 2, pushed
    bhj_nodes = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "BroadcastHashJoin" in l
    ]
    assert len(bhj_nodes) == 1
    assert len(_shuffle_exchanges(plan)) == 1  # single-row final agg


def test_important_parts_scalar_threshold_broadcasts(spark):
    # Q11 shape: the global total is a 1-row broadcast (nested-loop) join,
    # and AQE reuses the per-part aggregate exchange at runtime so
    # lineitem is aggregated once, not twice
    df = entrymod.queries()["important_parts"](spark, SF_DIR)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan
    assert "ReusedExchange" in plan


def test_lonely_late_supplier_semi_and_anti(spark):
    # Q21 shape: EXISTS → LeftSemi and NOT EXISTS → LeftAnti, both with
    # the <> residual riding the orderkey equi-join (no cross product)
    plan = _formatted_plan(spark, "lonely_late_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_idle_rich_customers_antijoin_prefiltered(spark):
    # Q22 shape: the anti side is pre-filtered at the scan (date pushdown)
    # and the scalar average arrives as a 1-row broadcast
    plan = _formatted_plan(spark, "idle_rich_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_forecast_revenue_all_predicates_pushed(spark):
    # Q6 shape: date range, discount band, and quantity cap all reach the
    # Parquet scan; the aggregate is partial+final over a 1-row result
    plan = _formatted_plan(spark, "forecast_revenue")
    read = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in read and "l_discount" in read and "l_quantity" in read
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24" in plan


def test_returned_items_topk_and_pushdown(spark):
    # Q10 shape: returnflag pushes to the fact scan, the quarter to the
    # orders scan; global top-20 never runs a full sort
    plan = _formatted_plan(spark, "returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_large_volume_customers_aggregates_before_joins(spark):
    # Q18 shape: the HAVING>300 reduction must run before any dim join —
    # the first join input is the filtered aggregate, not raw lineitem
    plan = _formatted_plan(spark, "large_volume_customers")
    # the HAVING filter exists as a post-aggregate Filter...
    assert "> 300" in plan
    # ...and the only non-broadcast exchange is the l_orderkey aggregation:
    # both dim joins see the reduced relation and broadcast
    exchanges = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l
        and "Broadcast" not in l and "Reused" not in l
    ]
    assert len(exchanges) == 1, exchanges
    bhj = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "BroadcastHashJoin" in l
    ]
    assert len(bhj) == 2, bhj
    assert "TakeOrderedAndProject" in plan


def test_rolling_window_range_single_shuffle(spark):
    # one hash exchange on user_id; the RANGE frame runs inside the
    # partition (no SinglePartition global sort)
    plan = _formatted_plan(spark, "rolling_window_range")
    assert "SinglePartition" not in plan
    exchanges = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l and "Reused" not in l
    ]
    assert len(exchanges) == 1, exchanges


def test_scd2_single_join(spark):
    # the keep/close/new rules must ride ONE full-outer join (explode of
    # conditional variants); a filter-per-rule regression re-evaluates
    # the join, re-scanning the open slice three times at scale
    plan = _formatted_plan(spark, "scd2_apply")
    joins = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Join" in l
    ]
    assert len(joins) == 1, joins


def test_bucketed_join_and_agg_have_no_shuffle(spark, tmp_path):
    """Co-bucketed tables join and aggregate on the bucket key with zero
    Exchange operators — the pre-paid-shuffle layout contract."""
    from daily_top_songs_etl_spark.operators.layout import write_bucketed

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "li_b", ["l_orderkey"], 4, str(tmp_path / "li"))
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_b",
        ["l_orderkey"],
        4,
        str(tmp_path / "ord"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        n = joined.count()
        assert n == li.count()  # every lineitem has its order

        agg = spark.table("li_b").groupBy("l_orderkey").count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain("formatted")
        assert "Exchange" not in buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_window_rank_family_single_window_operator(spark):
    """All five ranking functions share one window spec → Catalyst plans
    ONE Window operator fed by ONE exchange, not five."""
    plan = _formatted_plan(spark, "window_rank_family")
    assert plan.count("Window") <= 3  # node + operator-detail lines
    n_exchanges = sum(
        1
        for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l
    )
    assert n_exchanges == 1


def test_flagship_delta_view_matches_lag_and_day_report_prunes_sf01(spark, tmp_path):
    """The flagship delta view over an sf0.1 events-derived ranking table:
    its rows equal the ``lag()`` formulation of the reference
    (create_schema_behavior.sql:128-156), a one-day report prunes both
    sides of the delta self-join to date partitions, and the ranking
    scans are pruned to consumed columns.
    """
    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.operators.topk import top_k_per_group
    from daily_top_songs_etl_spark.plans.report import report_rows
    from daily_top_songs_etl_spark.plans.views import (
        all_rankings_with_delta_view,
    )

    events = entrymod._t(spark, "/root/testdata/sf0.1", "events")
    daily = events.groupBy(
        F.to_date("ts").alias("ranking_date"), "user_id"
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("spend"))
    chart = (
        top_k_per_group(
            daily,
            ["ranking_date"],
            [F.col("spend").desc(), F.col("user_id")],
            10,
        )
        .select(
            "ranking_date",
            F.lit("Spotify").alias("ranking_source"),
            F.format_string("US%010d", "user_id").alias("isrc"),
            "rank",
            F.lit("x").alias("unused_wide_col"),
        )
    )
    root = str(tmp_path / "ranking")
    chart.write.partitionBy("ranking_date").parquet(root)
    ranking = spark.read.parquet(root)

    # Dims are independent tables in the real catalog; materialize them so
    # their derivation doesn't leak shuffles into the view plan under test.
    ranking.select("isrc").distinct().select(
        "isrc",
        F.concat(F.lit("song-"), "isrc").alias("song_name"),
        F.concat(F.lit("https://open.spotify.com/track/"), "isrc").alias(
            "spotify_url"
        ),
        F.lit(None).cast("string").alias("apple_music_url"),
    ).coalesce(1).write.parquet(str(tmp_path / "song"))
    song = spark.read.parquet(str(tmp_path / "song"))
    artist = spark.createDataFrame(
        [(1, "a")], "artist_id long, artist_name string"
    )
    song.select(F.lit(1).alias("artist_id"), "isrc").coalesce(1).write.parquet(
        str(tmp_path / "amap")
    )
    amap = spark.read.parquet(str(tmp_path / "amap"))

    view = all_rankings_with_delta_view(ranking, artist, song, amap)
    w = Window.partitionBy("ranking_source", "isrc").orderBy("ranking_date")
    lag_delta = F.when(
        F.col("ranking_date") == F.date_add(F.lag("ranking_date").over(w), 1),
        F.lag("rank").over(w) - F.col("rank"),
    )
    want = ranking.select(
        F.col("ranking_date").alias("date"),
        F.col("ranking_source").alias("platform"),
        "rank",
        lag_delta.alias("delta"),
    ).collect()
    got = view.select("date", "platform", "rank", "delta").collect()
    assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, want), key=repr)
    assert any(r.delta is not None for r in got) and any(r.delta is None for r in got)

    day = max(r.date for r in got)
    report = report_rows(view, day)
    assert len(report.collect()) == 10
    plan = report._jdf.queryExecution().executedPlan().toString()
    scans = [
        line for line in plan.splitlines()
        if "FileScan" in line and "ranking_date#" in line
    ]
    filters = {
        re.sub(r"#\d+", "", re.search(r"PartitionFilters: \[([^\]]*)", line).group(1))
        for line in scans
    }
    assert filters == {
        f"isnotnull(ranking_date), (ranking_date = {day})",
        f"(date_add(ranking_date, 1) = {day}), isnotnull(date_add(ranking_date, 1))",
    }, plan
    # column pruning reached both scans
    assert scans and not any("unused_wide_col" in line for line in scans)


def test_catalog_date_filter_prunes_partitions(spark, tmp_path):
    """A date-pinned read of the partitioned fact table must prune at the
    source: the scan's PartitionFilters carry the date predicate (the
    reference's index-scan analogue), so a one-day query touches one
    partition directory regardless of table history size."""
    import datetime as dt

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    rows = [
        (f"US{d:02d}{r:04d}", dt.date(2026, 8, d), r, "Spotify")
        for d in (1, 2, 3)
        for r in range(1, 11)
    ]
    cat.write(
        spark.createDataFrame(
            rows,
            "isrc string, ranking_date date, rank int, ranking_source string",
        ),
        "ranking",
    )
    pinned = cat.read("ranking").filter(
        F.col("ranking_date") == dt.date(2026, 8, 2)
    )
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "ranking_date" in scan.split("PartitionFilters", 1)[1].split("]")[0]
    assert pinned.count() == 10


def test_bpe_encode_is_pure_codegen(spark):
    """The chained-merge encode is a projection: no shuffle, no Python
    eval — one whole-stage-codegen span over the scan."""
    plan = _formatted_plan(spark, "bpe_encode")
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_quality_linear_is_pure_codegen(spark):
    plan = _formatted_plan(spark, "quality_linear")
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_mixture_sample_broadcasts_rates_only(spark):
    """The rates table rides a broadcast; the corpus never shuffles."""
    plan = _formatted_plan(spark, "mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert not _shuffle_exchanges(plan), _shuffle_exchanges(plan)


# Suite-wide plan invariants: every registered query, one explain each.
# Queries that run driver-sequenced actions during construction (kmeans,
# BPE train, PQ, the funnel) still participate — their *returned* plan is
# what executes downstream.
_SANCTIONED_PYTHON_EVAL = {
    # the two documented Python-kernel operators (Arrow mapInPandas)
    "multimodal_features",
    "text_compress_ratio",
    "text_normalize",
}


def test_registry_wide_plan_invariants(spark):
    import io as _io

    offenders_python, offenders_cartesian = [], []
    for name, q in entrymod.queries().items():
        df = q(spark, SF_DIR)
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if (
            ("BatchEvalPython" in plan or "ArrowEvalPython" in plan
             or "MapInPandas" in plan)
            and name not in _SANCTIONED_PYTHON_EVAL
        ):
            offenders_python.append(name)
        # BroadcastNestedLoopJoin (bounded side broadcast) is sanctioned;
        # a real CartesianProduct operator is never acceptable.
        if "CartesianProduct" in plan:
            offenders_cartesian.append(name)
    assert not offenders_python, f"row-at-a-time/unsanctioned Python: {offenders_python}"
    assert not offenders_cartesian, f"cartesian products: {offenders_cartesian}"


def test_mixture_upsample_broadcast_only(spark):
    plan = _formatted_plan(spark, "mixture_upsample")
    assert "BroadcastHashJoin" in plan
    assert not _shuffle_exchanges(plan), _shuffle_exchanges(plan)


def test_dedup_segments_apply_two_shuffles(spark):
    """Exactly the two documented exchanges: the first-occurrence window
    on the segment key and the per-document rebuild aggregate."""
    plan = _formatted_plan(spark, "dedup_segments_apply")
    assert len(_shuffle_exchanges(plan)) == 2, _shuffle_exchanges(plan)


def test_git_publication_k7(tmp_path):
    """K7 (etl.yml:41-45, 57-79): CSV mirrors and the rendered README are
    published as git commits with the reference's exact messages; an
    unchanged day creates NO empty commit; history accumulates in the
    workflow's order."""
    import subprocess

    from daily_top_songs_etl_spark.plans.publish import (
        CSV_COMMIT_MESSAGE,
        README_COMMIT_MESSAGE,
        publish_csv_mirrors,
        publish_readme,
    )

    repo = str(tmp_path / "pubrepo")
    os.makedirs(os.path.join(repo, "db", "csv"))
    subprocess.run(["git", "-C", repo, "init", "-q", "-b", "master"], check=True)
    # seed commit so HEAD exists (the reference repo always has history)
    with open(os.path.join(repo, ".gitignore"), "w") as fh:
        fh.write("*.tmp\n")
    subprocess.run(["git", "-C", repo, "add", "."], check=True)
    subprocess.run(
        ["git", "-C", repo, "-c", "user.name=t", "-c", "user.email=t@t",
         "commit", "-q", "-m", "seed"],
        check=True,
    )

    with open(os.path.join(repo, "db", "csv", "ranking.csv"), "a") as fh:
        fh.write('"ISRC1","2026-08-01","1","Spotify"\n')
    sha1 = publish_csv_mirrors(repo)
    with open(os.path.join(repo, "README.md"), "w") as fh:
        fh.write("# Top songs\n")
    sha2 = publish_readme(repo)
    assert sha1 != sha2

    log = subprocess.run(
        ["git", "-C", repo, "log", "--format=%s"],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert log == [README_COMMIT_MESSAGE, CSV_COMMIT_MESSAGE, "seed"]

    # unchanged day: both steps are no-ops, head does not move
    assert publish_csv_mirrors(repo) == sha2
    assert publish_readme(repo) == sha2
    log2 = subprocess.run(
        ["git", "-C", repo, "log", "--format=%s"],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert log2 == log

    # next day's data appends a fresh CSV commit
    with open(os.path.join(repo, "db", "csv", "ranking.csv"), "a") as fh:
        fh.write('"ISRC1","2026-08-02","1","Spotify"\n')
    sha3 = publish_csv_mirrors(repo)
    assert sha3 != sha2


def test_quality_gate_passthrough_filter_is_shuffle_free(spark):
    """The funnel's quality stage (round 3): passthrough gate + inline
    filter must compile to a pure projection+filter over the scan — no
    Exchange, no Python eval. The previous id-set semi-join shuffled the
    corpus twice for identical semantics."""
    import io as _io

    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.extensions.text import quality_gate

    docs = entrymod._t(spark, SF_DIR, "documents")
    staged = (
        quality_gate(docs, passthrough=True)
        .filter(F.col("passes_all"))
        .select(*docs.columns)
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        staged.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_git_publication_push_to_local_remote(tmp_path):
    """The network half of K7 against a LOCAL bare remote: publish with
    remote= pushes the commit; the README step's pull --rebase folds in
    a commit that landed on the remote between the two steps (the race
    the reference's workflow handles at etl.yml:59)."""
    import subprocess

    from daily_top_songs_etl_spark.plans.publish import (
        publish_csv_mirrors,
        publish_readme,
    )

    def git(repo, *args):
        return subprocess.run(
            ["git", "-C", repo, *args], capture_output=True, text=True,
            check=True,
        ).stdout.strip()

    bare = str(tmp_path / "origin.git")
    subprocess.run(
        ["git", "init", "-q", "--bare", "-b", "master", bare], check=True
    )
    repo = str(tmp_path / "clone")
    os.makedirs(os.path.join(repo, "db", "csv"))
    subprocess.run(["git", "-C", repo, "init", "-q", "-b", "master"], check=True)
    git(repo, "remote", "add", "origin", bare)
    with open(os.path.join(repo, "seed.txt"), "w") as fh:
        fh.write("seed\n")
    git(repo, "add", "."); git(
        repo, "-c", "user.name=t", "-c", "user.email=t@t", "commit", "-q",
        "-m", "seed",
    )
    git(repo, "push", "-q", "origin", "master")

    with open(os.path.join(repo, "db", "csv", "ranking.csv"), "w") as fh:
        fh.write('"I1","2026-08-01","1","Spotify"\n')
    sha = publish_csv_mirrors(repo, remote="origin")
    assert git(bare, "rev-parse", "master") == sha  # pushed

    # a commit lands on the remote out-of-band (the CSV step of a
    # parallel run) — the README step must rebase over it, not fail
    other = str(tmp_path / "other")
    subprocess.run(["git", "clone", "-q", bare, other], check=True)
    with open(os.path.join(other, "note.txt"), "w") as fh:
        fh.write("out of band\n")
    git(other, "add", "."); git(
        other, "-c", "user.name=o", "-c", "user.email=o@o", "commit", "-q",
        "-m", "out-of-band",
    )
    git(other, "push", "-q", "origin", "master")

    with open(os.path.join(repo, "README.md"), "w") as fh:
        fh.write("# report\n")
    sha2 = publish_readme(repo, remote="origin")
    assert git(bare, "rev-parse", "master") == sha2
    subjects = git(bare, "log", "--format=%s", "master").splitlines()
    assert subjects[0] == "chore(automated): update readme with daily data"
    assert "out-of-band" in subjects  # rebase preserved the interleaved commit

    # day 2: README.md is now TRACKED and the render modifies it in place.
    # git refuses `pull --rebase` over unstaged changes to a tracked file,
    # so publish must commit before pulling (round-4 fix — previously this
    # raised CalledProcessError exit 128 on every networked run after the
    # first). Another out-of-band commit makes the rebase non-trivial.
    other2 = str(tmp_path / "other2")
    subprocess.run(["git", "clone", "-q", bare, other2], check=True)
    with open(os.path.join(other2, "note2.txt"), "w") as fh:
        fh.write("out of band 2\n")
    git(other2, "add", "."); git(
        other2, "-c", "user.name=o", "-c", "user.email=o@o", "commit", "-q",
        "-m", "out-of-band-2",
    )
    git(other2, "push", "-q", "origin", "master")

    with open(os.path.join(repo, "README.md"), "w") as fh:
        fh.write("# report day 2\n")
    sha3 = publish_readme(repo, remote="origin")
    assert sha3 != sha2
    assert git(bare, "rev-parse", "master") == sha3
    subjects = git(bare, "log", "--format=%s", "master").splitlines()
    assert subjects.count("chore(automated): update readme with daily data") == 2
    assert "out-of-band-2" in subjects
    # the rebased working tree kept the day-2 render
    with open(os.path.join(repo, "README.md")) as fh:
        assert fh.read() == "# report day 2\n"
