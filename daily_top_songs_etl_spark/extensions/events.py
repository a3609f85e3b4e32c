"""Event-stream analytics operators: cohort retention, funnels, rolling
time-range windows.

These extend the reference's daily-snapshot time-series semantics
(`ranking_tb`, reference create_schema_structure.sql:55-70; the LAG-based
delta view, create_schema_behavior.sql:128-156) to the event-log shape a
training-data pipeline works with: arbitrary-cadence user events rather
than one row per (date, platform, rank).

Scale notes (100 TB):

- ``cohort_retention`` shuffles on ``user_id`` twice (first-touch agg +
  the distinct pass) and once on the tiny (cohort, offset) key; every
  aggregate is two-phase so shuffle volume is bounded by distinct
  (user, week) pairs, not raw events.
- ``funnel_steps`` is a chain of per-user min-aggregates and broadcast-able
  joins: each stage's survivor set only shrinks, so stage k's join input
  is bounded by stage k-1's user count.
- ``rolling_range_sum`` is one shuffle on the partition key; the RANGE
  frame is evaluated with a sliding two-pointer over each partition's
  sort order, O(rows) per partition, state bounded by the frame span.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cohort_retention",
    "cumulative_distinct",
    "funnel_steps",
    "rolling_range_sum",
]


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention matrix.

    Each user is assigned to the ISO week of their first event (the
    cohort); the result counts, for every (cohort_week, week_offset),
    how many of that cohort's users were active ``week_offset`` weeks
    after their first week.

    Returns ``(cohort_week date, week_offset int, active_users bigint)``.
    """
    week = F.date_trunc("week", F.col(ts_col))
    active = events.select(F.col(user_col).alias("user_id"), week.alias("week")).distinct()
    first = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        active.join(first, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("active_users"))
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel conversion: users who performed ``steps[0]``, then
    ``steps[1]`` strictly after it, then ``steps[2]`` strictly after
    that, and so on.

    Returns one row per funnel stage:
    ``(step_index int, step string, users bigint)`` where ``users`` is
    the number of users whose earliest qualifying completion of this
    step follows their qualifying completion of the previous step.

    NULL timestamps: every stage, step 0 included, excludes events whose
    ``ts`` is NULL. Such an event completes no step and follows no
    earlier one, so a user whose step-0 events all have a NULL ``ts`` is
    counted at no stage; a user with another, timestamped step-0 event
    is counted from that event on.

    Single-shuffle shape (round 12, guide §2.1/§2.4 — the ClickHouse
    ``windowFunnel`` plan): the previous per-stage chain of
    filter→join→min-aggregate branches re-derived stage i inside every
    later stage AND inside its own count branch (the union'd plan held
    ~6 scans of the events table and 22 exchanges at 3 steps, with no
    exchange reuse under AQE). Now ONE pass: filter to step-typed
    events, ONE shuffle keyed on the user collecting the sorted
    (ts, type) array, then a linear fold per user computes every
    stage's earliest qualifying timestamp — t_i = first event of type
    steps[i] strictly after t_{i-1} — which over a ts-sorted array is
    exactly the chained-min semantics the per-stage joins computed
    (verified against the DuckDB oracle). One corpus scan and one
    exchange regardless of step count, instead of O(steps²) scan work.

    Skew note: the per-user array holds that user's step-typed events;
    a pathological single user with a large fraction of the corpus
    would concentrate in one task (the standard funnel-operator
    caveat — salt or pre-cap per-user events if such a key exists).
    """
    if not steps:
        raise ValueError("funnel_steps requires at least one step")
    n = len(steps)
    ts_type = events.schema[ts_col].dataType

    per_user = events.filter(
        F.col(type_col).isin(list(set(steps)))
    ).groupBy(F.col(user_col).alias("user_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("ts"), F.col(type_col).alias("t")
                )
            )
        ).alias("evs")
    )

    def _upd(a, e, i: int):
        cond = a[f"t{i}"].isNull() & (e["t"] == F.lit(steps[i]))
        if i > 0:
            cond = (
                cond
                & a[f"t{i-1}"].isNotNull()
                & (e["ts"] > a[f"t{i-1}"])
            )
        return F.when(cond, e["ts"]).otherwise(a[f"t{i}"])

    acc0 = F.struct(
        *[F.lit(None).cast(ts_type).alias(f"t{i}") for i in range(n)]
    )
    folded = per_user.select(
        F.aggregate(
            "evs",
            acc0,
            lambda a, e: F.struct(
                *[_upd(a, e, i).alias(f"t{i}") for i in range(n)]
            ),
        ).alias("f")
    )
    counts = folded.agg(
        *[F.count(F.col(f"f.t{i}")).alias(f"c{i}") for i in range(n)]
    )
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("step_index"),
                        F.lit(step).alias("step"),
                        F.col(f"c{i}").cast("bigint").alias("users"),
                    )
                    for i, step in enumerate(steps)
                ]
            )
        ).alias("r")
    ).select("r.*")


def rolling_range_sum(
    df: DataFrame,
    partition_col: str,
    ts_col: str,
    value_col: str,
    window_seconds: int,
    out_sum: str = "rolling_sum",
    out_count: str = "rolling_count",
) -> DataFrame:
    """Time-RANGE rolling aggregate: for every row, the exact-decimal sum
    and count of ``value_col`` over the preceding ``window_seconds``
    (inclusive of the current row) within the same partition key.

    A RANGE frame (value-based, on epoch seconds) — not ROWS — so rows
    sharing a timestamp are frame-peers and the result is deterministic
    under ties. The sum is carried as DECIMAL so the engine's
    accumulation order can never change the output (cross-engine
    determinism rule).
    """
    tsec = F.col(ts_col).cast("long")
    w = (
        Window.partitionBy(partition_col)
        .orderBy(tsec)
        .rangeBetween(-window_seconds, Window.currentRow)
    )
    val: Column = F.col(value_col).cast("decimal(18,6)")
    return df.select(
        "*",
        F.sum(val).over(w).cast("double").alias(out_sum),
        F.count(F.lit(1)).over(w).alias(out_count),
    )


def cumulative_distinct(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    value_col: str,
    out_col: str = "distinct_so_far",
) -> DataFrame:
    """Running COUNT(DISTINCT value) over an ordered per-key window —
    which no SQL engine supports directly (DISTINCT is illegal inside a
    window frame). Rewritten as two plain windows: flag each (key,
    value)'s first occurrence with row_number, then running-sum the
    flags.

    ``order_cols`` must make the order total (include a unique
    tie-breaker like the event id) or the running values at ties would
    be nondeterministic.

    Scale: two window passes — one on (key, value) for the
    first-occurrence flag, one on key for the running sum; both are
    linear per partition with O(1) state.
    """
    first_w = Window.partitionBy(partition_col, value_col).orderBy(*order_cols)
    run_w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag = (F.row_number().over(first_w) == 1).cast("int")
    return df.withColumn(out_col, F.sum(flag).over(run_w))


def interval_coverage(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    interval_seconds: int = 300,
) -> DataFrame:
    """Per-key total covered time of the UNION of event intervals (each
    event opens ``interval_seconds``): merge overlapping intervals with
    the island technique — an interval starts a new island when its
    start exceeds the running max end of everything before it — then
    sum island spans. The utilization/dwell-time metric concurrency
    counts can't give you (ten overlapping sessions cover the same
    five minutes once).

    Scale shape: all windows partition by key (per-key sweeps, no
    global sort); arithmetic is exact BIGINT microseconds, so the
    totals are engine-reproducible. Returns (key, n_events, n_islands,
    covered_us).
    """
    iv = events.select(
        F.col(key_col).alias("k"),
        F.unix_micros(F.col(ts_col)).alias("s"),
        (
            F.unix_micros(F.col(ts_col))
            + F.lit(interval_seconds).cast("bigint") * 1_000_000
        ).alias("e"),
    )
    w = Window.partitionBy("k").orderBy("s", "e")
    prev_max_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    islands = flagged.groupBy("k", "island").agg(
        (F.max("e") - F.min("s")).alias("span"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return islands.groupBy("k").agg(
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum("span").cast("bigint").alias("covered_us"),
    ).select(
        F.col("k").alias(key_col), "n_events", "n_islands", "covered_us"
    )


def transition_matrix(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """First-order event-transition matrix: counts of consecutive
    (from → to) event-type pairs within each key's timeline, plus the
    row-normalized share — the empirical Markov chain behind funnel
    design and next-event prediction baselines.

    One per-key lag window (total order via the tie-break columns —
    equal timestamps would otherwise make the chain nondeterministic),
    one |types|² aggregate. Shares are single divisions from exact
    counts. Returns (from_type, to_type, n, share).
    """
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    pairs = (
        events.withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("__t")
    )
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("__t").cast("double")).alias(
            "share"
        ),
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Top-k session paths: gap-based sessions (same boundary rule as
    ``operators.sessionize``), each session's ordered event-type
    sequence joined into a path string, ranked by frequency — the
    "what do users actually do" artifact funnel hypotheses come from.

    Determinism: the per-session collect is sorted on (ts, tiebreak)
    structs BEFORE joining (a bare collect_list is partition-order
    nondeterministic); top-k is TakeOrderedAndProject with path
    tie-break. Per-user windows and a path-keyed aggregate — no global
    sort of the corpus."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.expr(f"INTERVAL {int(gap_minutes)} MINUTE")
    prev = F.lag(ts_col).over(w)
    is_new = (prev.isNull() | (F.col(ts_col) > prev + gap)).cast("bigint")
    sess = events.withColumn("__sid", F.sum(is_new).over(run))
    paths = sess.groupBy(user_col, "__sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(ts_col, tiebreak_col, type_col)
                    )
                ),
                lambda x: x[type_col],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    top = counts.orderBy(F.desc("n"), F.asc("path")).limit(k)
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return top.withColumn(
        "rank", F.row_number().over(wr).cast("int")
    )
