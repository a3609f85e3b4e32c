"""Standalone Spark-vs-DuckDB oracle sweep over any dataset directory —
the same compare as tests/test_oracle.py, packaged to run against the
10x scale datasets where pytest's materialize-everything harness OOMs.

Corpus-sized result sets are the problem, not the engines: the compare
collects both engines' full results into Python, and a 10x corpus makes
a handful of per-token/per-row outputs (regex_extract, explode, ...)
tens of millions of rows. This tool counts the Spark result first and
SKIPS (recording the name) any query above --max-rows instead of
thrashing; DuckDB runs under an explicit memory limit with disk spill.

Usage:
  python tools/oracle_sweep.py [SF_DIR] [--max-rows N] [--out FILE]

Prints one JSON line: {"sf_dir", "green": [...], "red": [...],
"skipped_large": [...], "rows_only_skipped": [...]} and exits non-zero
if anything is red.
"""
from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    if v is None:
        return "N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _mset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def _checksum_compare(sdf, con, oracle_sql: str, n_rows: int):
    """Order-insensitive multiset compare WITHOUT materializing either
    result: both engines reduce each row to a 60-bit integer (the first
    15 hex digits of md5 over the '|'-joined, name-sorted, N-for-NULL
    stringified columns — the same canonical form the full compare
    uses) and sum those with EXACT accumulators (decimal(38) on the
    Spark side, HUGEINT in DuckDB — no row cap needed); counts and
    checksum sums must match.

    Eligible columns: integral, string, and DOUBLE — doubles are
    canonicalized as CAST(round(x*1e6, 0) AS BIGINT) on BOTH sides
    (every engine face emits round(x, 6) doubles by convention, so the
    micro-scaling is lossless; the never-exactly-.5 argument: a
    round(,6) value times 1e6 is integral up to representation epsilon,
    so the final round never lands on a half). Dates/timestamps remain
    ineligible (stringification differs). Returns True/False, or None
    if the query is not eligible."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ok_types = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
        T.DoubleType, T.FloatType,
    )
    if not all(
        isinstance(f.dataType, ok_types) for f in sdf.schema.fields
    ):
        return None
    cols = sorted(sdf.columns)
    fdict = {f.name: f.dataType for f in sdf.schema.fields}

    def scanon(c):
        if isinstance(fdict[c], (T.DoubleType, T.FloatType)):
            return F.round(F.col(c).cast("double") * 1e6, 0).cast(
                "bigint"
            ).cast("string")
        return F.col(c).cast("string")

    parts = [F.coalesce(scanon(c), F.lit("N")) for c in cols]
    h = (
        F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10)
        .cast("bigint") % F.lit(1_000_000_000_000)
    )
    srow = sdf.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).first()

    def dcanon(c):
        if isinstance(fdict[c], (T.DoubleType, T.FloatType)):
            return (
                f"CAST(CAST(round(CAST({c} AS DOUBLE)*1e6, 0) AS BIGINT)"
                f" AS VARCHAR)"
            )
        return f"CAST({c} AS VARCHAR)"

    dparts = ", ".join(f"coalesce({dcanon(c)}, 'N')" for c in cols)
    drow = con.execute(
        f"SELECT CAST(count(*) AS BIGINT), "
        f"CAST(sum(CAST(concat('0x', substring(md5(rowstr), 1, 15)) "
        f"AS BIGINT) % 1000000000000) AS HUGEINT) "
        f"FROM (SELECT concat_ws('|', {dparts}) AS rowstr "
        f"FROM ({oracle_sql})) _q"
    ).fetchone()
    return (int(srow["n"]), int(srow["s"])) == (int(drow[0]), int(drow[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/tmp/sfx1")
    ap.add_argument("--max-rows", type=int, default=1_500_000)
    ap.add_argument("--mem", default="24GB")
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: sweep only these "
        "(targeted scale verification of new entries)",
    )
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from daily_top_songs_etl_spark.pins import release_new_pins
    from daily_top_songs_etl_spark.session import get_spark

    spark = get_spark(app_name="oracle-sweep", shuffle_partitions=32)
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{args.mem}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown queries: {unknown}", file=sys.stderr)
            return 2
        qs = {n: qs[n] for n in names}
    green, red, skipped, rows_only, vacuous = [], [], [], [], []
    for name, fn in qs.items():
        if name not in oracles:
            rows_only.append(name)
            continue
        try:
            sdf = fn(spark, args.sf_dir)
            n = sdf.count()
            if n > args.max_rows:
                ck = _checksum_compare(sdf, con, oracles[name], n)
                if ck is None:
                    skipped.append({"name": name, "spark_rows": n})
                    print(f"SKIP {name}: {n} rows > cap", flush=True)
                else:
                    (green if ck else red).append(
                        name if ck else {"name": name, "checksum": True}
                    )
                    print(
                        ("OK   " if ck else "RED  ")
                        + f"{name} rows={n} (checksum compare)",
                        flush=True,
                    )
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            if len(srows) == 0 and len(orows) == 0:
                # engines agree on empty — a vacuous 0=0, not a
                # mismatch; surfaced separately so scale-dependent
                # emptiness is visible (the important_parts lesson)
                vacuous.append(name)
                print(f"VAC  {name}: 0 rows on both engines", flush=True)
                continue
            ok = (
                len(srows) == len(orows)
                and sorted(scols) == sorted(ocols)
                and _mset(scols, srows) == _mset(ocols, orows)
            )
        except Exception as exc:  # red with the reason, keep sweeping
            red.append({"name": name, "error": str(exc)[:200]})
            print(f"RED  {name}: {exc}", flush=True)
            continue
        (green if ok else red).append(name if ok else {"name": name})
        print(("OK   " if ok else "RED  ") + f"{name} rows={n}", flush=True)
        release_new_pins(spark.sparkContext, set(), "oracle_sweep")
    result = {
        "sf_dir": args.sf_dir,
        "n_green": len(green),
        "red": red,
        "vacuous_empty": vacuous,
        "skipped_large": skipped,
        "rows_only_skipped": rows_only,
    }
    line = json.dumps(result)
    print(line, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    return 1 if red else 0


if __name__ == "__main__":
    sys.exit(main())
