"""CSV mirror sinks with the reference's exact quoting rules.

Every successful DB write in the reference is mirrored as appended CSV rows
(SURVEY.md §2.2 K3/K4/K5):

- K3 (artist, map): every field double-quoted (``etl_pipeline.py:614-619,
  788-796``).
- K4 (song): non-null fields quoted; ``None`` becomes an **empty unquoted**
  field so Postgres ``\\copy`` round-trips it as NULL (comment at
  ``etl_pipeline.py:732-733``).
- K5 (ranking): dates ISO-formatted before quoting (``:853-871``).

Spark's CSV writer cannot express "quote everything except NULLs", so the
sink builds each line as an explicit string expression (JVM-side, codegen'd)
and writes via the text writer — byte-exact and still distributed. Embedded
quotes are doubled per RFC 4180 (Python ``csv.QUOTE_ALL`` behavior the
reference relies on).
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _quoted(c: Column) -> Column:
    return F.concat(
        F.lit('"'), F.regexp_replace(c.cast("string"), '"', '""'), F.lit('"')
    )


def _field(df: DataFrame, name: str) -> Column:
    dtype = dict(df.dtypes)[name]
    c = F.col(name)
    if dtype == "date":
        c = F.date_format(c, "yyyy-MM-dd")  # K5 isoformat
    elif dtype == "boolean":
        # Python str(bool): 'True' / 'False' (etl_pipeline.py:693,737).
        c = F.when(c, "True").otherwise("False")
    # K4: NULL -> empty UNQUOTED field; non-null -> quoted.
    return F.when(c.isNull(), F.lit("")).otherwise(_quoted(c))


def csv_mirror_lines(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One string column ``line`` per row, in the reference dialect.

    ``columns`` pins the field order (the reference writes DDL order;
    partitioned parquet reads append partition columns last, so positional
    output must never trust ``df.columns``).
    """
    cols = columns or df.columns
    return df.select(
        F.concat_ws(",", *[_field(df, c) for c in cols]).alias("line")
    )


def write_csv_mirror(
    df: DataFrame, path: str, mode: str = "append", columns: list[str] | None = None
) -> None:
    """Append the delta (the upsert's RETURNING set) to a CSV mirror.

    Mirrors are tiny (≤20 rows/day), so a single output file keeps the
    artifact a plain appendable log like the reference's git-tracked CSVs.

    An empty delta (a replayed day, a day with no new artist) leaves a
    local mirror directory as it was: Spark's text writer still emits a
    zero-byte part file and its ``.crc`` for an empty input, so the
    files this call added are compared after the write and the empty
    ones removed — a listing, not a second Spark job.
    """
    before = set(os.listdir(path)) if os.path.isdir(path) else None
    csv_mirror_lines(df, columns).coalesce(1).write.mode(mode).text(path)
    if not os.path.isdir(path):
        return  # not a local directory: nothing to tidy
    added = set(os.listdir(path)) - (before or set())
    parts = [n for n in added if n.startswith("part-")]
    if parts and all(os.path.getsize(os.path.join(path, n)) == 0 for n in parts):
        if before is None:
            shutil.rmtree(path)  # this empty append created the directory
            return
        for n in parts:
            for f in (n, f".{n}.crc"):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(path, f))


def header_line(columns: list[str]) -> str:
    return ",".join(f'"{c}"' for c in columns)
