"""Markdown leaderboard report — the ``render_templates.py`` rewrite.

Query side (``render_templates.py:139-152``): select
(song, spotify_url, apple_music_url, delta) from the flagship delta view
filtered to one date. The filter prunes partitions on both sides of the
view's delta self-join: it reaches the current-day scan as
``ranking_date = day``, and Spark infers ``date_add(ranking_date, 1) =
day`` for the previous-day scan, so each executed ``FileScan`` carries a
non-empty ``PartitionFilters`` and a report reads two date partitions
whatever the retained history. The ≤ 2 × 10 result rows (the rank CHECK
bounds them) are sorted in one partition, so no range-partition sampling
job runs.
Presentation side (``:156-195`` + ``templates/readme.md.jinja2``):
markdown escaping (X7), embed-URL derivation (P9), delta display (X11,
rules below), and per-platform tables.

Display rules from ``templates/readme.md.jinja2:13-23,31-41``:
delta None → "new" (gap/first entry), > 0 → "+n", < 0 → "n" (sign already
present), 0 → "—" (held position).

The per-row Python transforms become DataFrame expressions; only the final
≤20-row collect and string template run on the driver (K6 is a report sink
over a top-k result — driver-side by design).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.enum_order import source_ordinal
from ..functions.strings import escape_markdown


def report_rows(delta_view: DataFrame, date: dt.date) -> DataFrame:
    """The report query (F4 filter + X7/X11 display columns), fully planned
    in Spark; returns one ordered row per (platform, rank), in a single
    partition."""
    delta_display = (
        F.when(F.col("delta").isNull(), "new")
        .when(F.col("delta") > 0, F.concat(F.lit("+"), F.col("delta").cast("string")))
        .when(F.col("delta") < 0, F.col("delta").cast("string"))
        .otherwise("—")
    )
    return (
        delta_view.filter(F.col("date") == F.lit(date))
        .select(
            "platform",
            "rank",
            escape_markdown("song").alias("song_md"),
            "spotify_url",
            "apple_music_url",
            delta_display.alias("delta_display"),
        )
        .coalesce(1)
        .sortWithinPartitions(source_ordinal("platform"), "rank")
    )


_HEADER = (
    "|             | Rank            | Song            | Spotify Link"
    "                    | Apple Music Link"
)


def render_markdown(rows: list, date: dt.date, apple_enabled: bool = False) -> str:
    """Driver-side template (the Jinja2 analog, dependency-free).

    ``rows`` is the collected output of :func:`report_rows`.
    Date display: ``strftime('%A, %B %d, %Y')`` with the reference's
    ``" 0"→" "`` de-padding hack (``render_templates.py:126``).
    """
    human = date.strftime("%A, %B %d, %Y").replace(" 0", " ")
    by_platform: dict[str, list] = {}
    for r in rows:
        by_platform.setdefault(r["platform"], []).append(r)

    out = [
        "# Daily Top Songs",
        "",
        f"Showing top 10 [Spotify](#spotify) and [Apple Music](#apple-music) "
        f"songs for {human}. Updates daily shortly after 01:45 UTC.",
        "",
    ]
    if not apple_enabled:
        out += [
            "> [!NOTE]  ",
            "> Collection of Apple Music song data is currently disabled due "
            "to a critical error. It is not known when this will be fixed.",
            "",
        ]
    for platform in ("Spotify", "Apple Music"):
        out += [f"## {platform}", ""]
        rows_p = by_platform.get(platform, [])
        out.append(
            "|             | Rank            | Song            | "
            "Spotify Link                    | Apple Music Link |"
        )
        out.append("| " + " | ".join(["-" * 11, "-" * 15, "-" * 15, "-" * 31, "-" * 16]) + " |")
        for r in rows_p:
            spotify = f"[link]({r['spotify_url']})" if r["spotify_url"] else ""
            apple = f"[link]({r['apple_music_url']})" if r["apple_music_url"] else ""
            out.append(
                f"| {r['delta_display']} | {r['rank']} | {r['song_md']} | "
                f"{spotify} | {apple} |"
            )
        out.append("")
    return "\n".join(out)
