"""Seeded daily-chart generator and the pure-Python model it is checked against.

The generator plays two top-10 charts (Spotify, Apple Music) forward one day
at a time with realistic churn: most songs persist, ranks move, a few new
songs enter (sharing artists with older ones), and some songs learn their
Apple Music URL after they first chart, which drives the ``merge_song``
update path. ``ChartModel`` applies a day's batch with the reference's
semantics: ``INSERT ... ON CONFLICT DO NOTHING`` on every table, the song
URL patch, then the trigger cascade T1 (one-year retention relative to the
inserted max date) -> FK cascade -> T2 (orphan songs) -> T3 (orphan
artists), and renders the delta view for one date.

Everything here is plain Python; nothing imports Spark.
"""

from __future__ import annotations

import datetime as dt
import random
import re

SOURCES = ("Spotify", "Apple Music")  # enum declaration order
RANKS = 10
_MD_SPECIALS = re.compile(r"([`*_{}\[\]()#+\-.!|$~])")


def add_months(d: dt.date, months: int) -> dt.date:
    """Spark/Postgres ``add_months``: clamp the day to the target month."""
    y, m = divmod(d.year * 12 + d.month - 1 + months, 12)
    m += 1
    last = (dt.date(y + m // 12, m % 12 + 1, 1) - dt.timedelta(days=1)).day
    return dt.date(y, m, min(d.day, last))


class ChartGenerator:
    """Deterministic two-source chart process; one call per calendar day."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.n_songs = 0
        self.n_artists = 0
        self.artists: list[tuple[str, str]] = []
        # isrc -> (name, duration_ms, explicit, spotify_url, artist list)
        self.songs: dict[str, tuple] = {}
        # isrc -> (apple url, first day the URL is reported) or None
        self.apple: dict[str, tuple[str, dt.date] | None] = {}
        self.charts = {s: [self._new_song(None) for _ in range(RANKS)] for s in SOURCES}

    def _new_artist(self) -> tuple[str, str]:
        self.n_artists += 1
        a = (f"AR{self.n_artists:06d}", f"Artist {self.n_artists}")
        self.artists.append(a)
        return a

    def _new_song(self, day: dt.date | None) -> str:
        rng = self.rng
        self.n_songs += 1
        isrc = f"QZ{self.n_songs:010d}"
        names = []
        for _ in range(1 if rng.random() < 0.7 else 2):
            # shared artists: most new songs credit someone already known
            if self.artists and rng.random() < 0.6:
                a = rng.choice(self.artists)
            else:
                a = self._new_artist()
            if a not in names:
                names.append(a)
        self.songs[isrc] = (
            f"Song {self.n_songs}",
            rng.randrange(120_000, 300_000),
            rng.random() < 0.3,
            f"https://open.spotify.com/track/{isrc.lower()}",
            names,
        )
        u = rng.random()
        if u < 0.4:
            self.apple[isrc] = None  # never on Apple Music
        else:
            # known on entry, or patched a few days after the song charts
            lag = 0 if u < 0.7 else rng.randrange(1, 6)
            start = dt.date.min if day is None or lag == 0 else day + dt.timedelta(days=lag)
            self.apple[isrc] = (f"https://music.apple.com/song/{isrc.lower()}", start)
        return isrc

    def step(self, day: dt.date) -> None:
        """Advance both charts to ``day``: a few exits, entries, rank moves."""
        rng = self.rng
        for src in SOURCES:
            chart = self.charts[src]
            other = self.charts[SOURCES[1 - SOURCES.index(src)]]
            for _ in range(rng.choice((0, 1, 1, 2))):
                chart.pop(rng.randrange(len(chart)))
            while len(chart) < RANKS:
                pick = None
                if rng.random() < 0.3:
                    cands = [i for i in other if i not in chart]
                    pick = rng.choice(cands) if cands else None
                chart.insert(rng.randrange(len(chart) + 1), pick or self._new_song(day))
            for _ in range(rng.randrange(0, 3)):
                i = rng.randrange(RANKS - 1)
                chart[i], chart[i + 1] = chart[i + 1], chart[i]

    def rows(self, day: dt.date) -> list[tuple]:
        """The day's batch as DAILY_BATCH tuples plus ``batch_date``."""
        out = []
        for src in SOURCES:
            for pos, isrc in enumerate(self.charts[src]):
                name, dur, explicit, spotify, artists = self.songs[isrc]
                ap = self.apple[isrc]
                url = ap[0] if ap is not None and ap[1] <= day else None
                out.append(
                    (
                        pos,
                        src,
                        isrc,
                        [{"artist_id": a, "artist_name": n} for a, n in artists],
                        name,
                        dur,
                        explicit,
                        spotify,
                        url,
                        day,
                    )
                )
        return out


class ChartModel:
    """The four tables as Python sets/dicts, updated with trigger semantics."""

    def __init__(self):
        self.ranking: set[tuple] = set()  # (isrc, date, rank, source)
        self.song: dict[str, tuple] = {}  # isrc -> (name, dur, explicit, spotify, apple)
        self.artist: dict[str, str] = {}
        self.amap: set[tuple[str, str]] = set()
        self.month_view: dict[tuple[int, str], list] = {}  # (yyyymm, isrc) -> [cnt, sum, min, max]
        self.applied: set[str] = set()

    def bulk_load(self, rows: list[tuple]) -> list[tuple]:
        """The bootstrap: load flat history with no triggers firing.
        Returns the ranking rows loaded."""
        return self._insert(rows)

    def _insert(self, rows: list[tuple]) -> list[tuple]:
        # intra-batch conflicts on a song: the row carrying a URL wins
        best: dict[str, tuple] = {}
        for r in rows:
            if r[2] not in best or (best[r[2]][8] is None and r[8] is not None):
                best[r[2]] = r
        for r in rows:
            for a in r[3]:
                self.artist.setdefault(a["artist_id"], a["artist_name"])
        for isrc, r in best.items():
            cur = self.song.get(isrc)
            if cur is None:
                self.song[isrc] = (r[4], r[5], r[6], r[7], r[8])
            elif cur[4] is None and r[8] is not None:
                self.song[isrc] = cur[:4] + (r[8],)
        for r in rows:
            for a in r[3]:
                self.amap.add((a["artist_id"], r[2]))
        keys = {(k[0], k[1], k[3]) for k in self.ranking}
        inserted = []
        for r in rows:
            if (r[2], r[9], r[1]) not in keys:
                keys.add((r[2], r[9], r[1]))
                inserted.append((r[2], r[9], r[0] + 1, r[1]))
        self.ranking.update(inserted)
        return inserted

    def apply_day(self, rows: list[tuple]) -> list[tuple]:
        """``run_daily_batch``: upserts, then T1 -> cascade -> T2 -> T3.
        Returns the inserted ranking rows (the RETURNING set)."""
        inserted = self._insert(rows)
        if inserted:
            cutoff = add_months(max(r[1] for r in inserted), -12)
            self.ranking = {r for r in self.ranking if r[1] > cutoff}
        live = {r[0] for r in self.ranking}
        self.song = {k: v for k, v in self.song.items() if k in live}
        self.amap = {m for m in self.amap if m[1] in self.song}
        mapped = {m[0] for m in self.amap}
        self.artist = {k: v for k, v in self.artist.items() if k in mapped}
        return inserted

    def refresh_view(self, inserted: list[tuple], batch_id: str) -> bool:
        """The monthly per-song rank aggregate; a seen batch id is refused."""
        if batch_id in self.applied:
            return False
        self.applied.add(batch_id)
        for isrc, d, rank, _src in inserted:
            s = self.month_view.setdefault((d.year * 100 + d.month, isrc), [0, 0, rank, rank])
            s[0] += 1
            s[1] += rank
            s[2] = min(s[2], rank)
            s[3] = max(s[3], rank)
        return True

    def report(self, day: dt.date) -> list[dict]:
        """Rows of ``report_rows(all_rankings_with_delta_view(...), day)``."""
        prev = {(r[0], r[3]): r[2] for r in self.ranking if r[1] == day - dt.timedelta(days=1)}
        out = []
        for isrc, d, rank, src in sorted(
            (r for r in self.ranking if r[1] == day), key=lambda r: (SOURCES.index(r[3]), r[2])
        ):
            song = self.song.get(isrc)
            names = sorted(self.artist[a] for a, i in self.amap if i == isrc and a in self.artist)
            label = None
            if song is not None and names:
                label = _MD_SPECIALS.sub(r"\\\1", ", ".join(names) + " - " + song[0])
            p = prev.get((isrc, src))
            delta = None if p is None else p - rank
            shown = "new" if delta is None else f"+{delta}" if delta > 0 else str(delta) if delta < 0 else "—"
            out.append(
                {
                    "platform": src,
                    "rank": rank,
                    "song_md": label,
                    "spotify_url": song[3] if song else None,
                    "apple_music_url": song[4] if song else None,
                    "delta_display": shown,
                }
            )
        return out


def plan_days(start: dt.date):
    """The day schedule after ``start``, without end: the first batch comes
    after a skipped calendar day, then days alternate between a new day
    and a replay of that day's batch. Yields ``(date, kind)`` with kind in
    ``{"after_gap", "day", "replay"}``."""
    d = start + dt.timedelta(days=2)
    yield d, "after_gap"
    while True:
        d += dt.timedelta(days=1)
        yield d, "day"
        yield d, "replay"
