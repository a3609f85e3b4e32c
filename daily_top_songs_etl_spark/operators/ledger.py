"""Applied-batch ledger and the one exactly-once write path.

The reference gets exactly-once from one Postgres transaction around its
upsert waves. Here every non-idempotent writer runs one protocol,
:func:`apply_once` (stage half: :func:`stage_once`):

1. take ``catalog.writer_lock()``;
2. load the ledger from the ledger table's ``_meta.json`` and refuse a
   ``batch_id`` it has already applied;
3. call the writer's ``stage(meta)``: it does its idempotent side work
   (``append_once``, ``append_once_files``, ``overwrite_partitions``),
   stages its tables — the ledger table with ``meta``, which carries the
   ledger with this batch added — and returns ``{table: version}``;
4. publish every staged table under one ``commit_tables`` manifest;
5. release the ``localCheckpoint`` pins the stage created.

State and ledger therefore become visible together or not at all: a
crash before step 4 leaves the ledger without the batch, and its replay
re-runs the idempotent side work and stages again. A second writer on
the same root gets ``ConcurrentWriterError`` for the whole hold, so no
writer commits a merge computed from a state another writer has since
replaced. ``batch_id=None`` runs the same path unguarded (the ledger is
carried forward unchanged).

Users (ledger table in brackets): the four ``operators/matview`` views
[the state table]; ``extensions/ann_index`` append, merge and delete
[``__centroids``]; ``extensions/text`` append and merge [``__stats``];
``streaming/sketch_stream`` [``__cms``, committed with ``__kmv``];
``streaming/quota_stream`` [``__counts``].

The ledger itself is compacted so meta size stays bounded:

- Batch ids ending in an integer (``7``, ``b3``, ``batch-12``,
  ``stream-4`` — every in-tree caller) are split into (prefix, seq).
  Per prefix, a HIGH-WATER MARK covers the longest CONTIGUOUS applied
  prefix of the sequence (``seen`` ⇔ seq ≤ hwm), and out-of-order
  applied ids above the mark sit EXACTLY in ``applied_recent`` until
  the gap fills and they drain into the mark. Under in-order epoch
  delivery (the foreachBatch model) ``recent`` is always empty and meta
  size is constant in the number of batches.
- ``recent`` is capped at :data:`RECENT_CAP` ids per prefix: on
  overflow the mark jumps so only the newest ``RECENT_CAP`` stay exact.
  An id arriving more than ``RECENT_CAP`` behind the newest applied id
  of its prefix is then refused even if it was never applied — the
  bounded-reorder contract (Spark's own streaming commit log keeps only
  the last epoch, i.e. a reorder window of zero). Because such a
  refusal can silently drop a legitimate never-applied batch, the
  ledger records where each prefix's mark first JUMPED over
  (``applied_jumped``: ``{prefix: [lo, hi]}``): a refusal inside that
  interval is only *contractually* seen, not *provably* applied, and
  ``ledger_seen`` logs a loud warning for it;
  :func:`ledger_refusal_kind` exposes the distinction (``"replay"``
  vs ``"beyond_window"``) for callers that want to raise instead.
  Outside the jumped interval, seen-ness stays exact and silent.
- Ids with no numeric suffix cannot be ordered, so they are kept in an
  exact uncompacted list — bounded meta therefore requires
  numerically-suffixed ids, which foreachBatch epoch ids give for free.
- ``applied_count`` (total adds) rides along for observability/tests.

A replay of ANY already-applied id is always refused: applied ids are
either at-or-below the mark or exactly present in ``recent``.
"""

from __future__ import annotations

import logging
import re
from typing import Callable

from ..pins import release_new_pins, snapshot_pins

_log = logging.getLogger(__name__)

#: meta keys owned by this module — callers must not write them directly
LEDGER_META_KEYS = (
    "applied_hwm",
    "applied_recent",
    "applied_count",
    "applied_jumped",
)

#: max exactly-tracked out-of-order ids per prefix before the mark jumps
RECENT_CAP = 64

_ID = re.compile(r"^(.*?)(\d+)$")


def _parse(batch_id: object) -> tuple[str, int] | None:
    m = _ID.match(str(batch_id))
    return (m.group(1), int(m.group(2))) if m else None


def ledger_load(meta: dict | None) -> dict:
    """Ledger state from a snapshot meta dict (None or empty: no batch
    applied yet)."""
    meta = meta or {}
    return {
        "hwm": {k: int(v) for k, v in (meta.get("applied_hwm") or {}).items()},
        "recent": list(meta.get("applied_recent") or []),
        "count": int(meta.get("applied_count") or 0),
        "jumped": {
            k: (int(v[0]), int(v[1]))
            for k, v in (meta.get("applied_jumped") or {}).items()
        },
    }


def ledger_seen(led: dict, batch_id: object) -> bool:
    """True if ``batch_id`` was already applied (or fell out of the
    bounded reorder window — refused per the delivery contract).

    A refusal inside jumped-over territory is AMBIGUOUS — the id may
    never have been applied, and the caller will drop its data — so it
    is logged loudly; see :func:`ledger_refusal_kind`."""
    kind = ledger_refusal_kind(led, batch_id)
    if kind == "beyond_window":
        _log.warning(
            "ledger refusing batch id %r: it is more than RECENT_CAP=%d "
            "behind its prefix's newest applied id, so it cannot be "
            "distinguished from a replay — if this delivery is NOT a "
            "replay its data is being dropped (the bounded-reorder "
            "contract requires delivery reorder <= RECENT_CAP)",
            batch_id,
            RECENT_CAP,
        )
    return kind != "new"


def ledger_refusal_kind(led: dict, batch_id: object) -> str:
    """Classify what ``ledger_seen`` would say about ``batch_id``:

    - ``"new"`` — not seen; the caller should apply it.
    - ``"replay"`` — PROVABLY applied before (exactly tracked in
      ``recent``, or at-or-below a mark position reached only by
      contiguous drains).
    - ``"beyond_window"`` — refused, but only contractually: the id
      sits in territory the mark JUMPED over on a ``recent`` overflow,
      so the ledger cannot prove it was ever applied. Callers with
      unbounded-reorder sources should treat this as an error.
    """
    bid = str(batch_id)
    if bid in led["recent"]:
        return "replay"
    p = _parse(batch_id)
    if p is None or p[1] > led["hwm"].get(p[0], -1):
        return "new"
    jumped = led.get("jumped", {}).get(p[0])
    if jumped is not None and jumped[0] <= p[1] <= jumped[1]:
        return "beyond_window"
    return "replay"


def _drain(led: dict, pre: str) -> None:
    """Advance ``pre``'s mark over the now-contiguous run in recent,
    then enforce the per-prefix cap."""
    hwm = led["hwm"].get(pre, -1)
    nums = {}
    for bid in led["recent"]:
        q = _parse(bid)
        if q is not None and q[0] == pre:
            nums[q[1]] = bid
    while (hwm + 1) in nums:
        hwm += 1
        led["recent"].remove(nums.pop(hwm))
    # drop ids the mark overtook (zero-padded aliases like b01 vs b1)
    for n in [n for n in nums if n <= hwm]:
        led["recent"].remove(nums.pop(n))
    if len(nums) > RECENT_CAP:
        # bounded reorder window: jump the mark so only the newest
        # RECENT_CAP out-of-order ids stay exactly tracked. Record the
        # jumped-over interval — inside it, "seen" is contractual, not
        # proof of application (ledger_refusal_kind); applied ids the
        # jump dropped from recent land inside too (conservative).
        keep = sorted(nums)[-RECENT_CAP:]
        jumped = led.setdefault("jumped", {})
        lo, hi = jumped.get(pre, (hwm + 1, hwm))
        jumped[pre] = (lo, max(hi, keep[0] - 1))
        hwm = keep[0] - 1
        for n in [n for n in nums if n < keep[0]]:
            led["recent"].remove(nums.pop(n))
        # the jump may have made the kept run contiguous — drain again
        while (hwm + 1) in nums:
            hwm += 1
            led["recent"].remove(nums.pop(hwm))
    led["hwm"][pre] = hwm


def ledger_add(led: dict, batch_id: object) -> None:
    """Record ``batch_id`` as applied. Caller checks ``ledger_seen``
    first; adding an already-seen id only bumps the count."""
    led["count"] += 1
    bid = str(batch_id)
    p = _parse(bid)
    if p is None:
        if bid not in led["recent"]:
            led["recent"].append(bid)
        return
    pre, seq = p
    if seq <= led["hwm"].get(pre, -1) or bid in led["recent"]:
        return
    led["recent"].append(bid)
    _drain(led, pre)


def ledger_meta(led: dict) -> dict:
    """The compact meta fields to merge into the snapshot meta dict
    (constant-size under in-order ids; ≤ RECENT_CAP extra entries per
    prefix under bounded reorder)."""
    out = {
        "applied_hwm": dict(led["hwm"]),
        "applied_recent": list(led["recent"]),
        "applied_count": led["count"],
    }
    if led.get("jumped"):
        out["applied_jumped"] = {
            k: [v[0], v[1]] for k, v in led["jumped"].items()
        }
    return out


def applied_count(catalog, table: str) -> int:
    """Total batches ever applied to ``table``'s ledger (observability:
    the ledger itself is compacted to per-prefix marks)."""
    return int((catalog.read_meta(table) or {}).get("applied_count") or 0)


def stage_once(
    catalog,
    table: str,
    batch_id: object,
    stage: Callable[[dict], dict[str, int]],
) -> dict[str, int] | None:
    """Steps 1-3 and 5 of the protocol (module docstring): ``stage``'s
    ``{table: staged_version}``, or None if ``batch_id`` was already
    applied. Nothing is published — the caller holds
    ``catalog.writer_lock()`` across this call and its own
    ``commit_tables(staged=...)``, so it can join other staged tables to
    the same manifest; an uncommitted stage is re-staged by the
    replay."""
    with catalog.writer_lock():
        meta = catalog.read_meta(table) or {}
        led = ledger_load(meta)
        if batch_id is not None:
            if ledger_seen(led, batch_id):
                return None
            ledger_add(led, batch_id)
        meta = {k: v for k, v in meta.items() if k not in LEDGER_META_KEYS}
        if led["count"]:
            meta.update(ledger_meta(led))
        sc = catalog.spark.sparkContext
        pre_pin_ids = snapshot_pins(sc)
        try:
            return stage(meta)
        finally:
            release_new_pins(sc, pre_pin_ids, f"stage_once({table!r})")


def apply_once(
    catalog,
    table: str,
    batch_id: object,
    stage: Callable[[dict], dict[str, int]],
) -> bool:
    """The whole protocol (module docstring): True once ``stage``'s
    tables are published under one ``commit_tables`` manifest, False
    (nothing touched) if ``batch_id`` was already applied."""
    with catalog.writer_lock():
        staged = stage_once(catalog, table, batch_id, stage)
        if staged is None:
            return False
        catalog.commit_tables({}, staged=staged)
    return True
