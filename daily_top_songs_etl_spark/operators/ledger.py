"""Bounded applied-batch ledger for exactly-once sinks.

Every exactly-once face in the engine (the four ``operators/matview``
states, the text-index ``__stats`` row, the ANN centroid occupancy table,
the CMS sketch state) guards its non-idempotent update with an
applied-batch marker carried in the snapshot's ``_meta.json`` sidecar,
published with its state by one pointer flip (``Catalog.write``) or one
``commit_tables`` manifest (the matviews' staged versions). The round-6
implementations stored the FULL list of applied ids — correct, but a
slow leak: at minute-cadence micro-batches the meta rewrite cost grows
linearly forever (round-6 verdict, "What's wrong" #2). The single
``last_appended_batch`` marker used by the ANN/sketch faces had the
opposite flaw: it admitted an out-of-order REPLAY of an older batch and
silently double-counted non-idempotent state (round-6 ADVICE medium).

This module is the standard streaming-sink ledger compaction:

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
  refusal can silently drop a legitimate never-applied batch (round-7
  ADVICE low), the ledger records where each prefix's mark first
  JUMPED over (``applied_jumped``: ``{prefix: [lo, hi]}``): a refusal
  inside that interval is only *contractually* seen, not *provably*
  applied, and ``ledger_seen`` logs a loud warning for it;
  :func:`ledger_refusal_kind` exposes the distinction (``"replay"``
  vs ``"beyond_window"``) for callers that want to raise instead.
  Outside the jumped interval, seen-ness stays exact and silent.
- Ids with no numeric suffix cannot be ordered, so they are kept in an
  exact uncompacted list — bounded meta therefore requires
  numerically-suffixed ids, which foreachBatch epoch ids give for free.
- ``applied_count`` (total adds) rides along for observability/tests.

A replay of ANY already-applied id is always refused: applied ids are
either at-or-below the mark or exactly present in ``recent``.

Legacy metas carrying the round-6 ``applied_batches`` full list are
migrated on load (folded into the mark) and dropped on the next write.
"""

from __future__ import annotations

import logging
import re

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
    """Ledger state from a snapshot meta dict (handles None, empty, and
    legacy round-6 ``applied_batches`` full-list metas)."""
    meta = meta or {}
    led = {
        "hwm": {k: int(v) for k, v in (meta.get("applied_hwm") or {}).items()},
        "recent": list(meta.get("applied_recent") or []),
        "count": int(meta.get("applied_count") or 0),
        "jumped": {
            k: (int(v[0]), int(v[1]))
            for k, v in (meta.get("applied_jumped") or {}).items()
        },
    }
    for bid in meta.get("applied_batches") or []:  # legacy migration
        if not ledger_seen(led, bid):
            ledger_add(led, bid)
    return led


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
