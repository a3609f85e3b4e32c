"""localCheckpoint pin bookkeeping, shared by the batch pipeline and the
exactly-once ledger path (``operators/ledger.stage_once``).

``DataFrame.unpersist()`` is a no-op for localCheckpoint RDD blocks (it
only clears CacheManager entries), so the precise way to release pins
created inside a region is to snapshot the persistent RDD ids before
and unpersist exactly the new ones after. One helper so the ``_jsc``
private-API dependency has a single site to fix when its shape changes
across Spark versions.
"""

from __future__ import annotations


def snapshot_pins(sc) -> set:
    """Ids of every currently persisted RDD (the 'before' snapshot)."""
    return set(sc._jsc.getPersistentRDDs().keys())


def release_new_pins(sc, pre_pin_ids: set, what: str) -> None:
    """Unpersist exactly the RDDs pinned since ``pre_pin_ids``.

    Cleanup-path leniency is deliberate (the caller's commit already
    succeeded; failing the batch over a pin release would be worse) —
    but a SYSTEMATIC failure would silently re-introduce the
    checkpoint-accumulation leak this code exists to fix, so it is
    logged loudly, never swallowed."""
    try:
        for rid, rdd in sc._jsc.getPersistentRDDs().items():
            if rid not in pre_pin_ids:
                rdd.unpersist()
    except Exception as exc:  # noqa: BLE001 — logged, cleanup path
        import logging

        logging.getLogger(__name__).warning(
            "%s: releasing localCheckpoint pins failed (%s: %s) — "
            "checkpoint blocks will accumulate across batches in a "
            "long-lived session",
            what,
            type(exc).__name__,
            exc,
        )
