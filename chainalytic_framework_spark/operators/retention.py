"""Retention enforcement: expire fine-grain buckets past their horizon.

Policy (north rule): each tier keeps a trailing horizon of buckets;
older data lives only in coarser tiers (and cold blobs). Expiry is a
PARTITION-LEVEL operation — Iceberg ``deleteWhere(bucket_day < h)`` on
a cluster, partition-directory drops through the TableStore here —
never a row-level rewrite.

Safety invariant (SURVEY.md §7 step 7): a fine bucket is only dropped
after the coarser tier covering it is committed — ``safe_horizon``
computes the newest fully-covered parent bucket boundary and clamps
the requested horizon to it.

Reference analogue: W2 sliding-window eviction
(``recent_stake_wallets.py:56-77``) and W5 unlock expiry
(``stake_history.py:85-100``), promoted from per-dict trimming to
partition lifecycle management.
"""

from __future__ import annotations

import datetime as dt

from ..tables import TableStore
from .bucketing import SECONDS, TIER_ORDER

# trailing horizon per tier, in seconds (None = keep forever)
DEFAULT_HORIZONS = {
    "1m": 7 * 86400,
    "1h": 90 * 86400,
    "1d": 730 * 86400,
    "30d": None,
}


def parent_tier(tier_name: str) -> str | None:
    i = TIER_ORDER.index(tier_name)
    return TIER_ORDER[i + 1] if i + 1 < len(TIER_ORDER) else None


def _to_epoch(x) -> int:
    """UTC epoch seconds from int/float epoch, tz-aware datetime, or
    naive datetime (treated as UTC — never driver-local: retention math
    done in local time can delete partitions whose coarser cover is not
    yet committed on an east-of-UTC driver)."""
    if isinstance(x, (int, float)):
        return int(x)
    if x.tzinfo is not None:
        return int(x.timestamp())
    import calendar

    return calendar.timegm(x.timetuple())


def safe_horizon(requested_horizon, parent_committed_max, parent_name: str | None) -> dt.datetime:
    """Clamp the expiry horizon so we never drop buckets whose coarser
    cover is not yet committed: the parent bucket containing
    ``parent_committed_max`` is complete only up to its own start.
    All math in epoch space; returns a naive-UTC datetime.

    ``parent_name is None`` means the tier HAS no coarser cover (the
    coarsest scheduled tier) — horizon applies unclamped. A tier that
    HAS a designated cover whose table is missing or empty
    (``parent_committed_max is None``) clamps to epoch 0: deleting fine
    buckets before any coarser cover exists is exactly the data loss
    this function guards against."""
    req_e = _to_epoch(requested_horizon)
    if parent_name is None:
        out_e = req_e
    elif parent_committed_max is None:
        out_e = 0
    else:
        psecs = SECONDS[parent_name]
        covered_until = (_to_epoch(parent_committed_max) // psecs) * psecs
        out_e = min(req_e, covered_until)
    return dt.datetime.fromtimestamp(out_e, dt.timezone.utc).replace(tzinfo=None)


def expired_partitions(store: TableStore, table: str, horizon) -> list[str]:
    """bucket_day partition values strictly older than the horizon day
    (horizon day derived in UTC — bucket_day partition values are UTC)."""
    if not store.exists(table):
        return []
    days = [
        r["bucket_day"]
        for r in store.read(table).select("bucket_day").distinct().collect()
    ]
    cutoff = dt.datetime.fromtimestamp(_to_epoch(horizon), dt.timezone.utc).date()
    return [str(d) for d in days if d < cutoff]


def enforce_retention(
    store: TableStore,
    table: str,
    tier_name: str,
    now: dt.datetime,
    horizons: dict[str, int | None] | None = None,
    parent_committed_max: dt.datetime | None = None,
    parent_name: str | None | type(...) = ...,
) -> int:
    """Drop expired bucket_day partitions of a tier table. Returns the
    number of partitions removed.

    ``parent_name`` is the tier's ACTUAL coarser cover; metric sets may
    skip tiers (1m → 1d directly), in which case the default global
    chain (1m→1h) would name a tier that never exists and the clamp
    would never engage. Pass the schedule's cover explicitly (the
    pipeline derives it from ``ms.cascade_pairs()``); ``None`` means
    "no cover" (coarsest tier, unclamped)."""
    horizons = horizons or DEFAULT_HORIZONS
    h = horizons.get(tier_name)
    if h is None:
        return 0
    if parent_name is ...:
        parent_name = parent_tier(tier_name)
    horizon = safe_horizon(_to_epoch(now) - h, parent_committed_max, parent_name)
    victims = expired_partitions(store, table, horizon)
    return store.delete_where_partition(table, "bucket_day", victims)
