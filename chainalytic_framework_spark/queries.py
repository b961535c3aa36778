"""Query layer: the reference's provider JSON-RPC API re-expressed as
DataFrame functions over tier/state tables (no RPC, no services).

API parity map (``/root/reference/docs/provider_api.adoc:82-313``):

| reference api_id                  | here                         |
|-----------------------------------|------------------------------|
| last_block_height                 | last_bucket_start            |
| get_staking_info(height)          | point_lookup(bucket)         |
| get_staking_info_last_block       | latest_points                |
| latest_stake_top100               | topk_urls_by_bytes           |
| recent_stake_wallets              | recently_active_urls         |
| abstention_stake (sorted snapshot)| topk_urls_by_measure         |
| funded_wallets(min_balance)       | urls_over_threshold          |
| passive_stake_wallets(max_inact)  | stale_urls                   |

All functions take tier/state DataFrames (read from a TableStore or
built in-memory) so they compose with any storage backend.
"""

from __future__ import annotations

import datetime as dt
import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def last_bucket_start(tier_df: DataFrame):
    """Newest committed bucket (reference: last_block_height,
    provider_api.adoc:102-118)."""
    return tier_df.agg(F.max("bucket_start").alias("last_bucket_start"))


def point_lookup(tier_df: DataFrame, bucket_start: dt.datetime, url: str | None = None) -> DataFrame:
    """Stats for one bucket (reference: get_staking_info(height),
    provider_api.adoc:144-168). Partition-pruned on bucket_day at scale."""
    out = tier_df.where(F.col("bucket_start") == F.lit(bucket_start))
    if url is not None:
        out = out.where(F.col("url") == url)
    return out


def latest_points(tier_df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Last bucket's row per key (reference: get_staking_info_last_block
    = max-height + point-get, api_bundle.py:38-44)."""
    keys = keys or ["url"]
    aggs = [F.max("bucket_start").alias("bucket_start")] + [
        F.max_by(c, "bucket_start").alias(c)
        for c in tier_df.columns
        if c not in keys + ["bucket_start"]
    ]
    return tier_df.groupBy(*keys).agg(*aggs)


def topk_urls_by_measure(tier_df: DataFrame, measure: str = "byte_size", k: int = 100) -> DataFrame:
    """Top-k snapshot (reference W1: latest_stake_top100 with
    MAX_WALLETS=100, stake_top100.py:46-66). orderBy+limit compiles to
    TakeOrderedAndProject: per-partition top-k, then a k-row merge."""
    totals = tier_df.groupBy("url").agg(F.sum(measure).alias(measure))
    return totals.orderBy(F.desc(measure), "url").limit(k)


def recently_active_urls(tier_df: DataFrame, timespan_seconds: int = 3 * 86400,
                         k: int = 200, as_of: dt.datetime | None = None) -> DataFrame:
    """Sliding retention window + cap (reference W2: recent_stake_wallets,
    TIMESPAN=129600 blocks ≈ 3 days, cap 200).

    Single logical plan, single action (VERDICT r2 item 8 — previously a
    separate ``.first()`` scanned the tier twice per call): when
    ``as_of`` is not given, the watermark rides in as a broadcast
    1-row aggregate and the cutoff comparison happens in-plan. An empty
    tier yields a NULL watermark, the comparison is never true, and the
    result is empty — no driver-side special case. Dashboards that know
    their serving time pass ``as_of`` and skip the max branch entirely
    (then the time filter is a pushed-down scan predicate)."""
    if as_of is not None:
        cutoff = as_of - dt.timedelta(seconds=timespan_seconds)
        recent = tier_df.where(F.col("bucket_start") > F.lit(cutoff))
    else:
        wm = tier_df.agg(
            (F.max("bucket_start") - F.expr(f"INTERVAL {int(timespan_seconds)} SECONDS"))
            .alias("_cutoff")
        )
        recent = (
            tier_df.crossJoin(F.broadcast(wm))
            .where(F.col("bucket_start") > F.col("_cutoff"))
            .drop("_cutoff")
        )
    return (
        recent.groupBy("url")
        .agg(F.max("bucket_start").alias("last_seen"), F.sum("point_count").alias("points"))
        .orderBy(F.desc("last_seen"), F.desc("points"), "url")
        .limit(k)
    )


def urls_over_threshold(tier_df: DataFrame, measure: str = "byte_size",
                        min_value: int = 0, k: int = 10_000) -> DataFrame:
    """Threshold scan-sort-limit with true total (reference W4:
    funded_wallets — list capped at 10000 but 'total' is the real count,
    storage.py:320-337).

    One logical plan, one action: the true count rides in as a
    broadcast cross join of a 1-row aggregate. Both branches consume
    the SAME groupBy shuffle, so whenever the input actually shuffles
    (any multi-partition tier table) Catalyst reuses the exchange
    instead of recomputing the filtered aggregation (verified via
    explain on a parquet-backed tier: ReusedExchange under the
    broadcast side)."""
    totals = (
        tier_df.groupBy("url")
        .agg(F.sum(measure).alias(measure))
        .where(F.col(measure) >= min_value)
    )
    count_df = totals.agg(F.count(F.lit(1)).alias("total_matching"))
    topk = totals.orderBy(F.desc(measure), "url").limit(k)
    return topk.crossJoin(F.broadcast(count_df))


def series_points(
    hot_tier_df: DataFrame,
    cold_df: DataFrame | None,
    measure: str = "point_count",
    url: str | None = None,
    t0=None,
    t1=None,
) -> DataFrame:
    """UNIFIED hot+cold series read: one (url, bucket_start, value) view
    over the hot tier table and the Gorilla cold blobs, so history is
    served uniformly after fine tiers are cold-migrated and
    retention-dropped (reference serves its whole history from one
    store, ``zones/.../warehouse/storage.py:143-154``).

    Plan shape at scale: cold blobs are pruned BEFORE decode on their
    (measure, url, t0/t1) metadata — only overlapping blobs cross the
    Arrow decode hop; the hot side is a partition-pruned columnar scan.
    Where both tiers hold a bucket (migration ran before retention),
    the HOT row wins (it is the authoritative, uncompressed copy).

    A url can hold several tier rows in one bucket (the tier grain
    includes ``lang``, which flaps between crawls): the series value is
    their SUM — deterministic, and correct for the additive measures
    this serves (point_count, byte_size, text_len_sum). Variants are
    summed WITHIN each source first, then hot-wins applies per bucket.

    ``t0``/``t1`` accept naive-UTC/aware datetimes or epoch seconds;
    comparisons happen in epoch space (timezone-safe)."""
    from .operators.retention import _to_epoch
    from .operators.router import time_range_filter

    e0 = _to_epoch(t0) if t0 is not None else None
    e1 = _to_epoch(t1) if t1 is not None else None

    # the time, url and gap filters go on the hot SCAN, in the form
    # parquet prunes partitions and row groups on
    conds = []
    if e0 is not None or e1 is not None:
        conds.append(time_range_filter(hot_tier_df, e0, e1))
    if url is not None:
        conds.append(F.col("url") == url)
    if "gap_filled" in hot_tier_df.columns:
        conds.append(~F.col("gap_filled"))
    if conds:
        hot_tier_df = hot_tier_df.where(reduce(operator.and_, conds))
    parts = hot_tier_df.select(
        "url", "url_hash", "bucket_start", F.col(measure).cast("long").alias("value")
    ).withColumn("_src", F.lit(1))
    if cold_df is not None:
        from .operators.cold_store import decode_cold

        blobs = cold_df.where(F.col("measure") == measure)
        if url is not None:
            blobs = blobs.where(F.col("url") == url)
        if e0 is not None:
            blobs = blobs.where(F.col("t1") >= F.lit(e0))  # blob overlaps [e0, e1)
        if e1 is not None:
            blobs = blobs.where(F.col("t0") < F.lit(e1))
        cold = decode_cold(blobs).select(
            "url", "url_hash", "bucket_start", F.col("value").cast("long").alias("value")
        ).withColumn("_src", F.lit(0))
        if e0 is not None or e1 is not None:
            cold = cold.where(time_range_filter(cold, e0, e1))
        parts = parts.unionByName(cold)

    per_src = parts.groupBy("url", "url_hash", "bucket_start", "_src").agg(
        F.sum("value").alias("value")
    )
    return (
        per_src.groupBy("url", "url_hash", "bucket_start")
        .agg(F.max_by("value", "_src").alias("value"))
        .select("url", "url_hash", "bucket_start", "value")
    )


def throughput_report(manifest_df: DataFrame) -> DataFrame:
    """The reference's monitoring path (§3.3: ``console.monitor`` —
    aggregation speed in blocks/s + remaining-time estimate,
    ``cli/console.py:273,277-288,456-460``) over the checkpoint
    manifest: per tier, the latest committed watermark, rows/docs
    throughput of the most recent run, and lifetime totals. Pure
    aggregation over the (tiny) manifest table — metadata, never data.
    """
    latest = manifest_df.groupBy("tier").agg(
        F.max("bucket_range_end").alias("high_water"),
        F.max_by("docs_per_sec", "committed_at").alias("last_docs_per_sec"),
        F.max_by("wall_seconds", "committed_at").alias("last_wall_seconds"),
        F.sum("rows_out").alias("total_rows_out"),
        F.max("committed_at").alias("last_committed_at"),
        F.count(F.lit(1)).alias("n_commits"),
    )
    return latest.orderBy("tier")


def eta_to_target(manifest_df: DataFrame, tier: str, target_end: dt.datetime) -> DataFrame:
    """Remaining-time estimate for one tier (the reference's
    ``(head − last)/speed`` ETA, ``console.py:277-288``): seconds of
    bucket time left to ``target_end`` divided by the tier's recent
    bucket-time-per-wall-second rate (median of the last runs)."""
    from .operators.retention import _to_epoch

    m = manifest_df.where(F.col("tier") == tier)
    rate = m.select(
        (
            (F.col("bucket_range_end").cast("long") - F.col("bucket_range_start").cast("long"))
            / F.greatest(F.col("wall_seconds"), F.lit(1e-9))
        ).alias("bucket_secs_per_wall_sec")
    ).agg(F.median("bucket_secs_per_wall_sec").alias("rate"))
    hw = m.agg(F.max("bucket_range_end").alias("high_water"))
    # epoch math: a naive target literal would be re-interpreted in the
    # driver's LOCAL timezone (naive datetimes mean UTC engine-wide)
    return (
        hw.crossJoin(rate)
        .select(
            "high_water",
            F.greatest(
                F.lit(_to_epoch(target_end)) - F.col("high_water").cast("long"),
                F.lit(0),
            ).alias("bucket_seconds_remaining"),
            "rate",
        )
        .withColumn(
            "eta_seconds",
            F.round(F.col("bucket_seconds_remaining") / F.greatest(F.col("rate"), F.lit(1e-9)), 1),
        )
    )


def stale_urls(state_df: DataFrame, as_of: dt.datetime, max_inactive_seconds: int,
               k: int = 1000) -> DataFrame:
    """Longest-inactive urls (reference: passive_stake_wallets sorted by
    inactive duration desc, cap 1000, storage.py:357-381) over the fold
    state table."""
    from .operators.retention import _to_epoch

    # epoch compare: a naive as_of literal would be re-interpreted in the
    # driver's local timezone (naive inputs mean UTC here)
    inact = state_df.withColumn(
        "inactive_seconds",
        (F.lit(_to_epoch(as_of)) - F.col("last_ts").cast("long")),
    ).where(F.col("inactive_seconds") <= max_inactive_seconds)
    return inact.orderBy(F.desc("inactive_seconds"), "url").limit(k)
