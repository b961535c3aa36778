"""Tier router: answer an arbitrary [t0, t1) range query from the
COARSEST stored buckets that fit, with finer tiers only at the ragged
edges — the continuous-aggregate query planner (TimescaleDB's
real-time aggregate / Druid's granularity router do exactly this).

Why it matters at 10^12 rows: a 2-year dashboard range at 1m grain is
~10^6 buckets per key from the 1m tier, but routed it is ~23 monthly
buckets + ≤30 daily + ≤23 hourly + ≤59 minute buckets — four orders of
magnitude fewer rows scanned for the SAME exact answer (the cascade
tiers are lossless partials of the raw rollup, proved by the
cascade==direct gate queries, so routing is a pure I/O optimization,
never an approximation — additive measures only; quantiles route to
the histogram/KLL tiers instead).

``route_range`` is driver-side arithmetic over epoch ints (no data
touched); every ``read_routed*`` read turns the segments into ONE scan
per routed tier — that tier's segments share the scan, OR-ed into one
filter — and unions the per-tier scans into one plan. A stored tier
table's time axis is two-level: ``bucket_day`` directory partitions
(pruned by the ``bucket_day`` bounds in ``time_range_filter``) and
``bucket_start`` (or ``bucket_epoch`` for histograms) row-group min/max
statistics inside each file (skipped by the pushed-down literal range).

Reference analogue: the reference serves every query from the single
per-height store (``storage.py:143-154``) — viable when one zone fits
LevelDB; tier routing is what replaces it at warehouse scale
(SURVEY §2.11 family).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from .bucketing import SECONDS, TIER_ORDER


def route_range(
    e0: int, e1: int, tiers: list[str] | None = None
) -> list[tuple[str, int, int]]:
    """Cover [e0, e1) with the coarsest aligned buckets available.

    Returns (tier, lo, hi) segments, disjoint, in time order, whose
    union is exactly [e0, e1). Bounds must be aligned to the finest
    routed tier (callers align outward for display ranges)."""
    tiers = tiers or TIER_ORDER
    widths = [SECONDS[t] for t in tiers]
    if e0 % widths[0] or e1 % widths[0]:
        raise ValueError(f"bounds must align to the finest tier ({widths[0]}s)")
    out: list[tuple[str, int, int]] = []

    def rec(lo: int, hi: int, ti: int) -> None:
        if lo >= hi or ti < 0:
            return
        w = widths[ti]
        lo_c = -(-lo // w) * w
        hi_c = (hi // w) * w
        if lo_c >= hi_c:  # no whole bucket of this tier inside
            rec(lo, hi, ti - 1)
            return
        rec(lo, lo_c, ti - 1)
        out.append((tiers[ti], lo_c, hi_c))
        rec(hi_c, hi, ti - 1)

    rec(e0, e1, len(tiers) - 1)
    return sorted(out, key=lambda s: s[1])


def check_routable(
    segs: list[tuple[str, int, int]],
    retention_horizons: dict[str, int | None],
    now_epoch: int,
) -> None:
    """Fail LOUDLY when a routed segment reaches into a tier region its
    retention policy may already have dropped (ADVICE r2: a ragged edge
    older than the fine tier's horizon would otherwise silently
    undercount). Driver-side arithmetic only.

    A segment (tier, lo, hi) is safe iff ``lo >= now - horizon[tier]``
    (horizon None = keep forever). Retention enforcement never drops
    newer-than-horizon partitions (operators/retention.py clamps the
    other way, toward keeping MORE), so this is conservative-correct."""
    for tier, lo, hi in segs:
        h = retention_horizons.get(tier)
        if h is not None and lo < now_epoch - h:
            raise ValueError(
                f"routed segment {tier}[{lo},{hi}) is older than the {tier} "
                f"retention horizon ({h}s before now={now_epoch}); serve this "
                f"range from coarser tiers or widen the policy"
            )


def time_range_filter(df: DataFrame, lo: int | None = None,
                      hi: int | None = None) -> Column:
    """Predicate keeping ``df``'s buckets that start in [lo, hi) (epoch
    seconds; a None bound is open), written so a parquet scan prunes on
    it: the bucket column (``bucket_epoch`` on histogram tables, else
    ``bucket_start``) is compared with literals — a timestamp column
    with ``timestamp_seconds`` literals, never cast to long, which
    would block pushdown — and, when the frame has the ``bucket_day``
    partition column, ``bucket_day`` is bounded by the days of ``lo``
    and ``hi - 1``. Those bounds fold to date literals in the session
    timezone, the basis the writers' ``to_date(bucket_start)`` used."""
    col = "bucket_epoch" if "bucket_epoch" in df.columns else "bucket_start"
    is_ts = isinstance(df.schema[col].dataType, TimestampType)

    def at(e: int) -> Column:
        return F.timestamp_seconds(F.lit(e)) if is_ts else F.lit(e)

    day = "bucket_day" in df.columns
    conds = []
    if lo is not None:
        conds.append(F.col(col) >= at(lo))
        if day:
            conds.append(F.col("bucket_day") >= F.to_date(F.timestamp_seconds(F.lit(lo))))
    if hi is not None:
        conds.append(F.col(col) < at(hi))
        if day:
            conds.append(F.col("bucket_day") <= F.to_date(F.timestamp_seconds(F.lit(hi - 1))))
    return reduce(operator.and_, conds)


def _routed(
    frames: dict[str, DataFrame],
    e0: int,
    e1: int,
    select: Callable[[DataFrame], DataFrame],
    retention_horizons: dict[str, int | None] | None,
    now_epoch: int | None,
    tiers: list[str] | None = None,
) -> DataFrame:
    """Every routed read's branches: cover [e0, e1) with ``tiers``
    (default: every tier in ``frames``), validate the cover against the
    retention policy when one is given, then scan each routed tier ONCE
    with its segments OR-ed (``time_range_filter`` each, plus ``NOT
    gap_filled`` where the column exists), apply ``select`` and union
    the per-tier branches."""
    segs = route_range(e0, e1, tiers or [t for t in TIER_ORDER if t in frames])
    if retention_horizons is not None:
        if now_epoch is None:
            raise ValueError("now_epoch required with retention_horizons")
        check_routable(segs, retention_horizons, now_epoch)
    if not segs:
        raise ValueError(f"empty range [{e0}, {e1})")
    spans: dict[str, list[tuple[int, int]]] = {}
    for tier, lo, hi in segs:
        spans.setdefault(tier, []).append((lo, hi))
    parts = []
    for tier, ranges in spans.items():
        df = frames[tier]
        cond = reduce(operator.or_, [time_range_filter(df, lo, hi) for lo, hi in ranges])
        if "gap_filled" in df.columns:
            cond = ~F.col("gap_filled") & cond
        parts.append(select(df.where(cond)))
    return reduce(DataFrame.unionByName, parts)


def read_routed(
    tier_dfs: dict[str, DataFrame],
    e0: int,
    e1: int,
    measure: str | tuple[str, ...] = "point_count",
    keys: tuple[str, ...] = ("url",),
    retention_horizons: dict[str, int | None] | None = None,
    now_epoch: int | None = None,
) -> DataFrame:
    """Per-key totals of one or more additive measures over [e0, e1),
    scanning each routed tier table once for all its segments. One
    union plan; each branch is a partition-pruned scan + nothing else;
    the final groupBy is the only shuffle. ``measure`` may be a tuple — a
    dashboard asking for (point_count, byte_size) together reads each
    tier segment ONCE, not once per measure (the scan is the expensive
    part; extra sum columns ride in the same shuffle for free).

    Pass ``retention_horizons`` (+ ``now_epoch``) to validate every
    segment against the retention policy before reading — a partial sum
    over expired partitions raises instead of returning silently."""
    measures = (measure,) if isinstance(measure, str) else tuple(measure)
    allp = _routed(
        tier_dfs, e0, e1,
        lambda df: df.select(
            *keys,
            *[F.col(m).cast("long").alias(f"_v{i}") for i, m in enumerate(measures)],
        ),
        retention_horizons, now_epoch,
    )
    return allp.groupBy(*keys).agg(
        *[F.sum(f"_v{i}").alias(m) for i, m in enumerate(measures)]
    )


def read_routed_series(
    tier_dfs: dict[str, DataFrame],
    e0: int,
    e1: int,
    grain: str,
    measure: str = "point_count",
    keys: tuple[str, ...] = ("lang",),
    retention_horizons: dict[str, int | None] | None = None,
    now_epoch: int | None = None,
) -> DataFrame:
    """Regular per-key SERIES at ``grain`` over [e0, e1) — the routed
    input a long-horizon forecast consumes (``serve-forecast`` CLI):
    history far from the edge reads from coarse tiers, the ragged edges
    from fine ones, every segment rebucketed UP to the forecast grain
    (additive measures only, same losslessness argument as
    ``read_routed``). Routing uses only tiers no coarser than
    ``grain`` — a coarser bucket cannot be split down — so a 1h-grain
    forecast over two years scans the 1d+1h tiers, never 10⁶ minute
    buckets per key.

    Output: (keys..., bucket_start timestamp, <measure> long), one row
    per populated grain bucket — feed through a zero-fill spine for
    count measures, then ``holt_forecast``. A grain bucket split across
    two routed segments (tier handoff inside the bucket) merges in the
    final aggregation."""
    gsecs = SECONDS[grain]
    if e0 % gsecs or e1 % gsecs:
        raise ValueError(f"[{e0},{e1}) must align to the {grain} grain")
    usable = [t for t in TIER_ORDER if t in tier_dfs and SECONDS[t] <= gsecs]
    if not usable:
        raise ValueError(f"no stored tier at or below grain {grain}")
    b = F.col("bucket_start").cast("long")
    allp = _routed(
        tier_dfs, e0, e1,
        lambda df: df.select(
            *keys,
            ((b / gsecs).cast("long") * gsecs).alias("_g"),
            F.col(measure).cast("long").alias("_v"),
        ),
        retention_horizons, now_epoch, tiers=usable,
    )
    return (
        allp.groupBy(*keys, "_g")
        .agg(F.sum("_v").alias(measure))
        .select(*keys, F.col("_g").cast("timestamp").alias("bucket_start"), measure)
    )


def read_routed_distinct(
    sketch_dfs: dict[str, DataFrame],
    e0: int,
    e1: int,
    keys: tuple[str, ...] = ("lang",),
    retention_horizons: dict[str, int | None] | None = None,
    now_epoch: int | None = None,
) -> DataFrame:
    """Per-key DISTINCT-count estimate over [e0, e1) from the stored HLL
    sketch tiers — the non-algebraic metric the router exists for: an
    exact COUNT(DISTINCT) over two years would re-shuffle the whole key
    space; here each routed segment contributes its stored partials and
    one ``hll_union_agg`` merges them (register-exact union, so the
    answer equals a single sketch built over the whole range — tested
    within HLL error vs exact distinct). Same segment plan as
    ``read_routed``; output (keys..., distinct_est long)."""
    allp = _routed(
        sketch_dfs, e0, e1, lambda df: df.select(*keys, "url_sketch"),
        retention_horizons, now_epoch,
    )
    return (
        allp.groupBy(*keys)
        .agg(F.hll_union_agg("url_sketch").alias("_sk"))
        .select(*keys, F.hll_sketch_estimate("_sk").alias("distinct_est"))
    )


def read_routed_kll(
    sketch_dfs: dict[str, DataFrame],
    e0: int,
    e1: int,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    keys: tuple[str, ...] = ("lang",),
    retention_horizons: dict[str, int | None] | None = None,
    now_epoch: int | None = None,
) -> DataFrame:
    """Per-key QUANTILE estimates over [e0, e1) from the stored KLL
    sketch tiers — the rank twin of ``read_routed_distinct`` (and the
    sketch alternative to the histogram-based ``read_routed_quantile``):
    each routed segment contributes stored partials, one
    ``kll_merge_agg_bigint`` merges them, quantiles come off the merged
    sketch. Merge is lossless over sketch state, so the routed answer
    equals a single whole-range merge (tested); rank error stays the
    per-sketch KLL bound. Output: (keys..., q50, q95, ... per qs)."""
    allp = _routed(
        sketch_dfs, e0, e1, lambda df: df.select(*keys, "kll"),
        retention_horizons, now_epoch,
    )
    out = allp.groupBy(*keys).agg(F.kll_merge_agg_bigint("kll").alias("_kll"))
    for q in qs:
        out = out.withColumn(
            f"q{int(q * 100)}",
            F.kll_sketch_get_quantile_bigint("_kll", F.lit(float(q))),
        )
    return out.drop("_kll")


def read_routed_quantile(
    hist_dfs: dict[str, DataFrame],
    e0: int,
    e1: int,
    series_cols: tuple[str, ...] = ("lang",),
    q_x100: int = 90,
    out_col: str = "q_lo",
    retention_horizons: dict[str, int | None] | None = None,
    now_epoch: int | None = None,
) -> DataFrame:
    """Quantile over an arbitrary [e0, e1) range, answered from the
    ROUTED histogram tiers — the non-additive companion of
    ``read_routed`` (VERDICT r2 item 4: the router's own docstring
    promised quantiles route to the distribution tiers, but no read
    composed them until now).

    Histogram bucket counts are additive in time, so the routed union
    of hist_{tier} segments merges losslessly: sum ``hb_count`` per
    (series, hb_lo) across all segments, then take the smallest bucket
    bound whose cumulative count reaches ``(total·q + 99) DIV 100`` —
    identical integer arithmetic to ``quantile_from_histogram``, but
    with ONE group per series spanning the whole range instead of one
    per bucket_epoch. A 2-year p90 dashboard thus scans ~|series|×40
    rows per coarse bucket instead of the finest tier's full range
    (same ≥5× row reduction as the additive router; asserted in
    tests/test_router.py)."""
    from pyspark.sql import Window

    merged = (
        _routed(
            hist_dfs, e0, e1, lambda df: df.select(*series_cols, "hb_lo", "hb_count"),
            retention_horizons, now_epoch,
        )
        .groupBy(*series_cols, "hb_lo")
        .agg(F.sum("hb_count").alias("hb_count"))
    )
    w = Window.partitionBy(*series_cols).orderBy("hb_lo")
    wall = Window.partitionBy(*series_cols)
    cum = merged.select(
        *series_cols,
        "hb_lo",
        F.sum("hb_count").over(w).alias("_cum"),
        F.sum("hb_count").over(wall).alias("_total"),
    )
    need = F.expr(f"(_total * {int(q_x100)} + 99) DIV 100").cast("long")
    return (
        cum.where(F.col("_cum") >= need)
        .groupBy(*series_cols)
        .agg(F.min("hb_lo").alias(out_col))
    )


def read_routed_drift(
    hist_dfs: dict[str, DataFrame],
    a0: int,
    a1: int,
    b0: int,
    b1: int,
    series_cols: tuple[str, ...] = ("lang",),
    retention_horizons: dict[str, int | None] | None = None,
    now_epoch: int | None = None,
) -> DataFrame:
    """Distribution drift (PSI) between two arbitrary ranges [a0,a1) and
    [b0,b1), answered entirely from the ROUTED histogram tiers: bucket
    counts are additive in time, so each range's per-bin counts are the
    lossless sum of its routed tier segments — "did last week's value
    distribution shift vs the month before" never touches raw
    (the drift companion of :func:`read_routed_quantile`; math in
    operators/histogram.py::psi_from_counts, per-term x1e8 exact).

    Both ranges' covers pass the same retention validation as every
    routed read. Windows may overlap (a self-comparison degenerates to
    PSI 0 — a useful smoke invariant).
    """
    from .histogram import psi_from_counts

    u = reduce(DataFrame.unionByName, [
        _routed(
            hist_dfs, e0, e1,
            lambda df: df.select(*series_cols, F.lit(win).alias("_w"), "hb_lo", "hb_count"),
            retention_horizons, now_epoch,
        )
        for win, (e0, e1) in enumerate(((a0, a1), (b0, b1)))
    ])
    return psi_from_counts(u, list(series_cols), "_w", "hb_lo", "hb_count")
