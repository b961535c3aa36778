"""Mergeable sketch partials for tier tables (HLL distinct-url counts).

At 10^12 rows an exact per-bucket COUNT(DISTINCT url) is a full shuffle
of the key space every time a coarser window is asked for — so tiers
store a MERGEABLE HyperLogLog partial instead: the finest tier
aggregates raw urls once (``hll_sketch_agg``, Apache DataSketches HLL
inside Spark), and every coarser bucket is a cheap ``hll_union_agg`` of
its children — the same continuous-aggregate contract as the numeric
measures (operators/registry.py), extended to a non-algebraic metric.
Standard error ≈ 1.04/√2^lg_k (~1.6% at the default lg_k=12);
``tests/test_sketches.py`` asserts the bound through a full cascade.

Contract queries stay exact-form (a sketch estimate is not
oracle-hashable); the sketch path is property-tested against exact
distinct counts instead.

Reference analogue: A4 set-size counts (``recent_stake_wallets.py``
tracks an exact wallet set per window — viable per-zone, not at
10^12 urls; SURVEY.md §2.11 sketch gap)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bucketing import bucket_start

DEFAULT_LG_K = 12  # ~1.6% standard error, 4 KB max sketch


def url_sketch_rollup(
    obs: DataFrame,
    tier_name: str,
    keys: tuple[str, ...] = ("lang",),
    time_col: str = "warc_ts",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """Finest-tier sketch build: one HLL partial of distinct urls per
    (bucket, keys) — the ONLY pass that ever sees raw urls."""
    b = bucket_start(time_col, tier_name).alias("bucket_start")
    present = [k for k in keys if k in obs.columns]
    return (
        obs.groupBy(b, *present)
        .agg(
            F.hll_sketch_agg("url", F.lit(lg_k)).alias("url_sketch"),
            F.count(F.lit(1)).alias("point_count"),
        )
        .withColumn("tier", F.lit(tier_name))
    )


def url_sketch_downsample(
    parent_df: DataFrame, child_tier_name: str, keys: tuple[str, ...] = ("lang",)
) -> DataFrame:
    """Coarser-tier sketch: union the stored child partials — never
    re-reads raw urls (lossless w.r.t. the sketch state: HLL union is
    exact over registers)."""
    b = bucket_start("bucket_start", child_tier_name).alias("bucket_start")
    present = [k for k in keys if k in parent_df.columns]
    return (
        parent_df.groupBy(b, *present)
        .agg(
            F.hll_union_agg("url_sketch").alias("url_sketch"),
            F.sum("point_count").alias("point_count"),
        )
        .withColumn("tier", F.lit(child_tier_name))
    )


def with_estimate(sketch_df: DataFrame) -> DataFrame:
    """Materialize the distinct-url estimate column (query time)."""
    return sketch_df.withColumn(
        "distinct_urls_est", F.hll_sketch_estimate("url_sketch")
    )


# ---------------------------------------------------------------------------
# KLL percentile partials (Datasketches KLL — mergeable quantiles)
# ---------------------------------------------------------------------------


def quantile_sketch_rollup(
    obs: DataFrame,
    tier_name: str,
    value_col: str = "text_len",
    keys: tuple[str, ...] = ("lang",),
    time_col: str = "warc_ts",
    k: int = 200,
) -> DataFrame:
    """Finest-tier KLL partial of a measure's distribution per (bucket,
    keys): percentiles at ANY coarser grain become a merge of stored
    partials instead of a re-sort of raw values (exact percentile is a
    full per-group sort at 10^12 rows). k=200 ⇒ ~1.3% max rank error
    (Datasketches KLL guarantee); tests assert the bound through a
    cascade."""
    b = bucket_start(time_col, tier_name).alias("bucket_start")
    present = [k_ for k_ in keys if k_ in obs.columns]
    return (
        obs.groupBy(b, *present)
        .agg(
            F.kll_sketch_agg_bigint(F.col(value_col).cast("long"), F.lit(k)).alias("kll"),
            F.count(F.lit(1)).alias("point_count"),
        )
        .withColumn("tier", F.lit(tier_name))
    )


def quantile_sketch_downsample(
    parent_df: DataFrame, child_tier_name: str, keys: tuple[str, ...] = ("lang",)
) -> DataFrame:
    """Coarser-tier quantile partial: merge the stored child KLLs."""
    b = bucket_start("bucket_start", child_tier_name).alias("bucket_start")
    present = [k_ for k_ in keys if k_ in parent_df.columns]
    return (
        parent_df.groupBy(b, *present)
        .agg(
            F.kll_merge_agg_bigint("kll").alias("kll"),
            F.sum("point_count").alias("point_count"),
        )
        .withColumn("tier", F.lit(child_tier_name))
    )


def with_quantiles(sketch_df: DataFrame, qs: tuple[float, ...] = (0.5, 0.95, 0.99)) -> DataFrame:
    """Materialize quantile estimates from the stored KLL partial."""
    out = sketch_df
    for q in qs:
        out = out.withColumn(
            f"q{int(q * 100)}",
            F.kll_sketch_get_quantile_bigint("kll", F.lit(float(q))),
        )
    return out


# ---------------------------------------------------------------------------
# Theta sketches: SET-OPERATION distinct counts (retention / churn)
# ---------------------------------------------------------------------------


def theta_key_sketch_daily(
    df: DataFrame, key_col: str = "url", time_col: str = "warc_ts"
) -> DataFrame:
    """One theta sketch of the distinct keys per day. Unlike HLL, theta
    sketches support INTERSECTION and DIFFERENCE — the primitives behind
    retention/churn questions ("how many of yesterday's urls came back
    today?") that at 10^12 keys would otherwise be a day-over-day
    distinct self-join of the full key space."""
    return (
        df.select(F.to_date(F.col(time_col).cast("timestamp")).alias("day"), key_col)
        .groupBy("day")
        .agg(F.theta_sketch_agg(key_col).alias("keys_theta"))
    )


def retained_estimate(daily_theta: DataFrame) -> DataFrame:
    """Day-over-day retention from stored theta partials: for each day,
    the estimated |keys(day) ∩ keys(day-1)|, |union|, and the retention
    ratio — a join of 365 sketch rows/year, never of the key space."""
    a = daily_theta.alias("a")
    b = daily_theta.alias("b")
    j = a.join(b, F.col("b.day") == F.date_add(F.col("a.day"), 1))
    inter = F.theta_sketch_estimate(
        F.theta_intersection(F.col("a.keys_theta"), F.col("b.keys_theta"))
    )
    prev = F.theta_sketch_estimate(F.col("a.keys_theta"))
    return j.select(
        F.col("b.day").alias("day"),
        inter.alias("retained_est"),
        prev.alias("prev_total_est"),
        (inter / prev).alias("retention_ratio_est"),
    )
