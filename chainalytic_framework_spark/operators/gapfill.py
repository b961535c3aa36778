"""Gap-fill: LOCF (last observation carried forward) over tier buckets.

Two implementations with identical semantics:

1. ``gapfill_locf`` — pure JVM-side DataFrame plan (the default):
   per-url bucket spine via ``sequence()`` + ``explode``, left join of
   observations, then ``last(x, ignorenulls=True)`` over an ordered
   window. Stays inside whole-stage codegen; no Python in the hot path.
2. ``gapfill_locf_pandas`` — ``applyInPandas`` reindex+ffill variant,
   no engine path calls it: it is the independent reference the
   equality test (tests/test_gapfill.py) holds ``gapfill_locf`` to.

Semantics (FIXTURES.md §2):
- A gap bucket gets the measures of the last OBSERVED bucket carried
  forward, ``point_count = 0`` and ``gap_filled = true`` (it is an
  interpolation, not an observation — counts must say so).
- Urls are only filled INSIDE their own [first, last] observation span
  (plus an optional boundary carry-in): a url never observed before a
  bucket produces no row there — no fabrication.
- Cross-run boundaries: ``boundary_state`` (last observed row per url
  from previous runs) is unioned in as a seed, used for carrying, then
  dropped from output — SURVEY.md §7 step 4's subtle correctness point.

Reference analogue: the reference emits one point per height
unconditionally by re-emitting carried state each block
(``stake_history.py:62-79,170-190`` — previous totals re-emitted even
when a block contains no stake events). LOCF generalizes exactly that
"carry state to every tick" behavior to sparse per-url series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bucketing import SECONDS

_CARRY = ["byte_size", "text_len_sum", "text_len_min", "text_len_max"]


def gapfill_locf(
    tier_df: DataFrame,
    tier_name: str,
    boundary_state: DataFrame | None = None,
    range_start=None,
) -> DataFrame:
    """Fill per-url bucket gaps with LOCF. Input: url-grain tier table
    (bucket_start, url_hash, url, lang, measures...). Output: same
    schema, gap rows added with gap_filled=true.

    ``range_start`` contract: pass a value on the SAME timestamp basis
    as the tier data — a timestamp collected from the tier (or derived
    from one) round-trips consistently through F.lit on any driver.
    """
    secs = SECONDS[tier_name]
    obs = tier_df.select(
        "bucket_start", "url_hash", "url", "lang", "point_count", *_CARRY
    ).withColumn("_seed", F.lit(False))
    if boundary_state is not None:
        seed = boundary_state.select(
            "bucket_start", "url_hash", "url", "lang", "point_count", *_CARRY
        ).withColumn("_seed", F.lit(True))
        obs = obs.unionByName(seed)

    # Per-url spine: every tier bucket between first and last observation.
    # sequence+explode is JVM-side; spine size == the url's active span.
    bounds = obs.groupBy("url_hash", "url", "lang").agg(
        F.min("bucket_start").alias("_b0"), F.max("bucket_start").alias("_b1")
    )

    if range_start is None:
        spine = bounds.select(
            "url_hash",
            "url",
            "lang",
            F.explode(F.expr(f"sequence(_b0, _b1, interval {secs} seconds)")).alias("bucket_start"),
        )
        joined = spine.join(
            obs, on=["url_hash", "url", "lang", "bucket_start"], how="left"
        ).withColumn("_pre", F.lit(False))
    else:
        # BOUNDED spine: clamp _b0 to the first tier bucket >= range_start.
        # Without the clamp, spine size == a url's full active SPAN: a url
        # observed in 2020 and again in 2026 explodes to ~3M rows at the
        # 1m tier just to serve this window. Rows BEFORE the window
        # (earlier observations and the boundary-state seed) still feed
        # the LOCF carry — they are unioned into the window frame and
        # dropped from output — so the result is identical to the
        # unbounded spine filtered to [range_start, ∞) (equality-tested).
        rs_e = F.lit(range_start).cast("timestamp").cast("long")
        rs_c = F.timestamp_seconds(
            ((rs_e + F.lit(secs - 1)) / secs).cast("long") * secs
        )
        bounds = bounds.withColumn("_b0", F.greatest(F.col("_b0"), rs_c)).where(
            F.col("_b1") >= F.col("_b0")
        )
        spine = bounds.select(
            "url_hash",
            "url",
            "lang",
            F.explode(F.expr(f"sequence(_b0, _b1, interval {secs} seconds)")).alias("bucket_start"),
        )
        in_window = obs.where(F.col("bucket_start") >= rs_c)
        pre = obs.where(F.col("bucket_start") < rs_c)
        joined = (
            spine.join(in_window, on=["url_hash", "url", "lang", "bucket_start"], how="left")
            .withColumn("_pre", F.lit(False))
            .unionByName(pre.withColumn("_pre", F.lit(True)))
        )

    w = (
        Window.partitionBy("url_hash", "url", "lang")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = joined.select(
        "bucket_start",
        "url_hash",
        "url",
        "lang",
        F.coalesce("point_count", F.lit(0)).alias("point_count"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in _CARRY],
        F.col("point_count").isNull().alias("gap_filled"),
        F.coalesce("_seed", F.lit(False)).alias("_seed"),
        "_pre",
    )
    out = filled.where(~F.col("_seed") & ~F.col("_pre")).drop("_seed", "_pre")
    return out.withColumn("tier", F.lit(tier_name))


def gapfill_locf_pandas(
    tier_df: DataFrame, tier_name: str, n_buckets: int = 64
) -> DataFrame:
    """applyInPandas LOCF variant: per url-bucket group, reindex each
    url's bucket sequence to the full tier-step range and ffill —
    semantically identical to ``gapfill_locf`` (equality-tested).
    Useful when gap-fill runs inside an existing pandas fold stage;
    the JVM plan is otherwise preferred (whole-stage codegen)."""
    import numpy as np
    import pandas as pd

    secs = SECONDS[tier_name]
    schema = (
        "bucket_start timestamp, url_hash long, url string, lang string, "
        "point_count long, byte_size long, text_len_sum long, "
        "text_len_min long, text_len_max long, gap_filled boolean"
    )

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for (url, uh, lang), g in pdf.groupby(["url", "url_hash", "lang"], sort=False):
            g = g.sort_values("bucket_start")
            idx = pd.date_range(g["bucket_start"].min(), g["bucket_start"].max(),
                                freq=f"{secs}s")
            r = g.set_index("bucket_start").reindex(idx)
            filled = r["point_count"].isna()
            r[_CARRY] = r[_CARRY].ffill()
            r["point_count"] = r["point_count"].fillna(0)
            out = pd.DataFrame(
                {
                    "bucket_start": idx,
                    "url_hash": np.int64(uh),
                    "url": url,
                    "lang": lang,
                    "point_count": r["point_count"].to_numpy(dtype="int64"),
                    "byte_size": r["byte_size"].to_numpy(dtype="int64"),
                    "text_len_sum": r["text_len_sum"].to_numpy(dtype="int64"),
                    "text_len_min": r["text_len_min"].to_numpy(dtype="int64"),
                    "text_len_max": r["text_len_max"].to_numpy(dtype="int64"),
                    "gap_filled": filled.to_numpy(dtype="bool"),
                }
            )
            outs.append(out)
        if not outs:
            return pd.DataFrame(
                {c.split()[0]: pd.Series(dtype=t) for c, t in zip(
                    schema.split(", "),
                    ["datetime64[us]", "int64", "object", "object", "int64",
                     "int64", "int64", "int64", "int64", "bool"],
                )}
            )
        return pd.concat(outs, ignore_index=True)

    src = tier_df.select(
        "bucket_start", "url_hash", "url", "lang", "point_count", *_CARRY
    ).withColumn("_b", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))
    out = src.groupBy("_b").applyInPandas(fill, schema=schema)
    return out.withColumn("tier", F.lit(tier_name))


def last_observation_state(tier_df: DataFrame) -> DataFrame:
    """Boundary-state extractor: the last OBSERVED row per url of a run
    — the seed for the next run's carry-in. ``max_by`` keeps the whole
    measure tuple from the max-bucket row in one pass."""
    src = tier_df.where(~F.col("gap_filled")) if "gap_filled" in tier_df.columns else tier_df
    return (
        src.groupBy("url_hash", "url", "lang")
        .agg(
            F.max("bucket_start").alias("bucket_start"),
            *[F.max_by(c, "bucket_start").alias(c) for c in ("point_count", *_CARRY)],
        )
        .select("bucket_start", "url_hash", "url", "lang", "point_count", *_CARRY)
    )


def gapfill_interpolate_epoch(
    obs: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_col: str,
    secs: int,
) -> DataFrame:
    """LINEAR-interpolation gap-fill (the TimescaleDB ``interpolate()``
    analogue to LOCF): per-key spine over [first, last] observation,
    gap buckets get v0 + (v1-v0)·(t-t0)/(t1-t0) between their bracketing
    observations. Works on an epoch-seconds bucket column and an
    INTEGER value column, and keeps the interpolation in pure integer
    math (scaled ×1e4, floor division) so results are bit-identical
    across engines and partitionings — no float rounding at .5
    boundaries.

    Every spine row lies between two observations of its key (the spine
    spans first..last), so v0/t0 (last non-null preceding) and v1/t1
    (first non-null following) always exist. Plan: one groupBy for
    bounds, sequence+explode spine (JVM), one left join, two window
    passes over the same (key, bucket) ordering — the same shuffle
    family as gapfill_locf.

    Output: key cols, bucket col, ``{value}_x1e4`` (scaled long),
    ``gap_filled``.
    """
    from pyspark.sql import Window

    bounds = obs.groupBy(*key_cols).agg(
        F.min(bucket_col).alias("_b0"), F.max(bucket_col).alias("_b1")
    )
    spine = bounds.select(
        *key_cols, F.explode(F.sequence("_b0", "_b1", F.lit(secs))).alias(bucket_col)
    )
    j = spine.join(obs, [*key_cols, bucket_col], "left").withColumn(
        "gap_filled", F.col(value_col).isNull()
    )
    w_back = (
        Window.partitionBy(*key_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*key_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    t = F.col(bucket_col)
    obs_t = F.when(v.isNotNull(), t)
    out = (
        j.withColumn("_v0", F.last(v, ignorenulls=True).over(w_back))
        .withColumn("_t0", F.last(obs_t, ignorenulls=True).over(w_back))
        .withColumn("_v1", F.first(v, ignorenulls=True).over(w_fwd))
        .withColumn("_t1", F.first(obs_t, ignorenulls=True).over(w_fwd))
    )
    interp = F.col("_v0") * 10000 + F.floor(
        (F.col("_v1") - F.col("_v0"))
        * 10000
        * (t - F.col("_t0"))
        / (F.col("_t1") - F.col("_t0"))
    ).cast("long")
    return out.select(
        *key_cols,
        bucket_col,
        F.when(F.col("gap_filled"), interp)
        .otherwise(v * 10000)
        .cast("long")
        .alias(f"{value_col}_x1e4"),
        "gap_filled",
    )


def interp_at_points(
    obs: DataFrame,
    key_cols: list[str],
    epoch_col: str,
    value_col: str,
    points: DataFrame,
) -> DataFrame:
    """Point-in-time interpolated serve at ARBITRARY query timestamps
    (the serve-path sibling of :func:`gapfill_interpolate_epoch`, which
    fills a regular spine): for each (key, t_q) in ``points``, linearly
    interpolate between the key's bracketing observations — exact
    integer lerp ×1e4 (floor division), bit-identical across engines.

    Query timestamps outside [first, last] observation are emitted with
    a NULL value and ``bracketed=false`` — never extrapolated (the
    engine's no-fabrication rule). The lerp is bit-identical to the
    SQL oracle at any magnitude (shared double association) and exact
    while |Δv|·10⁴·Δt < 2⁵³. A query that lands exactly ON an
    observation returns that value (obs rows sort before query rows at
    equal epoch, so the backward scan sees them — including the last
    observation, where no forward bracket exists). ``obs`` must be
    unique per (key, epoch) — a tier table is.

    Plan: union(obs, points) tagged, ONE window-shuffle family on the
    key (backward last-ignorenulls + forward first-ignorenulls over the
    same ordering) — no join, no per-point probe. At 10^12 scale the
    window partitions by series key; per-key row counts are obs+queries
    for that key, the same bound as every serve read.

    ``points`` carries ``key_cols`` + ``epoch_col`` (epoch seconds).
    Output: key cols, ``t_q``, ``{value}_interp_x1e4`` (NULL when not
    bracketed), ``bracketed``.
    """
    from pyspark.sql import Window

    o = obs.select(
        *key_cols,
        F.col(epoch_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_v"),
        F.lit(0).alias("_isq"),
    )
    p = points.select(
        *key_cols,
        F.col(epoch_col).cast("long").alias("_t"),
        F.lit(None).cast("long").alias("_v"),
        F.lit(1).alias("_isq"),
    )
    u = o.unionByName(p)
    w_back = (
        Window.partitionBy(*key_cols)
        .orderBy("_t", "_isq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*key_cols)
        .orderBy("_t", "_isq")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v, t = F.col("_v"), F.col("_t")
    obs_t = F.when(v.isNotNull(), t)
    m = (
        u.withColumn("_v0", F.last(v, ignorenulls=True).over(w_back))
        .withColumn("_t0", F.last(obs_t, ignorenulls=True).over(w_back))
        .withColumn("_v1", F.first(v, ignorenulls=True).over(w_fwd))
        .withColumn("_t1", F.first(obs_t, ignorenulls=True).over(w_fwd))
        .where(F.col("_isq") == 1)
    )
    # a query landing exactly ON an observation (t0 == t_q) is answered
    # by that observation even at the series edge where no forward
    # observation exists; otherwise both brackets are required
    exact_hit = F.col("_t0") == t
    bracketed = F.col("_v0").isNotNull() & (exact_hit | F.col("_v1").isNotNull())
    # in the lerp branch t0 < t_q <= t1, so t1 - t0 > 0. The numerator
    # chain is evaluated in DOUBLE with the same left-to-right
    # association as the oracle SQL ((v1-v0) * 1e4 * (t-t0)): IEEE ops
    # round identically in both engines at ANY magnitude, where an
    # int64 chain would silently wrap past 2^63 (and disagree with a
    # double oracle past 2^53). Exact (integer-valued) below 2^53.
    interp = F.when(exact_hit, F.col("_v0") * 10000).otherwise(
        F.col("_v0") * 10000
        + F.floor(
            (F.col("_v1") - F.col("_v0")).cast("double")
            * 10000.0
            * (t - F.col("_t0")).cast("double")
            / (F.col("_t1") - F.col("_t0")).cast("double")
        ).cast("long")
    )
    return m.select(
        *key_cols,
        t.alias("t_q"),
        F.when(bracketed, interp).cast("long").alias(f"{value_col}_interp_x1e4"),
        bracketed.alias("bracketed"),
    )
