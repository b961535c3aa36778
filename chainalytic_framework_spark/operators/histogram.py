"""Mergeable value-distribution histograms per tier + quantile-from-
histogram reads — the distribution analogue of the count/sum tiers.

Why histograms as a tier artifact: at 10^12 rows you cannot recompute
a percentile from raw for every dashboard window. Prometheus native
histograms and TimescaleDB continuous aggregates both solve this the
same way: store per-bucket COUNTS in a fixed, data-independent bucket
layout, because counts merge losslessly across both time (1m → 1h →
1d cascade) and space (partial aggregation on every executor). A KLL
sketch (operators/sketches.py) answers arbitrary quantiles with
per-item error; the histogram answers them with per-BUCKET resolution
but is exactly mergeable, integer-only, and oracle-checkable — the two
are complementary, which is why the engine carries both.

Bucket layout — "leading-decimal-digit" semi-log buckets: for an
integer measure c > 0 the bucket lower bound keeps the first decimal
digit and zeroes the rest (7→7, 19→10, 955→900, 65535→60000); c <= 0
maps to bucket 0. That is 9 buckets per decade — log-uniform relative
error <= 11% on the bound — and is computed with pure string/integer
expressions (no log(), no float), so Spark and DuckDB produce
bit-identical bucket ids and the whole tier passes the driver's
value-hash gate. The layout is data-independent, which is the property
that makes partials mergeable without re-bucketing.

Quantile-from-histogram: within a series group, order buckets by lower
bound, take the cumulative count, and return the smallest bucket whose
cumulative count reaches ceil(q * total). Integer arithmetic end to
end — the answer is a bucket lower bound, deterministic across
engines, partitionings, and merge orders.

Reference analogue: the reference stores only scalar aggregates per
height (``stake_history.py:76-79``); distribution tiers are
engine-added capability in the SURVEY §2.11 family alongside the
HLL/KLL sketch tiers.

Scale notes (10^12 rows): the histogram tier is |series| x |buckets|
~ 40x a plain tier row count — still ~8 orders below raw. Rollup is
one shuffle with map-side partial aggregation (counts combine on the
executor before the exchange); downsample reads the stored child tier
only. No UDF, no Python in the row path; everything whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def decade_digit_bucket(c: Column) -> Column:
    """Lower bound of the leading-decimal-digit bucket of integer ``c``.

    Pure string/integer math (substr + rpad), bit-identical to the
    DuckDB oracle expression; <= 0 collapses to bucket 0.
    """
    s = c.cast("string")
    lo = F.rpad(F.substring(s, 1, 1), F.length(s).cast("int"), "0").cast("long")
    return F.when(c <= 0, F.lit(0).cast("long")).otherwise(lo)


def histogram_rollup(
    df: DataFrame,
    bucket_epoch: Column,
    series_cols: list[str],
    measure: Column,
) -> DataFrame:
    """Histogram tier: per (bucket_epoch, series, value-bucket) counts.

    One shuffle on (time bucket, series, hb_lo); counts partial-combine
    map-side. Output schema: series_cols + bucket_epoch, hb_lo, hb_count.
    """
    return (
        df.select(
            *series_cols,
            bucket_epoch.alias("bucket_epoch"),
            decade_digit_bucket(measure).alias("hb_lo"),
        )
        .groupBy(*series_cols, "bucket_epoch", "hb_lo")
        .agg(F.count(F.lit(1)).alias("hb_count"))
    )


def histogram_downsample(hist: DataFrame, series_cols: list[str], parent_secs: int) -> DataFrame:
    """Merge a finer histogram tier into a coarser one — reads the STORED
    child tier only (continuous-aggregate cascade), never raw. Lossless:
    the bucket layout is data-independent, so merging is `sum(hb_count)`
    per re-bucketed epoch. Same plan shape as the registry's
    ``downsample_with_spec``.
    """
    parent_epoch = ((F.col("bucket_epoch") / parent_secs).cast("long") * parent_secs).alias(
        "bucket_epoch"
    )
    return (
        hist.select(*series_cols, parent_epoch, "hb_lo", "hb_count")
        .groupBy(*series_cols, "bucket_epoch", "hb_lo")
        .agg(F.sum("hb_count").alias("hb_count"))
    )


def quantile_from_histogram(
    hist: DataFrame, series_cols: list[str], q_x100: int, out_col: str = "q_lo"
) -> DataFrame:
    """Per-series quantile read off a histogram tier: the smallest bucket
    lower bound whose cumulative count reaches ceil(q * total).

    q is given as an integer percentage (q_x100=90 -> p90) and the rank
    threshold ceil(total*q/100) is computed as the exact integral
    identity `(total*q + 99) DIV 100` — true integer arithmetic end to
    end, exact past 2^53 where a double division would round. Window
    cumsum + min-filter; one shuffle on the series key.
    """
    grp = series_cols + ["bucket_epoch"]
    w = Window.partitionBy(*grp).orderBy("hb_lo")
    wall = Window.partitionBy(*grp)
    cum = hist.select(
        *grp,
        "hb_lo",
        F.sum("hb_count").over(w).alias("_cum"),
        F.sum("hb_count").over(wall).alias("_total"),
    )
    need = F.expr(f"(_total * {int(q_x100)} + 99) DIV 100").cast("long")
    return (
        cum.where(F.col("_cum") >= need)
        .groupBy(*grp)
        .agg(F.min("hb_lo").alias(out_col))
    )


def psi_drift(
    df: DataFrame,
    key_cols: list[str],
    window_col: str,
    bucket_col: str,
) -> DataFrame:
    """Population-stability-index drift between two observation windows
    (the monitoring question behind every data-drift alert: "did this
    metric's DISTRIBUTION move?", which mean/percentile tiers can miss).

    ``window_col`` is 0 (baseline) / 1 (comparison); ``bucket_col`` is a
    data-independent bin id (use :func:`decade_digit_bucket` — float-free
    and engine-exact). Per key:

        psi_x1e8    = Σ_bins round((p_a−p_b)·ln(p_a/p_b)·10⁸)
        n_bins_both — bins populated in both windows (the Σ domain)
        n_bins_a_only / n_bins_b_only — appeared/vanished bins,
        reported instead of epsilon-smoothed (no fabricated mass; a
        vanished bin is itself a drift signal)

    PSI ≥ 0 always; >0.25 (i.e. 25_000_000) is the classic "major
    shift" threshold. Per-term rounding on ratios of exact integers is
    the same cross-engine determinism contract as the surprisal/tf-idf
    family (functions/text.py).

    Plan: ONE scan — conditional agg per (key, bucket), window totals
    ride a key-partition window, final key agg; three bounded shuffles,
    rows bounded by keys × bins (bins ≈ 9/decade).
    """
    return psi_from_counts(
        df.select(*key_cols, window_col, bucket_col, F.lit(1).alias("_n")),
        key_cols, window_col, bucket_col, "_n",
    )


def psi_from_counts(
    df: DataFrame,
    key_cols: list[str],
    window_col: str,
    bucket_col: str,
    count_col: str,
) -> DataFrame:
    """:func:`psi_drift` over PRE-AGGREGATED bucket counts — the form a
    routed read produces (histogram tier counts are additive, so PSI
    between two arbitrary time ranges is served from the hist tiers
    without touching raw; operators/router.py::read_routed_drift).
    Same output columns and per-term x1e8 determinism contract."""
    from pyspark.sql import Window

    w = F.col(window_col)
    n = F.col(count_col)
    per_bin = df.groupBy(*key_cols, bucket_col).agg(
        F.sum(F.when(w == 0, n).otherwise(0)).alias("_ca"),
        F.sum(F.when(w == 1, n).otherwise(0)).alias("_cb"),
    )
    wk = Window.partitionBy(*key_cols)
    t = per_bin.select(
        *key_cols,
        "_ca",
        "_cb",
        F.sum("_ca").over(wk).alias("_na"),
        F.sum("_cb").over(wk).alias("_nb"),
    )
    both = (F.col("_ca") > 0) & (F.col("_cb") > 0)
    ca, cb = F.col("_ca").cast("double"), F.col("_cb").cast("double")
    na, nb = F.col("_na"), F.col("_nb")
    term = F.round(
        (ca / na - cb / nb) * F.log((ca * nb) / (cb * na)) * 100000000
    ).cast("long")
    return t.groupBy(*key_cols).agg(
        F.sum(F.when(both, term).otherwise(0)).cast("long").alias("psi_x1e8"),
        F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("n_bins_both"),
        F.sum(F.when((F.col("_ca") > 0) & (F.col("_cb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_bins_a_only"),
        F.sum(F.when((F.col("_ca") == 0) & (F.col("_cb") > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_bins_b_only"),
    )


def entropy_by_group(
    df: DataFrame,
    key_cols: list[str],
    cat_col: str,
    count_col: str | None = None,
) -> DataFrame:
    """Shannon entropy of a categorical distribution per key — the
    diversity/concentration monitor PSI's two-window drift test does
    not cover (one window, one number: "how spread is this host's
    language / content-type mix?"). Per key over category counts c_i,
    N = Σc_i:

        entropy_x1e8 = Σ_i round((c_i/N) · ln(N/c_i) · 10⁸)
        n_categories, n_total

    Per-term rounding on ratios of exact integers — the same
    cross-engine determinism contract as :func:`psi_drift` and the
    surprisal family. 0 for a single-category key; ln(k)·10⁸ when k
    categories are uniform. ``count_col=None`` counts rows (raw form);
    pass a count column to run over pre-aggregated tier counts (the
    routed-read form — category counts are additive across buckets).

    Plan: one hash agg per (key, category) — map-side combinable — then
    a key-partition window for N and one final key agg; rows after the
    first agg are bounded by keys × categories, never raw scale.
    """
    from pyspark.sql import Window

    n = F.lit(1) if count_col is None else F.col(count_col)
    per_cat = df.groupBy(*key_cols, cat_col).agg(F.sum(n).alias("_c"))
    wk = Window.partitionBy(*key_cols)
    t = per_cat.select(
        *key_cols, "_c", F.sum("_c").over(wk).alias("_n")
    )
    c, tot = F.col("_c").cast("double"), F.col("_n").cast("double")
    term = F.round((c / tot) * F.log(tot / c) * 100000000).cast("long")
    return t.groupBy(*key_cols).agg(
        F.sum(term).cast("long").alias("entropy_x1e8"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum("_c").cast("long").alias("n_total"),
    )
