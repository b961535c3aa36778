"""Pluggable metric-spec registry: the engine's Transform-plugin surface.

SURVEY.md §2.10: the reference's entire extension model is "drop a
Transform module in ``transform_registry/`` and list it in config"
(``/root/reference/src/chainalytic/common/zone_manager.py:39-45``,
``src/chainalytic/aggregator/transform.py:58-59``,
``common/default_cfg/chain_registry.yml:8-14``) — the Kernel then
dispatches every block to each registered transform. Here the same
idea is declarative: a **MetricSet** is a named bundle of

- metric specs: output column name + aggregation expression over source
  rows + re-aggregation expression over stored partials (the cascade),
- a tier schedule (which tiers this set materializes),
- an optional per-key stateful fold fn (``applyInPandas`` shape, like
  operators/fold.py's ``fold_observations``).

``plans/pipeline.run_pipeline`` consumes a set by name, so adding a
user metric = ``register(MetricSet(...))`` — no engine edits, exactly
the reference's drop-in-a-module contract.

Scale invariant every spec must satisfy: the (agg, reagg) pair must be
a MERGEABLE partial — ``reagg(agg(A) ∪ agg(B)) == agg(A ∪ B)`` —
because coarser tiers re-aggregate stored partials and never re-read
raw input. sum/count→sum, min→min, max→max, sum-of-squares→sum all
qualify; avg/median do not (derive them at query time). The property
test ``tests/test_registry.py::test_custom_set_cascade_lossless``
checks this for every registered set.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bucketing import SECONDS, TIER_ORDER, bucket_start

# agg/reagg are THUNKS (lazy Column factories): pyspark Column
# construction needs an active SparkSession, so specs must be safely
# declarable at module import time.
AggFactory = Callable[[], Column]


@dataclass(frozen=True)
class MetricSpec:
    """One output measure: ``agg`` builds it from source rows; ``reagg``
    re-aggregates the stored partial column of the same name."""

    name: str
    agg: AggFactory
    reagg: AggFactory


@dataclass(frozen=True)
class MetricSet:
    """A named, registrable bundle of metric specs + tier schedule +
    optional stateful fold (the reference's Transform unit)."""

    name: str
    metrics: tuple[MetricSpec, ...]
    tiers: tuple[str, ...] = ("1m", "1h", "1d", "30d")
    fold: Callable[[DataFrame], DataFrame] | None = None
    # extra GROUP keys derived from source rows at the finest tier
    # (e.g. a histogram value-bucket): (name, lazy Column factory).
    # Coarser tiers carry them as plain grain columns — so a derived
    # key must be a pure row function (data-independent layout), which
    # is exactly what keeps the partials mergeable. Sets with derived
    # keys feed rollup_with_spec/downsample_with_spec; the gap-fill
    # stage of run_pipeline treats them as grain (LOCF across a
    # value-bucket grain is meaningless — schedule such sets without
    # gap-fill).
    derived_keys: tuple[tuple[str, AggFactory], ...] = ()

    def metric_names(self) -> list[str]:
        return [m.name for m in self.metrics]

    def cascade_pairs(self) -> list[tuple[str, str]]:
        """(child, parent) pairs of the schedule, finest first. The
        parent of each scheduled tier is the previous scheduled tier,
        so a schedule may skip tiers (e.g. 1m → 1d directly)."""
        sched = [t for t in TIER_ORDER if t in self.tiers]
        return [(sched[i], sched[i - 1]) for i in range(1, len(sched))]

    def finest(self) -> str:
        return next(t for t in TIER_ORDER if t in self.tiers)


_REGISTRY: dict[str, MetricSet] = {}


def register(ms: MetricSet, replace: bool = False) -> MetricSet:
    """Register a metric set by name. Every set must carry a
    ``point_count`` count metric — the pipeline's manifest metrics and
    gap-fill no-fabrication flag both key off it."""
    if ms.name in _REGISTRY and not replace:
        raise ValueError(f"metric set {ms.name!r} already registered")
    if "point_count" not in ms.metric_names():
        raise ValueError("every metric set must include a 'point_count' count metric")
    unknown = [t for t in ms.tiers if t not in SECONDS]
    if unknown:
        raise ValueError(f"unknown tiers in schedule: {unknown}")
    _REGISTRY[ms.name] = ms
    return ms


def get_metric_set(name: str) -> MetricSet:
    if name not in _REGISTRY:
        raise KeyError(f"no metric set {name!r}; registered: {sorted(_REGISTRY)}")
    return _REGISTRY[name]


def metric_sets() -> list[str]:
    return sorted(_REGISTRY)


# ---------------------------------------------------------------------------
# generic rollup / cascade over a spec
# ---------------------------------------------------------------------------


def rollup_with_spec(
    df: DataFrame,
    ms: MetricSet,
    tier_name: str,
    time_col: str = "warc_ts",
    keys: tuple[str, ...] = ("url_hash", "url", "lang"),
) -> DataFrame:
    """Finest-tier rollup of source rows under a metric set: one
    groupBy on (bucket, keys) with map-side partial aggregation; no
    Python."""
    b = bucket_start(time_col, tier_name).alias("bucket_start")
    present = [k for k in keys if k in df.columns]
    derived = [f().alias(n) for n, f in ms.derived_keys]
    return (
        df.groupBy(b, *present, *derived)
        .agg(*[m.agg().alias(m.name) for m in ms.metrics])
        .withColumn("tier", F.lit(tier_name))
        .withColumn("gap_filled", F.lit(False))
    )


def _agg_clustered(df: DataFrame, ms: MetricSet, time_col: str, tier_name: str,
                   n_parts: int, keys: list, key_names: list[str], aggs: list) -> DataFrame:
    """Shared body of :func:`rollup_with_spec_clustered` and
    :func:`downsample_with_spec_clustered`: ``keys`` are the grouping
    keys after the leading (bucket_day, _wb, bucket_start), and
    ``key_names`` their output names."""
    from .bucketing import url_bucket

    pre = (
        df.withColumn("bucket_start", bucket_start(time_col, tier_name))
        .withColumn("bucket_day", F.to_date("bucket_start"))
        .withColumn("_wb", F.pmod(F.col("url_hash"), F.lit(n_parts)).cast("int"))
        .repartition(n_parts, F.col("bucket_day"), F.col("_wb"))
    )
    out = (
        pre.groupBy("bucket_day", "_wb", F.col("bucket_start"), *keys)
        .agg(*aggs)
        .withColumn("tier", F.lit(tier_name))
        .withColumn("gap_filled", F.lit(False))
        .withColumn("url_bucket", url_bucket("url"))
        .sortWithinPartitions("bucket_day", "url_hash")
    )
    return out.select(
        "bucket_start", *key_names, *ms.metric_names(),
        "tier", "gap_filled", "bucket_day", "url_bucket",
    )


def rollup_with_spec_clustered(
    df: DataFrame,
    ms: MetricSet,
    tier_name: str,
    n_parts: int,
    time_col: str = "warc_ts",
    keys: tuple[str, ...] = ("url_hash", "url", "lang"),
) -> DataFrame:
    """Finest-tier rollup whose ONE exchange is ALREADY the write
    layout (optimization r06): source rows are hash-repartitioned on
    (bucket_day, url_hash group) BEFORE the aggregation, and because
    those two columns lead the grouping key (functionally determined
    by bucket_start/url_hash, so the groups are identical to
    :func:`rollup_with_spec`), the aggregate's required distribution
    is satisfied and no second exchange is planned. The round-5 chain
    paid two tier-row shuffles — the agg exchange, then
    ``cluster_for_write_hash`` — this pays one, on the narrower source
    rows, and the local sort restores row-group min/max clustering.
    Output columns and values match :func:`rollup_with_spec` plus the
    ``bucket_day``/``url_bucket`` layout columns exactly (order
    included). Requires ``url_hash`` and ``url`` in ``df``."""
    present = [k for k in keys if k in df.columns]
    derived = [f().alias(n) for n, f in ms.derived_keys]
    return _agg_clustered(
        df, ms, time_col, tier_name, n_parts,
        present + derived, present + [n for n, _ in ms.derived_keys],
        [m.agg().alias(m.name) for m in ms.metrics],
    )


def downsample_with_spec_clustered(
    parent_tier_df: DataFrame,
    ms: MetricSet,
    child_tier_name: str,
    n_parts: int,
    keys: tuple[str, ...] = ("url_hash", "url", "lang"),
) -> DataFrame:
    """Downsample whose ONE exchange is already the child tier's write
    layout — the cascade-child analogue of
    :func:`rollup_with_spec_clustered` (same leading-key trick, same
    exact-output contract vs :func:`downsample_with_spec` plus the
    layout columns). Requires url_hash/url in the parent grain."""
    src = parent_tier_df
    if "gap_filled" in src.columns:
        src = src.where(~F.col("gap_filled"))
    present = [k for k in list(keys) + [n for n, _ in ms.derived_keys]
               if k in src.columns]
    return _agg_clustered(
        src, ms, "bucket_start", child_tier_name, n_parts, present, present,
        [m.reagg().alias(m.name) for m in ms.metrics],
    )


def downsample_with_spec(
    parent_tier_df: DataFrame,
    ms: MetricSet,
    child_tier_name: str,
    keys: tuple[str, ...] = ("url_hash", "url", "lang"),
) -> DataFrame:
    """Re-aggregate a finer tier's stored partials into the next coarser
    scheduled tier (continuous-aggregate maintenance, spec-driven).
    Gap-filled rows are excluded — LOCF points are interpolations, not
    observations. ``keys`` is the grain; only columns actually present
    participate."""
    src = parent_tier_df
    if "gap_filled" in src.columns:
        src = src.where(~F.col("gap_filled"))
    kexprs = [bucket_start("bucket_start", child_tier_name).alias("bucket_start")]
    group = ["bucket_start"]
    for k in list(keys) + [n for n, _ in ms.derived_keys]:
        if k in src.columns:
            kexprs.append(F.col(k))
            group.append(k)
    keys = kexprs
    return (
        src.select(*keys, *ms.metric_names())
        .groupBy(*group)
        .agg(*[m.reagg().alias(m.name) for m in ms.metrics])
        .withColumn("tier", F.lit(child_tier_name))
        .withColumn("gap_filled", F.lit(False))
    )


# ---------------------------------------------------------------------------
# built-in sets
# ---------------------------------------------------------------------------

# The engine default, and the ONE definition of the tier measures: the
# batch tiers (run_pipeline) and the streaming 1m rollup
# (streaming/stream.py) both aggregate these specs, and
# tests/test_registry.py checks them against a pandas oracle.
# Operates on the prepared-observation schema (text_len/html_len), i.e.
# AFTER prepare_observations narrowed blobs to lengths JVM-side.
DEFAULT_SET = register(
    MetricSet(
        name="default",
        metrics=(
            MetricSpec("point_count", lambda: F.count(F.lit(1)), lambda: F.sum("point_count")),
            MetricSpec("byte_size", lambda: F.sum("html_len"), lambda: F.sum("byte_size")),
            MetricSpec("text_len_sum", lambda: F.sum("text_len"), lambda: F.sum("text_len_sum")),
            MetricSpec("text_len_min", lambda: F.min("text_len"), lambda: F.min("text_len_min")),
            MetricSpec("text_len_max", lambda: F.max("text_len"), lambda: F.max("text_len_max")),
        ),
    )
)

# A second shipped set proving the extension path: adds a sum-of-squares
# partial (exact variance derivable at query time: (sq - sum²/n) / n)
# and a max html size — both mergeable. Schedule skips 1h to prove the
# cascade follows the SCHEDULE, not the hardcoded tier chain.
TEXTSTATS_SET = register(
    MetricSet(
        name="textstats",
        metrics=(
            MetricSpec("point_count", lambda: F.count(F.lit(1)), lambda: F.sum("point_count")),
            MetricSpec("text_len_sum", lambda: F.sum("text_len"), lambda: F.sum("text_len_sum")),
            MetricSpec(
                "text_len_sq_sum",
                lambda: F.sum(F.col("text_len") * F.col("text_len")),
                lambda: F.sum("text_len_sq_sum"),
            ),
            MetricSpec("html_len_max", lambda: F.max("html_len"), lambda: F.max("html_len_max")),
        ),
        tiers=("1m", "1d", "30d"),
    )
)


def candle_specs(
    ts_col: str, tie_col: str, value_col: str, prefix: str = ""
) -> tuple[MetricSpec, ...]:
    """OHLC candle measures as registry-compatible MERGEABLE partials
    (operators/ohlc.py semantics, single-column form).

    open/close are stored as ONE struct partial each — ``(ts, tie,
    val)`` — whose lexicographic ``min``/``max`` both builds the partial
    from raw rows and re-aggregates stored partials: ``reagg(agg(A) ∪
    agg(B)) == agg(A ∪ B)`` holds because struct comparison is total,
    so the registry's cascade invariant (and its property test) covers
    candles with no special-casing. Including ``val`` as the last
    struct field makes the result deterministic at any parallelism even
    if (ts, tie) ties — ties then break on the value itself.

    Query-time flattening: ``open_k.val`` is the opening value,
    ``close_k.val`` the closing one. Plan shape: plain two-phase hash
    agg with map-side combine — no window, no sort, codegen throughout.
    """
    p = prefix

    def key() -> Column:
        return F.struct(
            F.col(ts_col).cast("timestamp").cast("long").alias("ts"),
            F.col(tie_col).alias("tie"),
            F.col(value_col).alias("val"),
        )

    return (
        MetricSpec(f"{p}open_k", lambda: F.min(key()), lambda: F.min(f"{p}open_k")),
        MetricSpec(f"{p}close_k", lambda: F.max(key()), lambda: F.max(f"{p}close_k")),
        MetricSpec(f"{p}high", lambda: F.max(value_col), lambda: F.max(f"{p}high")),
        MetricSpec(f"{p}low", lambda: F.min(value_col), lambda: F.min(f"{p}low")),
    )


# Candles as a shipped pipeline metric set: text_len candlesticks per
# (url, bucket) over the prepared-observation schema (tie = text_hash —
# deterministic, content-derived; with val in the struct the partial is
# order-exact even under full (ts, tie) ties). run_pipeline
# (metric_set="candles") materializes and cascades these tiers with the
# same one-scan + cached-frame plan as the default set.
CANDLE_SET = register(
    MetricSet(
        name="candles",
        metrics=(
            MetricSpec("point_count", lambda: F.count(F.lit(1)), lambda: F.sum("point_count")),
        )
        + candle_specs("warc_ts", "text_hash", "text_len", prefix="len_"),
    )
)
