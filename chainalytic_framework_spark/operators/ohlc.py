"""OHLC (open/high/low/close) candlestick rollup — mergeable partials.

The classic financial/TSDB continuous-aggregate measure (TimescaleDB
``candlestick_agg``, InfluxDB ``first/last/min/max``): per (key, bucket),
the first value, last value, min and max, where first/last are ordered
by event time with a unique tiebreaker for determinism under ties.

Mergeability is the point: an OHLC partial that carries its opening and
closing ORDER KEYS (``open_ts, open_tie`` / ``close_ts, close_tie``)
re-aggregates exactly — merged open = the open of the partial with the
smallest open key (``min_by``), merged high/low/count = min/max/sum.
That property is what lets the tier cascade (1m → 1h → 1d → 30d,
``downsample_with_spec`` in operators/registry.py) maintain candles
without ever re-reading raw input, exactly like the engine's
sum/count/min/max measures (the ``reagg`` of ``DEFAULT_SET``).

Reference analogue: grouped last-value per key (dict-overwrite
semantics, ``/root/reference/zones/public-icon/aggregator/transform_registry/stake_top100.py:53-54``)
is the reference's "close"; it never keeps the open — engine-added
capability (SURVEY §2.11 family).

Scale notes (10^12 rows):
- One hash-partial + final aggregation per tier; the shuffle carries one
  partial row per (key, bucket) per map task — ``min_by``/``max_by``
  combine map-side like any algebraic aggregate.
- No window functions, no sort: the ordering lives inside the struct
  comparison of ``min_by``, so the plan is a plain two-phase hash agg
  with whole-stage codegen.
- Merging coarser tiers reads only the parent tier (rows ∝ distinct
  (key, bucket)), never raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ohlc_partials(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tie_col: str,
    value_col: str,
) -> DataFrame:
    """Aggregate raw rows into one OHLC partial per key group.

    ``tie_col`` must be unique within (key, ts) ties — it makes open and
    close deterministic regardless of partitioning or accumulation
    order (the engine's cross-parallelism exactness requirement).

    Output per key: ``open_val, open_ts, open_tie, high_val, low_val,
    close_val, close_ts, close_tie, point_count``.
    """
    okey = F.struct(F.col(ts_col).alias("ts"), F.col(tie_col).alias("tie"))
    out = df.groupBy(*key_cols).agg(
        F.min_by(value_col, okey).alias("open_val"),
        F.min(okey).alias("_ok"),
        F.max(value_col).alias("high_val"),
        F.min(value_col).alias("low_val"),
        F.max_by(value_col, okey).alias("close_val"),
        F.max(okey).alias("_ck"),
        F.count(F.lit(1)).alias("point_count"),
    )
    return out.select(
        *key_cols,
        "open_val",
        F.col("_ok.ts").alias("open_ts"),
        F.col("_ok.tie").alias("open_tie"),
        "high_val",
        "low_val",
        "close_val",
        F.col("_ck.ts").alias("close_ts"),
        F.col("_ck.tie").alias("close_tie"),
        "point_count",
    )


def ohlc_merge(partials: DataFrame, key_cols: list[str]) -> DataFrame:
    """Re-aggregate OHLC partials to a coarser key grain (tier cascade
    step). Exact: merged candle == candle computed directly from raw,
    because the opening/closing order keys ride along."""
    ok = F.struct(F.col("open_ts").alias("ts"), F.col("open_tie").alias("tie"))
    ck = F.struct(F.col("close_ts").alias("ts"), F.col("close_tie").alias("tie"))
    out = partials.groupBy(*key_cols).agg(
        F.min_by("open_val", ok).alias("open_val"),
        F.min(ok).alias("_ok"),
        F.max("high_val").alias("high_val"),
        F.min("low_val").alias("low_val"),
        F.max_by("close_val", ck).alias("close_val"),
        F.max(ck).alias("_ck"),
        F.sum("point_count").alias("point_count"),
    )
    return out.select(
        *key_cols,
        "open_val",
        F.col("_ok.ts").alias("open_ts"),
        F.col("_ok.tie").alias("open_tie"),
        "high_val",
        "low_val",
        "close_val",
        F.col("_ck.ts").alias("close_ts"),
        F.col("_ck.tie").alias("close_tie"),
        "point_count",
    )
