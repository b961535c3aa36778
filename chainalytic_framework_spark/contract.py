"""Driver-contract query catalog: Spark DataFrame implementations paired
with DuckDB oracle SQL, over /root/testdata parquet tables.

Each entry exercises one operator family from SURVEY.md §2 against the
driver's correctness gate (row-count + schema + order-insensitive
value-hash at sf0.01). Conventions that make cross-engine hashing
deterministic:

- time buckets are emitted as BIGINT epoch seconds (``bucket_epoch``),
  never timestamps — immune to session-timezone rendering;
- money/value sums are integer cents (``CAST(round(value*100) AS
  BIGINT)`` summed) — no float accumulation-order sensitivity;
- floats that must appear (similarities, ratios) are rounded to 4dp;
- every top-k has a total deterministic sort (measure desc, then
  unique id) before LIMIT;
- every computed column is aliased identically in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


_FANOUT_CACHE: dict[str, int] = {}

# fan-out shuffle keys per driver table: hash-repartitioning on the
# table's unique id spreads evenly WITHOUT the per-input-partition
# local sort a keyless repartition(n) pays (sortBeforeRepartition,
# SPARK-23207) — that sort runs on the very single-task scan the
# fan-out exists to relieve (measured: tpch_q1 0.8→8.6 s with
# round-robin, back to baseline keyed/exempt). Deterministic column ⇒
# retry-safe. Only the tables whose queries do heavy map-side work per
# row (token/span explodes, window series) are listed; the TPC-H star
# tables are NOT — their headline queries are plain scan-aggregations
# where the extra exchange costs more than the parallelism buys
# (measured: tpch_q1 +0.3 s, join_revenue +0.15 s even keyed).
_FANOUT_KEYS: dict[str, list[str]] = {
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _achievable_splits(path: str) -> int | None:
    """Hard upper bound on parquet scan parallelism: row groups across
    the path's part files (a row group is the smallest unit a Spark
    scan task can own, whatever maxPartitionBytes says). None when the
    path is not a local file/dir or cannot be inspected."""
    import glob
    import os

    p = path[len("file:"):] if path.startswith("file:") else path
    if not os.path.exists(p):
        return None
    files = [p] if os.path.isfile(p) else sorted(
        glob.glob(os.path.join(p, "*.parquet"))
    )
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        return None


def _fanout_width(spark: SparkSession, path: str) -> int:
    """Repartition width for an under-splittable scan (0 = leave alone).

    The driver testdata ships ONE single-row-group parquet file per
    table, so the scan cannot split: every map-side stage hanging off
    it (token explode, span hashing, partial aggregation — the
    dominant cost of the text/dedup queries) runs on one core while
    the other 31 idle. When the achievable split count is below the
    session's defaultParallelism, fan rows out right after the scan by
    hash-repartitioning on the table's id column (``_FANOUT_KEYS``):
    Catalyst pushes filters and column pruning THROUGH a
    Repartition, so pruned scans stay pruned and the exchange carries
    only the needed columns of the (small, otherwise-unsplittable)
    file. On a real warehouse layout (row groups >> cores) the guard
    makes this a no-op — the guard, not the constant, is the
    scale-adaptive part. Opt out with SPARK_GRAFT_SCAN_FANOUT=off
    (tools/explain_audit.py does, to assert the at-scale plan shapes)."""
    import os

    if os.environ.get("SPARK_GRAFT_SCAN_FANOUT", "auto") == "off":
        return 0
    if path not in _FANOUT_CACHE:
        par = spark.sparkContext.defaultParallelism
        splits = _achievable_splits(path)
        _FANOUT_CACHE[path] = par if splits is not None and splits < par else 0
    return _FANOUT_CACHE[path]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    keys = _FANOUT_KEYS.get(name)
    if not keys:
        return df
    n = _fanout_width(spark, path)
    return df.repartition(n, *[F.col(c) for c in keys]) if n else df


def _t_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Un-fanned scan for queries whose map stage is a trivial partial
    aggregation: there the fan-out exchange costs more than the
    parallelism buys (measured +0.2-0.4 s per entry at sf1.0 on e.g.
    topk/cumulative/rollup), so the cheap-scan headliners read raw."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


# The driver's correctness gate snapshots exactly the FIRST 50 entries of
# queries() in dict order.  Rounds 1-3 certified the first 50 registrations;
# round 4 rotated the 39 then-never-gated queries in; round 5 rotates
# (a) the 6 queries with no driver row yet (5 added late in round 4 +
# lttb, which now HAS a recursive-CTE oracle), (b) the new round-5
# serving-layer queries, and (c) the 39 queries whose newest certification
# is round 3 — re-certifying the oldest rows so a silent regression there
# can't hide behind a stale green. Registration order in this file is
# unchanged; only the exported dict order differs.
_GATE_PRIORITY = [
    # 6 queries with no driver-certified row (CORRECTNESS_r04: absent or
    # err=no_oracle)
    "lttb_downsample_events",
    "bigram_surprisal_documents",
    "contamination_spans_documents",
    "ngram_counts_documents",
    "split_assign_documents",
    "strip_dup_spans_segments_documents",
    # new round-5 queries (registered below; must sit inside the window)
    "serve_tier_merge_events",
    "routed_series_events",
    "serve_distinct_merge_events",
    "cold_read_union_events",
    "idf_shift_documents",
    # round-5 session-8 additions (never certified — window priority)
    "candles_registry_1h_events",
    "ohlc_1h_events",
    "state_durations_events",
    "mad_anomaly_events",
    "survivor_longest_documents",
    # round-5 trend/serving-family additions (never certified — window
    # priority)
    "trend_slope_events",
    "acf_daily_events",
    "changepoint_events",
    "interp_at_events",
    "seasonal_backtest_events",
    "calendar_rollup_events",
    "gap_stats_events",
    "psi_drift_events",
    "drawdown_events",
    "routed_drift_events",
    # round-5 final-session additions (never certified — window priority)
    "sax_words_events",
    "sax_motifs_events",
    "motif_verified_pairs_events",
    "xcorr_lead_events",
    "recrawl_schedule_events",
    "temperature_sample_documents",
    "anchor_text_index_documents",
    "fetch_plan_events",
    "robots_allowed_documents",
    "sitemap_frontier_documents",
    # round-5 continuation-session additions (never certified — window
    # priority)
    "burst_windows_events",
    "spearman_daily_events",
    "entropy_by_source_documents",
    "distinctive_terms_documents",
    "theil_sen_daily_events",
    "acf_spectrum_events",
    "vocab_overlap_documents",
    "new_vs_returning_events",
    # round-5 closing-session additions (never certified — window
    # priority)
    "containment_pairs_documents",
    "dedup_cluster_sizes_documents",
    "trimmed_mean_daily_events",
    "tier_coverage_1m_events",
    # round-5 final additions (never certified — they take the last two
    # window slots that previously re-certified two round-3 queries;
    # never-certified > stale re-certification, per the round protocol).
    # Positions 51+ — just outside the window, oracle-paired and locally
    # verified like everything else: phrase_search_documents,
    # edit_distance_pairs_documents, the final-session retrieval trio
    # (bm25_search_documents, rrf_hybrid_documents,
    # vocab_growth_documents), dtw_pairs_events, the link-graph
    # pair (link_degree_documents, pagerank_hosts_documents),
    # boilerplate_strip_documents, stl_anomaly_events,
    # batch_novelty_documents, crawl_budget_events, and the later
    # final-session additions (trending/concentration/leakfree-split,
    # asap_smooth_events, kmv_overlap_events, alert_episodes_events).
    "m4_downsample_events",
    "hampel_despike_events",
    "phrase_search_documents",
    "edit_distance_pairs_documents",
    "bm25_search_documents",
    "rrf_hybrid_documents",
    "vocab_growth_documents",
    "dtw_pairs_events",
    # 39 queries whose newest driver certification is round 3; the 48 +
    # 2 never-certified entries above fill the 50-row window — these
    # hold round-3 driver certification, so cumulative coverage is
    # unaffected
    "rollup_1d_salted_events",
    "cumulative_daily_events",
    "grouped_last_events",
    "point_lookup_events",
    "last_bucket_events",
    "recent_active_users_events",
    "threshold_scan_events",
    "transition_counts_events",
    "filter_project_events",
    "json_extract_events",
    "semi_anti_join_orders",
    "text_stats_lang_documents",
    "token_count_documents",
    "quality_score_documents",
    "fingerprint_documents",
    "minhash_signatures_documents",
    "lsh_candidate_pairs_documents",
    "simhash_documents",
    "ngram_jaccard_pairs_documents",
    "lsh_buckets_embeddings",
    "embedding_neardup_pairs",
    "seed_union_events",
    "schema_version_dispatch_events",
    "text_quality_full_documents",
    "lang_id_documents",
    "cube_lang_source_documents",
    "last_wins_dedupe_events",
    "sessionize_events",
    "percentiles_by_type_events",
    "funnel_range_join_events",
    "topk_per_group_events",
    "registry_rollup_1h_events",
    "simhash64_documents",
    "simhash_hamming_pairs_documents",
    "prefix_scan_events",
    "ivf_topk_embeddings",
    "retained_users_daily_events",
    "churned_users_daily_events",
    "dedup_groups_documents",
]


def _gate_order(d: dict) -> dict:
    missing = [n for n in _GATE_PRIORITY if n not in _QUERIES]
    if missing:  # fail loudly: a rename must not silently shrink gate coverage
        raise KeyError(f"_GATE_PRIORITY names not registered: {missing}")
    ordered = {n: d[n] for n in _GATE_PRIORITY if n in d}
    ordered.update({n: v for n, v in d.items() if n not in ordered})
    return ordered


def queries() -> dict[str, QueryFn]:
    return _gate_order(dict(_QUERIES))


def oracle_sql() -> dict[str, str]:
    return _gate_order(dict(_ORACLES))


# integer-cents value: exact, order-insensitive (lazy: Column needs a session)
def _cents():
    return (F.round(F.col("value") * 100, 0)).cast("long")


def _epoch(col) -> "F.Column":
    """Epoch seconds from either TIMESTAMP or TIMESTAMP_NTZ input (the
    testdata parquet is NTZ); session tz is UTC so NTZ→LTZ is identity."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def _bucket_epoch(col: str, secs: int):
    return ((_epoch(col) / secs).cast("long") * secs).alias("bucket_epoch")


def _bucket_epoch_sql(col: str, secs: int) -> str:
    return f"CAST(floor(epoch({col}) / {secs}) AS BIGINT) * {secs}"


# ---------------------------------------------------------------------------
# Tumbling-window rollups (SURVEY §2.4 A1-A7; north-rule tier engine)
# ---------------------------------------------------------------------------


@q(
    "rollup_1m_events",
    f"""
    SELECT {_bucket_epoch_sql('ts', 60)} AS bucket_epoch,
           event_type,
           COUNT(*) AS point_count,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           CAST(round(MIN(value) * 100) AS BIGINT) AS min_cents,
           CAST(round(MAX(value) * 100) AS BIGINT) AS max_cents
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1m_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finest-tier tumbling rollup (engine 1m tier; reference: per-height
    point emit, stake_history.py:170-190)."""
    ev = _t_raw(spark, sf_dir, "events")
    return (
        ev.select(_bucket_epoch("ts", 60), "event_type", _cents().alias("_c"), "value")
        .groupBy("bucket_epoch", "event_type")
        .agg(
            F.count(F.lit(1)).alias("point_count"),
            F.sum("_c").alias("value_cents"),
            F.round(F.min("value") * 100, 0).cast("long").alias("min_cents"),
            F.round(F.max("value") * 100, 0).cast("long").alias("max_cents"),
        )
    )


@q(
    "rollup_1h_cascade_events",
    f"""
    SELECT {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch,
           event_type,
           COUNT(*) AS point_count,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1h_cascade_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample cascade: Spark builds 1m partials then re-aggregates to
    1h; oracle computes 1h directly from raw — proves cascade exactness
    (operators/cascade.py) through the gate."""
    ev = _t_raw(spark, sf_dir, "events")
    m1 = (
        ev.select(_bucket_epoch("ts", 60), "event_type", _cents().alias("_c"))
        .groupBy("bucket_epoch", "event_type")
        .agg(F.count(F.lit(1)).alias("point_count"), F.sum("_c").alias("value_cents"))
    )
    return (
        m1.select(
            ((F.col("bucket_epoch") / 3600).cast("long") * 3600).alias("bucket_epoch"),
            "event_type",
            "point_count",
            "value_cents",
        )
        .groupBy("bucket_epoch", "event_type")
        .agg(F.sum("point_count").alias("point_count"), F.sum("value_cents").alias("value_cents"))
    )


@q(
    "rollup_1d_salted_events",
    f"""
    SELECT {_bucket_epoch_sql('ts', 86400)} AS bucket_epoch,
           event_type,
           COUNT(*) AS point_count,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1d_salted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (hot-key skew path, SURVEY §4):
    stage 1 on (key, salt), stage 2 merges — must equal unsalted oracle."""
    ev = _t_raw(spark, sf_dir, "events")
    s1 = (
        ev.select(
            _bucket_epoch("ts", 86400),
            "event_type",
            F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("_salt"),
            _cents().alias("_c"),
        )
        .groupBy("bucket_epoch", "event_type", "_salt")
        .agg(F.count(F.lit(1)).alias("point_count"), F.sum("_c").alias("value_cents"))
    )
    return s1.groupBy("bucket_epoch", "event_type").agg(
        F.sum("point_count").alias("point_count"), F.sum("value_cents").alias("value_cents")
    )


@q(
    "cumulative_daily_events",
    f"""
    WITH d AS (
      SELECT {_bucket_epoch_sql('ts', 86400)} AS bucket_epoch, event_type,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2)
    SELECT bucket_epoch, event_type, value_cents,
           CAST(SUM(value_cents) OVER (PARTITION BY event_type ORDER BY bucket_epoch
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
    FROM d
    """,
)
def cumulative_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals across buckets (reference A1: total_staking carried
    across heights, stake_history.py:76-79)."""
    ev = _t_raw(spark, sf_dir, "events")
    d = (
        ev.select(_bucket_epoch("ts", 86400), "event_type", _cents().alias("_c"))
        .groupBy("bucket_epoch", "event_type")
        .agg(F.sum("_c").alias("value_cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.withColumn("cum_cents", F.sum("value_cents").over(w))


@q(
    "grouped_last_events",
    """
    SELECT user_id,
           arg_max(value, event_id) AS last_value,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_seen_epoch,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def grouped_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped last-value (reference A7: per-address latest stake via dict
    overwrite, stake_top100.py:53-54) — max_by keyed on unique event_id."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("value", "event_id").alias("last_value"),
        _epoch(F.max("ts")).alias("last_seen_epoch"),
        F.count(F.lit(1)).alias("n_events"),
    )


@q(
    "point_lookup_events",
    f"""
    SELECT {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch, event_type,
           COUNT(*) AS point_count,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE {_bucket_epoch_sql('ts', 3600)} = (
        SELECT MIN({_bucket_epoch_sql('ts', 3600)}) + 36000 FROM events)
    GROUP BY 1, 2
    """,
)
def point_lookup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by bucket (reference S8 get_block, storage.py:143-154);
    at scale this is a partition-pruned scan of one time partition."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(_bucket_epoch("ts", 3600)).agg(F.min("bucket_epoch")).first()[0] + 36000
    return (
        ev.select(_bucket_epoch("ts", 3600), "event_type", _cents().alias("_c"))
        .where(F.col("bucket_epoch") == F.lit(b))
        .groupBy("bucket_epoch", "event_type")
        .agg(F.count(F.lit(1)).alias("point_count"), F.sum("_c").alias("value_cents"))
    )


@q(
    "last_bucket_events",
    f"""
    WITH h AS (
      SELECT {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch, event_type,
             COUNT(*) AS point_count,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2)
    SELECT event_type, MAX(bucket_epoch) AS bucket_epoch,
           arg_max(point_count, bucket_epoch) AS point_count,
           arg_max(value_cents, bucket_epoch) AS value_cents
    FROM h GROUP BY event_type
    """,
)
def last_bucket_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-bucket stats per series (reference: get_staking_info_last_block
    = max-height + point-get composite, provider/api_bundle.py:38-44)."""
    ev = _t(spark, sf_dir, "events")
    h = (
        ev.select(_bucket_epoch("ts", 3600), "event_type", _cents().alias("_c"))
        .groupBy("bucket_epoch", "event_type")
        .agg(F.count(F.lit(1)).alias("point_count"), F.sum("_c").alias("value_cents"))
    )
    return h.groupBy("event_type").agg(
        F.max("bucket_epoch").alias("bucket_epoch"),
        F.max_by("point_count", "bucket_epoch").alias("point_count"),
        F.max_by("value_cents", "bucket_epoch").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# Top-k / sliding retention / threshold scans (SURVEY §2.5 W1-W4)
# ---------------------------------------------------------------------------


@q(
    "topk_users_events",
    """
    SELECT user_id, total_cents, n_events FROM (
      SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id)
    ORDER BY total_cents DESC, user_id LIMIT 100
    """,
)
def topk_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k maintenance (reference W1: latest_stake_top100,
    stake_top100.py:46-66). orderBy().limit() compiles to
    TakeOrderedAndProject — per-partition top-k then merge, no full sort."""
    ev = _t_raw(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.sum(_cents()).alias("total_cents"), F.count(F.lit(1)).alias("n_events")
    )
    return agg.orderBy(F.desc("total_cents"), "user_id").limit(100)


@q(
    "recent_active_users_events",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT user_id, COUNT(*) AS n_recent,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS recent_cents
    FROM events, mx WHERE ts > m - INTERVAL 3 DAY
    GROUP BY user_id
    ORDER BY n_recent DESC, user_id LIMIT 200
    """,
)
def recent_active_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding retention window (reference W2: recent_stake_wallets
    TIMESPAN eviction + cap 200, recent_stake_wallets.py:56-77)."""
    ev = _t_raw(spark, sf_dir, "events")
    m = ev.agg(F.max("ts")).first()[0]
    return (
        ev.where(F.col("ts") > F.lit(m) - F.expr("INTERVAL 3 DAYS"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_recent"), F.sum(_cents()).alias("recent_cents"))
        .orderBy(F.desc("n_recent"), "user_id")
        .limit(200)
    )


@q(
    "threshold_scan_events",
    """
    SELECT user_id, total_cents FROM (
      SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events GROUP BY user_id)
    WHERE total_cents >= 50000
    ORDER BY total_cents DESC, user_id LIMIT 1000
    """,
)
def threshold_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold scan-sort-limit (reference W4: funded_wallets min_balance
    filter + sort + truncate, storage.py:320-337)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.sum(_cents()).alias("total_cents"))
        .where(F.col("total_cents") >= 50000)
        .orderBy(F.desc("total_cents"), "user_id")
        .limit(1000)
    )


@q(
    "transition_counts_events",
    """
    WITH s AS (
      SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
      FROM events)
    SELECT user_id,
           CAST(SUM(CASE WHEN prev_value <= 10 AND value > 10 THEN 1 ELSE 0 END) AS BIGINT) AS up_transitions,
           CAST(SUM(CASE WHEN prev_value > 10 AND value <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS down_transitions
    FROM s GROUP BY user_id
    """,
)
def transition_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-transition counting (reference A2: total_staking_wallets ±1 on
    0↔positive transitions, stake_history.py:130-133) via lag window."""
    ev = _t_raw(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    s = ev.withColumn("prev_value", F.lag("value").over(w))
    return s.groupBy("user_id").agg(
        F.sum(
            F.when((F.col("prev_value") <= 10) & (F.col("value") > 10), 1).otherwise(0)
        ).alias("up_transitions"),
        F.sum(
            F.when((F.col("prev_value") > 10) & (F.col("value") <= 10), 1).otherwise(0)
        ).alias("down_transitions"),
    )


# ---------------------------------------------------------------------------
# Projections / filters / extraction (SURVEY §2.2 P1-P7)
# ---------------------------------------------------------------------------


@q(
    "filter_project_events",
    """
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
    FROM events WHERE event_type = 'click' AND value > 5.0
    """,
)
def filter_project_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter+project event extraction (reference P1/P2: tx filtering and
    projection, data_feeder.py:142-167). Predicate and column pruning push
    into the parquet scan — verify via .explain() PushedFilters."""
    ev = _t(spark, sf_dir, "events")
    return ev.where((F.col("event_type") == "click") & (F.col("value") > 5.0)).select(
        "event_id",
        "user_id",
        _cents().alias("value_cents"),
        _epoch("ts").alias("ts_epoch"),
    )


@q(
    "json_extract_events",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON decode + derived-predicate filter (reference F4 json round-trips
    + P6 derived predicates, abstention_stake.py:70-73)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k")).where(F.col("k") > 50)


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3) — broadcast dims, multi-way
# ---------------------------------------------------------------------------


@q(
    "join_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim with explicit broadcast of the small sides (reference
    J1/J2 state-lookup + scalar broadcast patterns). At 100 TB the fact
    side never shuffles for broadcastable dims."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.round(F.col("o_totalprice") * 100, 0)).cast("long")).alias("revenue_cents"),
        )
    )


@q(
    "semi_anti_join_orders",
    """
    SELECT
      (SELECT COUNT(*) FROM customer c WHERE EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS with_orders,
      (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS without_orders
    """,
)
def semi_anti_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti joins — the resume-pending-work primitive
    (engine checkpoint anti-join; reference T1 cursor semantics)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_o = c.join(o, c.c_custkey == o.o_custkey, "left_semi").count()
    without_o = c.join(o, c.c_custkey == o.o_custkey, "left_anti").count()
    spark_df = spark.createDataFrame(
        [(with_o, without_o)], "with_orders bigint, without_orders bigint"
    )
    return spark_df


@q(
    "tpch_q1_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (generic agg-operator check)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")).alias("sum_qty_cents"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "sum_price_cents"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Gap-fill LOCF (north-rule core) — JVM-side spine + last(ignorenulls)
# ---------------------------------------------------------------------------


@q(
    "gapfill_locf_events",
    """
    WITH b AS (
      SELECT user_id, CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 AS bucket_epoch,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events WHERE user_id < 20 GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, MIN(bucket_epoch) AS b0, MAX(bucket_epoch) AS b1 FROM b GROUP BY user_id),
    spine AS (
      SELECT user_id, UNNEST(range(b0, b1 + 21600, 21600)) AS bucket_epoch FROM bounds),
    j AS (
      SELECT s.user_id, s.bucket_epoch, b.value_cents,
             (b.value_cents IS NULL) AS gap_filled
      FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.bucket_epoch = b.bucket_epoch)
    SELECT user_id, bucket_epoch,
           last_value(value_cents IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY bucket_epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_cents,
           gap_filled
    FROM j
    """,
)
def gapfill_locf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap-fill over 6h buckets for a key subset: per-key spine via
    sequence()+explode, left join, last(ignorenulls) carry — the engine's
    gapfill operator (operators/gapfill.py) expressed on the events table."""
    ev = _t_raw(spark, sf_dir, "events")
    secs = 21600
    b = (
        ev.where(F.col("user_id") < 20)
        .select("user_id", _bucket_epoch("ts", secs), _cents().alias("_c"))
        .groupBy("user_id", "bucket_epoch")
        .agg(F.sum("_c").alias("value_cents"))
    )
    bounds = b.groupBy("user_id").agg(
        F.min("bucket_epoch").alias("b0"), F.max("bucket_epoch").alias("b1")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("b0", "b1", F.lit(secs))).alias("bucket_epoch")
    )
    j = spine.join(b, ["user_id", "bucket_epoch"], "left").withColumn(
        "gap_filled", F.col("value_cents").isNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "bucket_epoch",
        F.last("value_cents", ignorenulls=True).over(w).alias("value_cents"),
        "gap_filled",
    )


# ---------------------------------------------------------------------------
# Text analysis (documents) — webtext payload ops
# ---------------------------------------------------------------------------


@q(
    "text_stats_lang_documents",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sum, MIN(n_chars) AS chars_min, MAX(n_chars) AS chars_max,
           CAST(SUM(length(text)) AS BIGINT) AS text_len_sum
    FROM documents GROUP BY lang
    """,
)
def text_stats_lang_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang text-length statistics — the engine's per-lang grain tier
    measures over the documents payload."""
    d = _t_raw(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_sum"),
        F.min("n_chars").alias("chars_min"),
        F.max("n_chars").alias("chars_max"),
        F.sum(F.length("text")).alias("text_len_sum"),
    )


@q(
    "dedup_exact_documents",
    """
    SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dupes
    FROM documents GROUP BY md5(text) HAVING COUNT(*) >= 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep min doc_id per fingerprint
    (hash-groupBy; at scale a single shuffle on the digest)."""
    d = _t_raw(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


@q(
    "token_count_documents",
    """
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
    FROM documents
    """,
)
def token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (training-data pipeline op)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"), "n_chars")


@q(
    "quality_score_documents",
    """
    SELECT doc_id,
           n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) * 10000)
                AS BIGINT) AS chars_per_token_x1e4,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS stopword_hits
    FROM documents
    """,
)
def quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: chars/token ratio (fixed-point) + stopword hits —
    integer-exact quality features for filter pipelines."""
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " ", -1))
    return d.select(
        "doc_id",
        "n_chars",
        ntok.cast("long").alias("n_tokens"),
        F.round(F.col("n_chars").cast("double") / ntok * 10000, 0)
        .cast("long")
        .alias("chars_per_token_x1e4"),
        ((F.length("text") - F.length(F.replace(F.col("text"), F.lit("the"), F.lit("")))) / 3)
        .cast("long")
        .alias("stopword_hits"),
    )


@q(
    "fingerprint_documents",
    """
    SELECT doc_id, md5(text) AS fingerprint,
           CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS fp32
    FROM documents
    """,
)
def fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full digest + 32-bit integer prefix (the
    cross-engine-stable hash basis used by MinHash, functions/hashing.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long").alias("fp32"),
    )


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------


@q(
    "knn_bruteforce_embeddings",
    """
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
           CAST(round(list_cosine_similarity(e.embedding, qv.q) * 10000) AS BIGINT)
             AS cos_sim_x1e4
    FROM embeddings e, qv
    WHERE e.vec_id <> 0
    ORDER BY cos_sim_x1e4 DESC, e.vec_id LIMIT 20
    """,
)
def knn_bruteforce_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: query vector broadcast-joined
    to all rows; dot/norm via zip_with + aggregate (JVM-side, no UDF)."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    j = e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("embedding", "q", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (norm(F.col("embedding")) * norm(F.col("q")))
    return (
        j.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round(cos * 10000, 0).cast("long").alias("cos_sim_x1e4"),
        )
        .orderBy(F.desc("cos_sim_x1e4"), "vec_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dedup family (documents): MinHash+LSH, SimHash, n-gram Jaccard
# ---------------------------------------------------------------------------

from .operators import dedup as _dd
from .operators import similarity as _sim

_FP32_SQL = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

_SHINGLE_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    )
"""

_MINHASH_COLS_SQL = ",\n           ".join(
    f"MIN(({_FP32_SQL.format(x='shingle')} * {_dd._a(j)} + {_dd._b(j)}) % {_dd.MINHASH_P})"
    f" AS minhash_{j}"
    for j in range(_dd.N_HASHES)
)


@q(
    "minhash_signatures_documents",
    f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id,
           {_MINHASH_COLS_SQL}
    FROM sh GROUP BY doc_id
    """,
)
def minhash_signatures_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 universal hashes over distinct 3-shingles) —
    bit-exact vs the oracle thanks to the md5-prefix base hash."""
    d = _t(spark, sf_dir, "documents")
    return _dd.minhash_signatures(d)


_BAND_ROWS = _dd.N_HASHES // _dd.N_BANDS
_BANDS_SQL = "\n      UNION ALL\n".join(
    "      SELECT doc_id, {b} AS band, CAST(minhash_{i0} AS VARCHAR) || ':' || "
    "CAST(minhash_{i1} AS VARCHAR) AS key FROM sigs".format(
        b=b, i0=b * _BAND_ROWS, i1=b * _BAND_ROWS + 1
    )
    for b in range(_dd.N_BANDS)
)


@q(
    "lsh_candidate_pairs_documents",
    f"""
    WITH {_SHINGLE_CTE},
    sigs AS (
      SELECT doc_id, {_MINHASH_COLS_SQL}
      FROM sh GROUP BY doc_id),
    bands AS (
{_BANDS_SQL}
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    """,
)
def lsh_candidate_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: near-dup candidate pairs share a (band, key) bucket —
    the n²-free dedup path at scale."""
    d = _t(spark, sf_dir, "documents")
    sigs = _dd.minhash_signatures(d)
    return _dd.lsh_candidate_pairs(sigs)


_SIMHASH_SUMS_SQL = ",\n           ".join(
    f"SUM(({_FP32_SQL.format(x='tok')} >> {b}) & 1) AS bit_{b}"
    for b in range(_dd.SIMHASH_BITS)
)
_SIMHASH_VAL_SQL = " + ".join(
    f"(CASE WHEN bit_{b} * 2 > n_toks THEN {1 << b} ELSE 0 END)"
    for b in range(_dd.SIMHASH_BITS)
)


@q(
    "simhash_documents",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
    sums AS (
      SELECT doc_id, COUNT(*) AS n_toks,
           {_SIMHASH_SUMS_SQL}
      FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_VAL_SQL} AS BIGINT) AS simhash
    FROM sums
    """,
)
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (per-bit token-hash majority) — the
    compact single-column variant; the 10^12-doc form is
    simhash64_documents + simhash_hamming_pairs_documents."""
    d = _t(spark, sf_dir, "documents")
    return _dd.simhash(d)


@q(
    "ngram_jaccard_pairs_documents",
    f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b, CAST(p.n_inter AS BIGINT) AS n_inter,
           CAST(round(CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) * 10000)
                AS BIGINT) AS jaccard_x1e4
    FROM pairs p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE p.n_inter >= 3
    """,
)
def ngram_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing ≥3 shingles — candidate
    GENERATION by shared shingle (fine at sf; boilerplate-quadratic at
    100 TB). The scale composition is lsh_verified_pairs_documents:
    LSH banding generates candidates, this verification runs only on
    them."""
    d = _t(spark, sf_dir, "documents")
    sh = _dd.shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .where(F.col("n_inter") >= 3)
    )
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b")
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b", F.col("n_inter").cast("long").alias("n_inter"),
            F.round(F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")) * 10000, 0)
            .cast("long").alias("jaccard_x1e4"),
        )
    )


# ---------------------------------------------------------------------------
# ANN / embedding near-dup (embeddings)
# ---------------------------------------------------------------------------

_PLANES = _sim.projection_planes(64, _sim.N_PLANES, seed=42)


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(f"{v!r}" for v in p) + "]::DOUBLE[]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_plane_sql(pl)}) >= 0 "
    f"THEN {1 << i} ELSE 0 END)"
    for i, pl in enumerate(_PLANES)
)


@q(
    "lsh_buckets_embeddings",
    f"""
    SELECT vec_id, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings
    """,
)
def lsh_buckets_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (the ANN scale path's
    partitioning key)."""
    e = _t(spark, sf_dir, "embeddings")
    return _sim.hyperplane_lsh_buckets(e, _PLANES).select("vec_id", "bucket")


@q(
    "embedding_neardup_pairs",
    f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
      FROM embeddings)
    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           CAST(round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                             CAST(r.embedding AS DOUBLE[])) * 10000)
                AS BIGINT) AS cos_sim_x1e4
    FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket candidates, exact
    cosine verify (unthresholded here so the gate sees real pairs)."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = _sim.cosine_pairs_over_threshold(e, _PLANES, threshold=-2.0)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cos_sim") * 10000, 0).cast("long").alias("cos_sim_x1e4")
    )


# ---------------------------------------------------------------------------
# As-of join, seed union, schema-version dispatch, text analysis
# ---------------------------------------------------------------------------

from .functions import text as _tx
from .operators.asof import asof_join as _asof_join


@q(
    "asof_join_events",
    """
    WITH clicks AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS purchase_cents
      FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.event_id, p.purchase_cents AS last_purchase_cents
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py union-marker plan): each click gets
    the user's latest prior purchase — checked against DuckDB's native
    ASOF JOIN. Reference analogue: J1 state lookup (stake_history.py:110-125)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").select("user_id", "event_id", "ts")
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", _cents().alias("purchase_cents")
    )
    out = _asof_join(clicks, purchases, on="ts", key="user_id")
    return out.select(
        "user_id", "event_id", F.col("purchase_cents").alias("last_purchase_cents")
    )


@q(
    "seed_union_events",
    """
    WITH seeds(user_id, total_cents) AS (VALUES (900001, 1000000), (900002, 2000000)),
    agg AS (
      SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(total_cents AS BIGINT) AS total_cents FROM agg
    UNION ALL SELECT user_id, CAST(total_cents AS BIGINT) FROM seeds
    """,
)
def seed_union_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genesis-seed union (reference J3: funded_wallets hardcoded genesis
    balances unioned before folding, funded_wallets.py:43-62)."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.sum(_cents()).alias("total_cents"))
    seeds = spark.createDataFrame(
        [(900001, 1_000_000), (900002, 2_000_000)], "user_id bigint, total_cents bigint"
    )
    return agg.unionByName(seeds)


@q(
    "schema_version_dispatch_events",
    """
    SELECT event_id,
           CASE WHEN event_id < 5000
                THEN CAST(json_extract(props, '$.k') AS BIGINT) * 100
                ELSE CAST(round(value * 100) AS BIGINT) END AS measure_cents
    FROM events
    """,
)
def schema_version_dispatch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-version dispatch (reference P4: pre/post-V3 block layouts
    selected by height threshold, data_feeder.py:128-140) — CASE WHEN
    across column variants, resolved inside the scan projection."""
    ev = _t(spark, sf_dir, "events")
    old = F.get_json_object("props", "$.k").cast("long") * 100
    new = _cents()
    return ev.select(
        "event_id",
        F.when(F.col("event_id") < 5000, old).otherwise(new).alias("measure_cents"),
    )


@q(
    "text_quality_full_documents",
    r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
           CAST(greatest(ceil(length(text) / 3.8),
                         len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_tokens_bpe_est,
           CAST(round(length(regexp_replace(text, '\s+', '', 'g'))
                      / greatest(len(regexp_split_to_array(text, '\s+')), 1) * 10000)
                AS BIGINT) AS mean_word_len_x1e4,
           CAST(round(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                      x -> x IN ('the','a','and','of','to','in','is','it')))
                      * 10000.0 / greatest(len(regexp_split_to_array(text, '\s+')), 1))
                AS BIGINT) AS stopword_x1e4
    FROM documents
    """,
)
def text_quality_full_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full quality-feature block (functions/text.py): token counts,
    BPE-ish estimate, mean word length, stopword ratio — fixed-point."""
    d = _t(spark, sf_dir, "documents")
    feats = _tx.quality_features(d)
    return feats.select(
        "doc_id",
        F.col("n_tokens"),
        F.col("n_tokens_bpe_est"),
        F.round(F.col("mean_word_len") * 10000, 0).cast("long").alias("mean_word_len_x1e4"),
        F.round(F.col("stopword_ratio") * 10000, 0).cast("long").alias("stopword_x1e4"),
    )


_MARKER_SQL = " , ".join(
    f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
    f"x -> x IN ({', '.join(repr(m) for m in ms)}))) AS hits_{lang}"
    for lang, ms in _tx.LANG_MARKERS.items()
)


@q(
    "lang_id_documents",
    f"""
    WITH h AS (SELECT doc_id, {_MARKER_SQL} FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN NULL
                WHEN hits_fr >= hits_es AND hits_fr >= hits_en AND hits_fr >= hits_de THEN 'fr'
                WHEN hits_es >= hits_en AND hits_es >= hits_de THEN 'es'
                WHEN hits_en >= hits_de THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM h
    """,
)
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language-ID heuristic (functions/text.py). Tie-break:
    array_max on (hits, lang) structs picks the lexicographically-LAST
    lang among equal hit counts (fr > es > en > de); the oracle CASE
    checks in that same order."""
    d = _t(spark, sf_dir, "documents")
    return _tx.lang_id_heuristic(d).select("doc_id", "lang_pred")


# ---------------------------------------------------------------------------
# Distinct counts + grouping sets (engine set-op / multi-grain coverage)
# ---------------------------------------------------------------------------


@q(
    "distinct_users_daily_events",
    f"""
    SELECT {_bucket_epoch_sql('ts', 86400)} AS bucket_epoch,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    """,
)
def distinct_users_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-entity counts per bucket (reference A4 set-size
    count; at 100 TB tiers store approx_count_distinct sketches instead —
    exact variant is the oracle-checkable form)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(_bucket_epoch("ts", 86400), "user_id")
        .groupBy("bucket_epoch")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@q(
    "cube_lang_source_documents",
    """
    SELECT coalesce(lang, '<all>') AS lang_g,
           coalesce(source, '<all>') AS source_g,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sum
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def cube_lang_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain rollup via CUBE (grouping sets) — the relational form
    of maintaining several tier grains in one pass."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars_sum"))
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang_g"),
            F.coalesce("source", F.lit("<all>")).alias("source_g"),
            "n_docs",
            "chars_sum",
        )
    )


@q(
    "last_wins_dedupe_events",
    f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch,
             CAST(round(value * 100) AS BIGINT) AS value_cents,
             row_number() OVER (
               PARTITION BY user_id, {_bucket_epoch_sql('ts', 3600)}
               ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT user_id, bucket_epoch, event_type, value_cents
    FROM ranked WHERE rn = 1
    """,
)
def last_wins_dedupe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-wins-per-key-within-bucket dedupe (reference P2: setStake
    dict overwrite semantics — later tx in the block wins,
    data_feeder.py:199-212) via row_number window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "bucket_epoch").orderBy(F.desc("event_id"))
    return (
        ev.select(
            "user_id", _bucket_epoch("ts", 3600), "event_type",
            _cents().alias("value_cents"), "event_id",
        )
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "bucket_epoch", "event_type", "value_cents")
    )


# ---------------------------------------------------------------------------
# Sessionization + exact percentiles
# ---------------------------------------------------------------------------

from .operators.sessions import session_aggregates as _session_aggs


@q(
    "sessionize_events",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    numbered AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_no
      FROM s)
    SELECT user_id, session_no,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_epoch,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS end_epoch,
           CAST(floor(epoch(MAX(ts))) - floor(epoch(MIN(ts))) AS BIGINT) AS duration_seconds,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (operators/sessions.py): per-user
    session bounds/duration/counts at a 30-minute gap — the general
    form of reference W2 recent-activity tracking."""
    ev = _t(spark, sf_dir, "events")
    out = _session_aggs(ev, key="user_id", ts="ts", gap_seconds=1800)
    return out.select(
        "user_id",
        "session_no",
        _epoch(F.col("session_start")).alias("start_epoch"),
        _epoch(F.col("session_end")).alias("end_epoch"),
        F.col("duration_seconds").cast("long").alias("duration_seconds"),
        "n_events",
    )


@q(
    "percentiles_by_type_events",
    """
    SELECT event_type,
           CAST(round(quantile_cont(value, 0.5) * 100) AS BIGINT) AS p50_cents,
           CAST(round(quantile_cont(value, 0.9) * 100) AS BIGINT) AS p90_cents,
           CAST(round(quantile_cont(value, 0.99) * 100) AS BIGINT) AS p99_cents
    FROM events GROUP BY event_type
    """,
)
def percentiles_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per series (tier summary
    stats; Spark `percentile` == DuckDB `quantile_cont` semantics).
    At 10^12 rows the engine stores approx_percentile sketches instead;
    the exact form is the oracle-checkable one."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") * 100, 0).cast("long").alias("p50_cents"),
        F.round(F.expr("percentile(value, 0.9)") * 100, 0).cast("long").alias("p90_cents"),
        F.round(F.expr("percentile(value, 0.99)") * 100, 0).cast("long").alias("p99_cents"),
    )


# ---------------------------------------------------------------------------
# Range join (funnel) + per-group top-k
# ---------------------------------------------------------------------------


@q(
    "funnel_range_join_events",
    """
    WITH s AS (SELECT user_id, ts AS signup_ts FROM events WHERE event_type = 'signup'),
    p AS (SELECT user_id, ts AS purchase_ts,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase')
    SELECT s.user_id,
           COUNT(p.purchase_ts) AS purchases_within_1d,
           CAST(COALESCE(SUM(p.cents), 0) AS BIGINT) AS cents_within_1d
    FROM s LEFT JOIN p
      ON s.user_id = p.user_id
     AND p.purchase_ts > s.signup_ts
     AND p.purchase_ts <= s.signup_ts + INTERVAL 1 DAY
    GROUP BY s.user_id, s.signup_ts
    """,
)
def funnel_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: purchases within 1 day after each signup —
    the time-window join family (as-of's bounded sibling). At scale
    this joins bucketed-by-key partitions with AQE handling skew."""
    ev = _t(spark, sf_dir, "events")
    s = ev.where("event_type = 'signup'").select("user_id", F.col("ts").alias("signup_ts"))
    p = ev.where("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("purchase_ts"), _cents().alias("cents")
    )
    j = s.join(
        p,
        (s.user_id == p.user_id)
        & (p.purchase_ts > s.signup_ts)
        & (p.purchase_ts <= s.signup_ts + F.expr("INTERVAL 1 DAY")),
        "left",
    )
    return j.groupBy(s.user_id, "signup_ts").agg(
        F.count("purchase_ts").alias("purchases_within_1d"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("cents_within_1d"),
    ).select("user_id", "purchases_within_1d", "cents_within_1d")


@q(
    "topk_per_group_events",
    """
    SELECT event_type, user_id, total_cents, rnk FROM (
      SELECT event_type, user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY SUM(CAST(round(value * 100) AS BIGINT)) DESC,
                                         user_id) AS rnk
      FROM events GROUP BY event_type, user_id)
    WHERE rnk <= 10
    """,
)
def topk_per_group_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITHIN each group (rank window over aggregates) — the
    many-series generalization of reference W1's single global top-100."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type", "user_id").agg(F.sum(_cents()).alias("total_cents"))
    w = Window.partitionBy("event_type").orderBy(F.desc("total_cents"), "user_id")
    return agg.withColumn("rnk", F.row_number().over(w)).where("rnk <= 10")


@q(
    "registry_rollup_1h_events",
    """
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_epoch,
           event_type,
           COUNT(*) AS point_count,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           CAST(SUM(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_sq_sum,
           CAST(round(MIN(value) * 100) AS BIGINT) AS min_cents,
           CAST(round(MAX(value) * 100) AS BIGINT) AS max_cents
    FROM events GROUP BY 1, 2
    """,
)
def registry_rollup_1h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 pluggable metric-spec registry, end-to-end through the gate:
    an AD-HOC MetricSet (declared here, not engine-built-in — the
    reference's drop-a-Transform-module contract,
    zone_manager.py:39-45) rolls raw events to 1m partials and CASCADES
    them to 1h via the set's reagg exprs; the oracle computes 1h
    directly from raw — proving spec-driven cascade exactness."""
    from .operators.registry import MetricSet, MetricSpec, downsample_with_spec, rollup_with_spec

    ms = MetricSet(
        name="contract_events",
        metrics=(
            MetricSpec("point_count", lambda: F.count(F.lit(1)), lambda: F.sum("point_count")),
            MetricSpec("value_cents", lambda: F.sum(F.round(F.col("value") * 100, 0).cast("long")),
                       lambda: F.sum("value_cents")),
            MetricSpec(
                "value_sq_sum",
                lambda: F.sum(
                    F.round(F.col("value") * 100, 0).cast("long")
                    * F.round(F.col("value") * 100, 0).cast("long")
                ),
                lambda: F.sum("value_sq_sum"),
            ),
            MetricSpec("min_cents", lambda: F.round(F.min("value") * 100, 0).cast("long"),
                       lambda: F.min("min_cents")),
            MetricSpec("max_cents", lambda: F.round(F.max("value") * 100, 0).cast("long"),
                       lambda: F.max("max_cents")),
        ),
        tiers=("1m", "1h"),
    )
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    fine = rollup_with_spec(ev, ms, "1m", time_col="ts", keys=("event_type",))
    coarse = downsample_with_spec(fine, ms, "1h", keys=("event_type",))
    return coarse.select(
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        "event_type", "point_count", "value_cents", "value_sq_sum", "min_cents", "max_cents",
    )


# 64-bit SimHash as two 32-bit halves: DuckDB BIGINT shifts overflow at
# bit 63, so the fingerprint lives as (hi, lo) in BOTH engines — which
# also keeps every majority-sum term < 2^32.
_FP32_LO_SQL = "CAST(('0x' || substr(md5({x}), 9, 8)) AS BIGINT)"

_SIMHASH64_SUMS_SQL = ",\n           ".join(
    [f"SUM(({_FP32_LO_SQL.format(x='tok')} >> {b}) & 1) AS lo_{b}" for b in range(32)]
    + [f"SUM(({_FP32_SQL.format(x='tok')} >> {b}) & 1) AS hi_{b}" for b in range(32)]
)


def _simhash64_major_sql(prefix: str) -> str:
    return " + ".join(
        f"(CASE WHEN {prefix}_{b} * 2 > n_toks THEN {1 << b} ELSE 0 END)" for b in range(32)
    )


_SIMHASH64_FPS_CTE = f"""
    toks64 AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
    sums64 AS (
      SELECT doc_id, COUNT(*) AS n_toks,
           {_SIMHASH64_SUMS_SQL}
      FROM toks64 GROUP BY doc_id),
    fps AS (
      SELECT doc_id,
             CAST({_simhash64_major_sql('hi')} AS BIGINT) AS simhash_hi,
             CAST({_simhash64_major_sql('lo')} AS BIGINT) AS simhash_lo
      FROM sums64)
"""


@q(
    "simhash64_documents",
    f"""
    WITH {_SIMHASH64_FPS_CTE}
    SELECT doc_id, simhash_hi, simhash_lo FROM fps
    """,
)
def simhash64_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (hi/lo 32-bit halves) — the scale
    form of the 16-bit simhash_documents (10^12 docs swamp 2^16
    buckets)."""
    d = _t(spark, sf_dir, "documents")
    return _dd.simhash64(d)


@q(
    "simhash_hamming_pairs_documents",
    f"""
    WITH {_SIMHASH64_FPS_CTE},
    segs AS (
      SELECT doc_id, simhash_hi, simhash_lo, s.seg,
             CASE s.seg
               WHEN 0 THEN simhash_lo & 65535
               WHEN 1 THEN (simhash_lo >> 16) & 65535
               WHEN 2 THEN simhash_hi & 65535
               ELSE (simhash_hi >> 16) & 65535 END AS val
      FROM fps, (VALUES (0), (1), (2), (3)) s(seg)),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             CAST(bit_count(xor(l.simhash_hi, r.simhash_hi))
                  + bit_count(xor(l.simhash_lo, r.simhash_lo)) AS BIGINT) AS hamming
      FROM segs l JOIN segs r
        ON l.seg = r.seg AND l.val = r.val AND l.doc_id < r.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def simhash_hamming_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤3 near-dup pairs over 64-bit SimHash via segment banding
    (pigeonhole: a ≤3-bit-different pair agrees exactly on one of 4
    16-bit segments) + exact popcount verify — the candidate generator
    the 16-bit simhash lacked (reference has no analogue; north-rule
    training-data dedup family)."""
    d = _t(spark, sf_dir, "documents")
    fps = _dd.simhash64(d)
    return _dd.simhash_hamming_pairs(fps, k=3).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


@q(
    "prefix_scan_events",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE starts_with(event_type, 'p')
    GROUP BY event_type
    """,
)
def prefix_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal prefix predicate (reference F5 ``startswith`` key-prefix
    test, S9 prefix scans) — pushed to the parquet scan as a
    StartsWith filter."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").startswith("p"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents()).alias("cents"))
    )


@q(
    "lsh_verified_pairs_documents",
    f"""
    WITH {_SHINGLE_CTE},
    sigs AS (
      SELECT doc_id, {_MINHASH_COLS_SQL}
      FROM sh GROUP BY doc_id),
    bands AS (
{_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           CAST(round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) * 10000)
                AS BIGINT) AS jaccard_x1e4
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.doc_id
    JOIN sizes sb ON i.id_b = sb.doc_id
    """,
)
def lsh_verified_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dup dedup pipeline wired end-to-end the way it runs
    at 100 TB: LSH band buckets generate candidates, exact shingle
    Jaccard verifies ONLY those candidates (never the shared-shingle
    self-join of ngram_jaccard_pairs_documents, which is quadratic-ish
    on boilerplate shingles at scale)."""
    d = _t(spark, sf_dir, "documents")
    # ONE shingle explode for the whole pipeline: signatures, the
    # verify intersection, and both size aggs all read this persisted
    # hash-only frame (strings never shuffle) — the round-5 plan
    # re-exploded the corpus once per subtree (optimization r06).
    sh = _dd.shingle_hashes(d).persist()
    # materialize BEFORE the consumers fan out: the signature agg, the
    # verify joins and the size aggs otherwise race as concurrent
    # first readers (broadcast-build jobs) and EACH recomputes the
    # full explode lineage — same guard as the pipeline's obs.count()
    sh.count()
    sigs = _dd.minhash_signatures(d, sh_hashes=sh)
    pairs = _dd.lsh_candidate_pairs(sigs)
    v = _dd.ngram_jaccard_pairs(d, pairs, "text", "doc_id", sh_hashes=sh)
    return v.select(
        "id_a", "id_b",
        F.round(F.col("jaccard") * 10000).cast("long").alias("jaccard_x1e4"),
    )


@q(
    "ivf_topk_embeddings",
    """
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           CAST(round(list_cosine_similarity(e.embedding, qv.q) * 10000) AS BIGINT)
             AS cos_sim_x1e4
    FROM embeddings e, qv
    WHERE e.vec_id <> 0
    ORDER BY cos_sim_x1e4 DESC, e.vec_id LIMIT 20
    """,
)
def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN through the gate: train the coarse quantizer
    (deterministic Lloyd's), assign, probe ALL clusters — full probe
    degenerates to exact brute force, which the oracle can express.
    (Partial-probe recall is property-tested in
    tests/test_dedup_similarity.py; centroid float jitter cannot leak
    into this result because every cluster is scanned.)"""
    e = _t(spark, sf_dir, "embeddings")
    base = e.where(F.col("vec_id") != 0)
    qvec = [float(v) for v in e.where("vec_id = 0").first()["embedding"]]
    cents = _sim.ivf_train(base, n_centroids=8, n_iters=2)
    hits = _sim.ivf_topk(base, qvec, cents, k=10_000, n_probe=len(cents))
    return (
        hits.select(
            "vec_id", F.round(F.col("cos_sim") * 10000, 0).cast("long").alias("cos_sim_x1e4")
        )
        .orderBy(F.desc("cos_sim_x1e4"), "vec_id")
        .limit(20)
    )


@q(
    "retained_users_daily_events",
    """
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
    SELECT CAST(epoch(CAST(b.day AS TIMESTAMP)) AS BIGINT) AS day_epoch,
           COUNT(*) AS retained
    FROM d a JOIN d b ON a.user_id = b.user_id AND b.day = a.day + 1
    GROUP BY 1
    """,
)
def retained_users_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact day-over-day retained distinct users (set intersection over
    time — the exact form of the theta-sketch retention path in
    operators/sketches.py, which replaces this key-space self-join with
    a join of per-day sketch rows at 10^12 keys)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"), "user_id"
    ).distinct()
    a, b = d.alias("a"), d.alias("b")
    j = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.day") == F.date_add(F.col("a.day"), 1)),
    )
    return (
        j.groupBy(F.col("b.day").alias("day"))
        .agg(F.count(F.lit(1)).alias("retained"))
        .select(
            F.col("day").cast("timestamp").cast("long").alias("day_epoch"),
            "retained",
        )
    )


@q(
    "churned_users_daily_events",
    """
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM d)
    SELECT CAST(epoch(CAST(n.day AS TIMESTAMP)) AS BIGINT) AS day_epoch,
           COUNT(*) AS churned
    FROM d p
    JOIN days n ON n.day = p.day + 1
    LEFT JOIN d q ON q.user_id = p.user_id AND q.day = n.day
    WHERE q.user_id IS NULL
    GROUP BY 1
    """,
)
def churned_users_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact day-over-day churned users (set DIFFERENCE over time: active
    on d-1, absent on d, counted only for days that exist) — the exact
    form of theta_difference in operators/sketches.py."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"), "user_id"
    ).distinct()
    days = d.select("day").distinct()
    p, n, qy = d.alias("p"), days.alias("n"), d.alias("q")
    j = p.join(n, F.col("n.day") == F.date_add(F.col("p.day"), 1)).join(
        qy,
        (F.col("q.user_id") == F.col("p.user_id")) & (F.col("q.day") == F.col("n.day")),
        "left_anti",
    )
    return (
        j.groupBy(F.col("n.day").alias("day"))
        .agg(F.count(F.lit(1)).alias("churned"))
        .select(F.col("day").cast("timestamp").cast("long").alias("day_epoch"), "churned")
    )


# ---------------------------------------------------------------------------
# Dedup groups: connected components over verified near-dup pairs
# ---------------------------------------------------------------------------

from .operators import components as _cc

# the full verified-pairs pipeline as a reusable CTE chain ending in
# `vpairs(id_a, id_b, jaccard_x1e4)` — identical semantics to
# lsh_verified_pairs_documents
_VERIFIED_PAIRS_CTE = f"""{_SHINGLE_CTE},
    sigs AS (
      SELECT doc_id, {_MINHASH_COLS_SQL}
      FROM sh GROUP BY doc_id),
    bands AS (
{_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b),
    vpairs AS (
      SELECT i.id_a, i.id_b,
             CAST(round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) * 10000)
                  AS BIGINT) AS jaccard_x1e4
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.doc_id
      JOIN sizes sb ON i.id_b = sb.doc_id)
"""

_DEDUP_JACCARD_X1E4 = 5000  # near-dup edge threshold (jaccard >= 0.5)

# components of the thresholded pair graph via transitive closure
# (DuckDB recursive CTE — exact oracle for the large-star/small-star
# DataFrame algorithm in operators/components.py)
_COMPONENTS_CTE = f"""{_VERIFIED_PAIRS_CTE},
    thr AS (SELECT id_a, id_b FROM vpairs
            WHERE jaccard_x1e4 >= {_DEDUP_JACCARD_X1E4}),
    sym AS (SELECT id_a AS a, id_b AS b FROM thr
            UNION SELECT id_b, id_a FROM thr),
    reach(node, r) AS (
      SELECT a, b FROM sym
      UNION
      SELECT reach.node, s.b FROM reach JOIN sym s ON s.a = reach.r),
    comp AS (SELECT node, least(node, MIN(r)) AS component
             FROM reach GROUP BY node)
"""


def _verified_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = _dd.minhash_signatures(d)
    cand = _dd.lsh_candidate_pairs(sigs)
    v = _dd.ngram_jaccard_pairs(d, cand, "text", "doc_id")
    return v.where(
        F.round(F.col("jaccard") * 10000).cast("long") >= _DEDUP_JACCARD_X1E4
    ).select("id_a", "id_b")


@q(
    "dedup_groups_documents",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTE}
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS group_id,
           (COALESCE(c.component, d.doc_id) = d.doc_id) AS is_representative
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def dedup_groups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document mapped to its near-dup GROUP: connected components
    (large-star/small-star, operators/components.py) over the
    LSH-verified pair graph thresholded at jaccard >= 0.5; singletons
    map to themselves. The oracle computes the same components by
    recursive-CTE transitive closure — exact because the component id
    is canonically the minimum member in both engines."""
    d = _t(spark, sf_dir, "documents")
    pairs = _verified_dedup_pairs(spark, sf_dir)
    return _cc.dedup_groups(d, pairs)


@q(
    "dedup_survivors_documents",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTE}
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    WHERE COALESCE(c.component, d.doc_id) = d.doc_id
    GROUP BY d.lang
    """,
)
def dedup_survivors_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEDUPLICATED corpus, summarized per lang: one representative
    (minimum doc_id) kept per near-dup group, singletons kept — the
    keep-set a training pipeline feeds downstream. Exercises the full
    chain minhash → LSH bands → verify → components → semi-join."""
    d = _t(spark, sf_dir, "documents")
    pairs = _verified_dedup_pairs(spark, sf_dir)
    kept = _cc.dedup_survivors(d, pairs, "doc_id")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling (training-data splits; operators/sampling.py)
# ---------------------------------------------------------------------------

from .operators import sampling as _samp

# DuckDB twin of sampling.key_hash(col, seed) % 1e6
_KEYHASH_PPM_SQL = (
    "CAST(('0x' || substr(md5(CAST({x} AS VARCHAR) || ':{seed}'), 1, 15)) AS BIGINT)"
    " % 1000000"
)

# full 60-bit hash (ordering key for reservoir ranks)
_KEYHASH_SQL = (
    "CAST(('0x' || substr(md5(CAST({x} AS VARCHAR) || ':{seed}'), 1, 15)) AS BIGINT)"
)


@q(
    "hash_sample_documents",
    f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_KEYHASH_PPM_SQL.format(x='doc_id', seed=0)} < 100000
    """,
)
def hash_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample keyed on a content hash of
    doc_id — reproducible across reruns, partitionings, and cluster
    sizes (df.sample() is none of those). Pure scan-side filter, no
    shuffle."""
    d = _t(spark, sf_dir, "documents")
    return _samp.hash_sample(d, 0.10, "doc_id").select("doc_id", "lang", "n_chars")


@q(
    "stratified_sample_documents",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_KEYHASH_PPM_SQL.format(x='doc_id', seed=7)} <
          CASE lang WHEN 'en' THEN 100000 WHEN 'zh' THEN 800000 ELSE 400000 END
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic rates (downsample the dominant
    language, keep more of the rare ones) — the curation move every
    web-corpus pipeline makes before training. CASE-expression
    threshold: still a single shuffle-free filter."""
    d = _t(spark, sf_dir, "documents")
    s = _samp.stratified_sample(
        d, "lang", {"en": 0.10, "zh": 0.80}, key="doc_id",
        default_rate=0.40, seed=7,
    )
    return s.select("doc_id", "lang")


@q(
    "reservoir_per_group_documents",
    f"""
    SELECT lang, source, doc_id
    FROM (
      SELECT lang, source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY {_KEYHASH_SQL.format(x='doc_id', seed=3)}, doc_id
             ) AS rn
      FROM documents)
    WHERE rn <= 3
    """,
)
def reservoir_per_group_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-without-replacement 3 docs per (lang, source): hash-rank
    inside each group — a deterministic reservoir sample, one shuffle
    on the group key."""
    d = _t(spark, sf_dir, "documents")
    r = _samp.reservoir_per_group(d, ["lang", "source"], 3, key="doc_id", seed=3)
    return r.select("lang", "source", "doc_id")


# ---------------------------------------------------------------------------
# TF-IDF top terms (functions/text.py)
# ---------------------------------------------------------------------------


@q(
    "tfidf_top_terms_documents",
    """
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      WHERE length(term) >= 4
      GROUP BY doc_id, term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    idf AS (
      SELECT term,
             CAST(round(ln(CAST(n.n_docs AS DOUBLE) / cnt) * 10000) AS BIGINT)
               AS idf_x1e4
      FROM (SELECT term, COUNT(*) AS cnt FROM tf GROUP BY term), n),
    s AS (
      SELECT d.lang, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS sum_tf
      FROM tf JOIN documents d USING (doc_id)
      GROUP BY d.lang, tf.term),
    sc AS (
      SELECT s.lang, s.term, s.sum_tf * i.idf_x1e4 AS score
      FROM s JOIN idf i USING (term))
    SELECT lang, term, score
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY score DESC, term) AS rn FROM sc)
    WHERE rn <= 10
    """,
)
def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 characteristic terms per language by corpus TF-IDF —
    integer-scored (Σtf × round(ln(N/df)·1e4)) so the ranking is
    bit-deterministic across engines and cluster sizes."""
    d = _t(spark, sf_dir, "documents")
    return _tx.tfidf_top_terms(d, "lang", k=10, min_len=4)


@q(
    "incremental_lsh_pairs_documents",
    f"""
    WITH {_SHINGLE_CTE},
    sigs AS (
      SELECT doc_id, {_MINHASH_COLS_SQL}
      FROM sh GROUP BY doc_id),
    bands AS (
{_BANDS_SQL}
    )
    SELECT DISTINCT least(n.doc_id, c.doc_id) AS id_a,
           greatest(n.doc_id, c.doc_id) AS id_b
    FROM bands n JOIN bands c
      ON n.band = c.band AND n.key = c.key
     AND n.doc_id >= 450 AND n.doc_id <> c.doc_id
    """,
)
def incremental_lsh_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup shape: docs >= 450 are 'today's crawl',
    probing the persisted band table of the existing corpus plus its
    own bands (same-day duplicates pair too) — the corpus is never
    re-paired against itself (at 10^12 docs that is the only affordable
    form; the probe side is day-sized and broadcastable)."""
    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") < 450)
    new = d.where(F.col("doc_id") >= 450)
    corpus_bands = _dd.band_table(_dd.minhash_signatures(old))
    return _dd.incremental_lsh_pairs(_dd.minhash_signatures(new), corpus_bands)


@q(
    "curation_pipeline_documents",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTE},
    kept AS (
      SELECT d.* FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
      WHERE COALESCE(c.component, d.doc_id) = d.doc_id),
    q AS (SELECT * FROM kept WHERE len(string_split(text, ' ')) >= 20),
    s AS (SELECT * FROM q
          WHERE {_KEYHASH_PPM_SQL.format(x='doc_id', seed=11)} <
                CASE lang WHEN 'en' THEN 200000 ELSE 600000 END)
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM s GROUP BY lang
    """,
)
def curation_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline a training-data user actually
    runs, as ONE declarative plan: near-dup dedup (minhash → LSH →
    verify → components → keep one representative per group), then a
    token-count quality floor, then per-language stratified
    downsampling — summarized per lang. Every stage is an operator from
    this engine composed lazily, so Catalyst sees one DAG: the corpus
    is scanned once for the dedup chain and once for the survivor
    semi-join; nothing materializes in between."""
    d = _t(spark, sf_dir, "documents")
    pairs = _verified_dedup_pairs(spark, sf_dir)
    kept = _cc.dedup_survivors(d, pairs, "doc_id")
    q = kept.where(F.size(F.split("text", " ", -1)) >= 20)
    s = _samp.stratified_sample(
        q, "lang", {"en": 0.20}, key="doc_id", default_rate=0.60, seed=11
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


@q(
    "gapfill_interp_events",
    """
    WITH b AS (
      SELECT user_id, CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 AS bucket_epoch,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events WHERE user_id < 20 GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, MIN(bucket_epoch) AS b0, MAX(bucket_epoch) AS b1 FROM b GROUP BY user_id),
    spine AS (
      SELECT user_id, UNNEST(range(b0, b1 + 21600, 21600)) AS bucket_epoch FROM bounds),
    j AS (
      SELECT s.user_id, s.bucket_epoch, b.value_cents,
             (b.value_cents IS NULL) AS gap_filled
      FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.bucket_epoch = b.bucket_epoch),
    w AS (
      SELECT user_id, bucket_epoch, value_cents, gap_filled,
             last_value(value_cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY bucket_epoch
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             last_value(CASE WHEN value_cents IS NOT NULL THEN bucket_epoch END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket_epoch
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             first_value(value_cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY bucket_epoch
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
             first_value(CASE WHEN value_cents IS NOT NULL THEN bucket_epoch END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket_epoch
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
      FROM j)
    SELECT user_id, bucket_epoch,
           CAST(CASE WHEN gap_filled
                THEN v0 * 10000 + CAST(floor(CAST((v1 - v0) * 10000 * (bucket_epoch - t0) AS DOUBLE)
                                              / (t1 - t0)) AS BIGINT)
                ELSE value_cents * 10000 END AS BIGINT) AS value_cents_x1e4,
           gap_filled
    FROM w
    """,
)
def gapfill_interp_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR interpolation gap-fill over 6h buckets (the TimescaleDB
    ``interpolate()`` analogue to LOCF) — integer-exact scaled math, so
    the oracle pairing is bit-deterministic (operators/gapfill.py::
    gapfill_interpolate_epoch)."""
    from .operators.gapfill import gapfill_interpolate_epoch

    ev = _t(spark, sf_dir, "events")
    secs = 21600
    b = (
        ev.where(F.col("user_id") < 20)
        .select("user_id", _bucket_epoch("ts", secs), _cents().alias("_c"))
        .groupBy("user_id", "bucket_epoch")
        .agg(F.sum("_c").alias("value_cents"))
    )
    return gapfill_interpolate_epoch(
        b, ["user_id"], "bucket_epoch", "value_cents", secs
    ).withColumnRenamed("value_cents_x1e4", "value_cents_x1e4")


# ---------------------------------------------------------------------------
# Counter semantics / time weighting (operators/counters.py)
# ---------------------------------------------------------------------------

from .operators import counters as _ctr


@q(
    "counter_increase_events",
    """
    WITH series AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) % 100000 AS BIGINT) AS ctr
      FROM events WHERE user_id < 50),
    d AS (
      SELECT user_id, t, ctr,
             lag(ctr) OVER (PARTITION BY user_id ORDER BY t, ctr) AS prev
      FROM series)
    SELECT user_id,
           CAST(floor(t / 86400.0) AS BIGINT) * 86400 AS bucket_epoch,
           CAST(COALESCE(SUM(CASE WHEN prev IS NULL THEN NULL
                        WHEN ctr < prev THEN ctr
                        ELSE ctr - prev END), 0) AS BIGINT) AS increase,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ctr < prev THEN 1 ELSE 0 END)
                AS BIGINT) AS resets
    FROM d GROUP BY 1, 2
    """,
)
def counter_increase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style ``increase()`` over a monotonic counter WITH reset
    detection: a synthetic per-user counter (running cents mod 1e5 —
    wraps = resets) is delta'd with reset correction and summed per day.
    Lag/window + one keyed agg, integer-exact."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    series = (
        ev.where(F.col("user_id") < 50)
        .select(
            "user_id",
            _epoch("ts").alias("t"),
            (F.sum(_cents()).over(w) % 100000).cast("long").alias("ctr"),
        )
    )
    # order by (t, ctr): events sharing a timestamp order the same way
    # in both engines (ctr is the running total, strictly increasing
    # within a tie group up to the mod wrap)
    out = _ctr.counter_increase(series, ["user_id"], ["t", "ctr"], "ctr", 86400)
    return out.select("user_id", "bucket_epoch", "increase", "resets")


@q(
    "time_weighted_avg_events",
    """
    WITH series AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 50),
    seg AS (
      SELECT user_id, cents,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dt
      FROM series),
    agg AS (
      SELECT user_id,
             CAST(COALESCE(SUM(cents * dt), 0) AS BIGINT) AS twa_num,
             CAST(COALESCE(SUM(dt), 0) AS BIGINT) AS twa_den
      FROM seg GROUP BY user_id)
    SELECT user_id, twa_num, twa_den,
           CASE WHEN twa_den > 0
                THEN CAST(floor(CAST(twa_num AS DOUBLE) * 10000 / twa_den) AS BIGINT)
           END AS twa_x1e4
    FROM agg
    """,
)
def time_weighted_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over the irregular event series
    (TimescaleDB ``time_weight('locf')`` analogue): integer num/den
    components plus a floor-scaled ratio — exact across engines and
    accumulation orders."""
    ev = _t(spark, sf_dir, "events")
    series = ev.where(F.col("user_id") < 50).select(
        "user_id", _epoch("ts").alias("t"), "event_id", _cents().alias("cents")
    )
    return _ctr.time_weighted_avg_x1e4(series, ["user_id"], ["t", "event_id"], "cents")


@q(
    "lttb_downsample_events",
    # The sequential selection IS SQL-expressible: a recursive CTE
    # replays the bucket-by-bucket argmax because the exact-integer
    # variant (operators/lttb.py::lttb_downsample_exact) makes every
    # triangle area a pure int64 expression — no float accumulation to
    # diverge between engines. Buckets/edges are precomputed (they
    # depend only on n, not on the selection); the recursion carries
    # (user, step, previous pick) and each step resolves the next pick
    # with a correlated ORDER-BY-LIMIT-1 over its bucket's candidates.
    """
    WITH RECURSIVE src AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tr,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vr
      FROM events WHERE user_id < 20
      GROUP BY user_id, CAST(floor(epoch(ts)) AS BIGINT)
    ),
    base AS (
      SELECT user_id, tr, vr,
             tr - MIN(tr) OVER (PARTITION BY user_id) AS t,
             vr - MIN(vr) OVER (PARTITION BY user_id) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tr) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM src
    ),
    big AS (SELECT * FROM base WHERE n > 50),
    ukeys AS (SELECT DISTINCT user_id, n FROM big),
    edges AS (
      SELECT u.user_id, g.i,
             CASE WHEN g.i = 48 THEN u.n - 1
                  ELSE CAST(floor(CAST(g.i AS DOUBLE)
                                  * ((CAST(u.n AS DOUBLE) - 2) / 48.0)
                                  + 1.0) AS BIGINT)
             END AS pos
      FROM ukeys u CROSS JOIN (SELECT UNNEST(generate_series(0, 48)) AS i) g
    ),
    bkt AS (
      SELECT e.user_id, e.i AS b, COUNT(*) AS cnt,
             SUM(p.t) AS sum_t, SUM(p.v) AS sum_v
      FROM edges e
      JOIN edges e2 ON e2.user_id = e.user_id AND e2.i = e.i + 1
      JOIN big p ON p.user_id = e.user_id AND p.rn >= e.pos AND p.rn < e2.pos
      GROUP BY e.user_id, e.i
      UNION ALL
      SELECT user_id, 48, 1, t, v FROM big WHERE rn = n - 1
    ),
    sel AS (
      SELECT user_id, -1 AS i, CAST(0 AS BIGINT) AS a FROM ukeys
      UNION ALL
      SELECT s.user_id, s.i + 1,
        (SELECT c.rn
         FROM big c
         JOIN edges lo ON lo.user_id = s.user_id AND lo.i = s.i + 1
         JOIN edges hi ON hi.user_id = s.user_id AND hi.i = s.i + 2
         JOIN big pa ON pa.user_id = s.user_id AND pa.rn = s.a
         JOIN bkt nb ON nb.user_id = s.user_id AND nb.b = s.i + 2
         WHERE c.user_id = s.user_id AND c.rn >= lo.pos AND c.rn < hi.pos
         ORDER BY abs((pa.t * nb.cnt - nb.sum_t) * (c.v - pa.v)
                    - (pa.t - c.t) * (nb.sum_v - pa.v * nb.cnt)) DESC,
                  c.rn ASC
         LIMIT 1) AS a
      FROM sel s WHERE s.i < 47
    ),
    picks AS (
      SELECT user_id, a AS rn FROM sel WHERE i >= 0
      UNION ALL SELECT user_id, 0 FROM ukeys
      UNION ALL SELECT user_id, n - 1 FROM ukeys
    )
    SELECT b.user_id, b.tr AS t_epoch, b.vr AS v_cents
    FROM big b JOIN picks k ON k.user_id = b.user_id AND k.rn = b.rn
    UNION ALL
    SELECT user_id, tr AS t_epoch, vr AS v_cents FROM base WHERE n <= 50
    """,
)
def lttb_downsample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets decimation of each user's value
    series to 50 shape-preserving points — the chart-serving path over
    tier tables. Uses the exact-integer variant
    (operators/lttb.py::lttb_downsample_exact) so the DuckDB recursive
    CTE oracle replays the selection bit-for-bit; the float variant
    (same module) keeps its property tests (tests/test_lttb.py)."""
    from .operators.lttb import lttb_downsample_exact

    ev = _t(spark, sf_dir, "events")
    series = (
        ev.where(F.col("user_id") < 20)
        .select("user_id", _epoch("ts").alias("t"), _cents().alias("_c"))
        .groupBy("user_id", "t")
        .agg(F.sum("_c").alias("v"))
    )
    out = lttb_downsample_exact(series, ["user_id"], "t", "v", 50)
    return out.select(
        "user_id",
        F.col("t").alias("t_epoch"),
        F.col("v").alias("v_cents"),
    )


# ---------------------------------------------------------------------------
# Sliding-window analytics + snapshot diff (operators/rolling.py, diff.py)
# ---------------------------------------------------------------------------

from .operators import rolling as _rol
from .operators.diff import snapshot_diff as _snapshot_diff


@q(
    "moving_window_events",
    f"""
    WITH h AS (
      SELECT {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch, event_type,
             COUNT(*) AS point_count,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2)
    SELECT bucket_epoch, event_type, value_cents,
           CAST(SUM(value_cents) OVER w AS BIGINT) AS mov_value_cents,
           CAST(SUM(point_count) OVER w AS BIGINT) AS mov_point_count,
           CAST(COUNT(*) OVER w AS BIGINT) AS mov_n
    FROM h
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_epoch
                 RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW)
    """,
)
def moving_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 6h moving sums at 1h resolution per series — RANGE
    (value-based) framing so sparse series keep the correct time
    horizon across bucket gaps (operators/rolling.py). Engine-added vs
    the reference's cumulative-only aggregates (A1)."""
    ev = _t(spark, sf_dir, "events")
    h = (
        ev.select(_bucket_epoch("ts", 3600), "event_type", _cents().alias("_c"))
        .groupBy("bucket_epoch", "event_type")
        .agg(
            F.count(F.lit(1)).alias("point_count"),
            F.sum("_c").alias("value_cents"),
        )
    )
    out = _rol.sliding_range_sum(
        h, ["event_type"], "bucket_epoch", 18000,
        ["value_cents", "point_count"],
    )
    return out.select(
        "bucket_epoch", "event_type", "value_cents",
        "mov_value_cents", "mov_point_count", "mov_n",
    )


@q(
    "zscore_anomaly_events",
    f"""
    WITH d AS (
      SELECT {_bucket_epoch_sql('ts', 21600)} AS bucket_epoch, event_type,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT bucket_epoch, event_type, value_cents,
             CAST(COUNT(*) OVER win AS BIGINT) AS n_win,
             SUM(CAST(value_cents AS HUGEINT)) OVER win AS s1,
             SUM(CAST(value_cents AS HUGEINT) * CAST(value_cents AS HUGEINT)) OVER win AS s2
      FROM d
      WINDOW win AS (PARTITION BY event_type ORDER BY bucket_epoch
                     ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
    SELECT bucket_epoch, event_type, value_cents, n_win,
           CAST(CASE WHEN n_win >= 4 AND
                  (n_win * CAST(value_cents AS HUGEINT) - s1)
                * (n_win * CAST(value_cents AS HUGEINT) - s1)
                > 9 * (n_win * s2 - s1 * s1)
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM w
    """,
)
def zscore_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z>3 outlier flag per series at 6h resolution, exact in
    integers: cross-multiplied z² inequality over the 6 PRIOR buckets
    (operators/rolling.py — window excludes the current row; including
    it caps z² at n−1 and the detector never fires)."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(_bucket_epoch("ts", 21600), "event_type", _cents().alias("_c"))
        .groupBy("bucket_epoch", "event_type")
        .agg(F.sum("_c").alias("value_cents"))
    )
    out = _rol.rolling_anomaly_flags(
        d, ["event_type"], "bucket_epoch", "value_cents",
        n_prev=6, z2_threshold=9, min_window=4,
    )
    return out.select("bucket_epoch", "event_type", "value_cents", "n_win", "is_anomaly")


@q(
    "seasonal_profile_events",
    """
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hour_of_day,
           (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS day_of_week,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2, 3
    """,
)
def seasonal_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day × day-of-week) load profile per series —
    pure epoch integer arithmetic (1970-01-01 = Thursday = 4), never
    session-timezone calendar functions, so the profile is identical on
    any driver/engine. The grouping key space is tiny (24×7×types): a
    single partial-agg shuffle at any scale."""
    ev = _t(spark, sf_dir, "events")
    e = _epoch("ts")
    return (
        ev.select(
            ((e / 3600).cast("long") % 24).alias("hour_of_day"),
            (((e / 86400).cast("long") + 4) % 7).alias("day_of_week"),
            "event_type",
            _cents().alias("_c"),
        )
        .groupBy("hour_of_day", "day_of_week", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_c").alias("value_cents"),
        )
    )


@q(
    "snapshot_diff_events",
    """
    WITH b AS (
      SELECT lo + CAST(floor((hi - lo + 1) / 2) AS BIGINT) AS bday FROM (
        SELECT CAST(floor(epoch(MIN(ts)) / 86400) AS BIGINT) AS lo,
               CAST(floor(epoch(MAX(ts)) / 86400) AS BIGINT) AS hi
        FROM events)),
    o AS (
      SELECT user_id,
             arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS last_cents
      FROM events, b
      WHERE CAST(floor(epoch(ts) / 86400) AS BIGINT) < bday GROUP BY user_id),
    n AS (
      SELECT user_id,
             arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS last_cents
      FROM events, b
      WHERE CAST(floor(epoch(ts) / 86400) AS BIGINT) >= bday GROUP BY user_id)
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'new'
                WHEN n.user_id IS NULL THEN 'vanished'
                WHEN o.last_cents = n.last_cents THEN 'stable'
                ELSE 'changed' END AS status,
           o.last_cents AS old_last_cents,
           n.last_cents AS new_last_cents
    FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
    """,
)
def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-crawl change detection (operators/diff.py): the event
    range is split at its midpoint day into two 'crawl snapshots'; each
    user's last-observed value per half is diffed into
    new/vanished/changed/stable. Drives incremental re-processing —
    only new/changed keys re-enter the pipeline."""
    ev = _t(spark, sf_dir, "events")
    r = ev.agg(
        (F.min(_epoch("ts")) / 86400).cast("long").alias("lo"),
        (F.max(_epoch("ts")) / 86400).cast("long").alias("hi"),
    ).first()
    bday = r["lo"] + (r["hi"] - r["lo"] + 1) // 2
    day = (_epoch("ts") / 86400).cast("long")
    base = ev.select("user_id", "event_id", day.alias("_day"), _cents().alias("_c"))
    halves = [
        base.where(cond)
        .groupBy("user_id")
        .agg(F.max_by("_c", "event_id").alias("last_cents"))
        for cond in (F.col("_day") < bday, F.col("_day") >= bday)
    ]
    out = _snapshot_diff(halves[0], halves[1], ["user_id"], "last_cents")
    return out.select(
        "user_id", "status",
        F.col("old_last_cents").alias("old_last_cents"),
        F.col("new_last_cents").alias("new_last_cents"),
    )


@q(
    "repetition_documents",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
      FROM documents),
    per AS (
      SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           CAST(MAX(c) AS BIGINT) AS top_token_count,
           CAST(floor((SUM(c) - COUNT(*)) * 10000 / SUM(c)) AS BIGINT) AS dup_token_frac_x1e4,
           CAST(floor(MAX(c) * 10000 / SUM(c)) AS BIGINT) AS top_token_share_x1e4
    FROM per GROUP BY doc_id
    """,
)
def repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality features per document
    (functions/text.py::token_repetition): duplicate-token fraction and
    most-frequent-token share, exact ×1e4 integers."""
    from .functions.text import token_repetition

    return token_repetition(_t(spark, sf_dir, "documents"))


_HB_CENTS = "CAST(round(value * 100) AS BIGINT)"
_HB_EXPR = (
    f"CASE WHEN {_HB_CENTS} <= 0 THEN 0 ELSE "
    f"CAST(rpad(substr(CAST({_HB_CENTS} AS VARCHAR), 1, 1), "
    f"CAST(length(CAST({_HB_CENTS} AS VARCHAR)) AS INTEGER), '0') AS BIGINT) END"
)


@q(
    "histogram_1h_events",
    f"""
    SELECT {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch,
           event_type,
           {_HB_EXPR} AS hb_lo,
           COUNT(*) AS hb_count
    FROM events GROUP BY 1, 2, 3
    """,
)
def histogram_1h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution tier (operators/histogram.py): per (1h bucket,
    event_type) counts in leading-decimal-digit value buckets — the
    mergeable histogram artifact a Prometheus-native-histogram /
    continuous-aggregate layer stores instead of recomputing
    percentiles from raw. Bucket ids are pure string/integer math, so
    both engines bucket bit-identically."""
    from .operators.histogram import histogram_rollup

    ev = _t(spark, sf_dir, "events").withColumn("_c", _cents())
    return histogram_rollup(ev, _bucket_epoch("ts", 3600), ["event_type"], F.col("_c")).select(
        "bucket_epoch", "event_type", "hb_lo", "hb_count"
    )


@q(
    "histogram_p90_daily_events",
    f"""
    WITH h AS (
      SELECT event_type,
             {_bucket_epoch_sql('ts', 86400)} AS bucket_epoch,
             {_HB_EXPR} AS hb_lo,
             COUNT(*) AS hb_count
      FROM events GROUP BY 1, 2, 3),
    c AS (
      SELECT event_type, bucket_epoch, hb_lo,
             SUM(hb_count) OVER (PARTITION BY event_type, bucket_epoch
                                 ORDER BY hb_lo) AS cum,
             SUM(hb_count) OVER (PARTITION BY event_type, bucket_epoch) AS total
      FROM h)
    SELECT event_type, bucket_epoch, MIN(hb_lo) AS p90_lo
    FROM c WHERE cum >= CAST((total * 90 + 99) // 100 AS BIGINT)
    GROUP BY 1, 2
    """,
)
def histogram_p90_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p90 read off the MERGED histogram cascade: Spark builds the 1m
    histogram tier, merges 1m->1h->1d (two downsample steps over stored
    partials only), then answers p90 per (event_type, day) from the
    merged counts. The oracle buckets raw directly at 1d — equality
    through the hash gate proves the histogram partials merge
    losslessly across two cascade levels, the property that lets a
    dashboard answer quantiles at 10^12 rows without touching raw."""
    from .operators.histogram import (
        histogram_downsample,
        histogram_rollup,
        quantile_from_histogram,
    )

    ev = _t(spark, sf_dir, "events").withColumn("_c", _cents())
    # persist + materialize the cascade parents (optimization r06):
    # in production these are STORED tier tables and quantile reads
    # only scan them; persisting here models that, and because the
    # routed-quantile family builds the IDENTICAL 1m/1h subtrees,
    # CacheManager serves those queries from the same build instead of
    # replaying the raw histogram aggregation per tier branch
    h1m = histogram_rollup(
        ev, _bucket_epoch("ts", 60), ["event_type"], F.col("_c")
    ).persist()
    h1m.count()
    h1h = histogram_downsample(h1m, ["event_type"], 3600).persist()
    h1h.count()
    h1d = histogram_downsample(h1h, ["event_type"], 86400)
    return quantile_from_histogram(h1d, ["event_type"], 90, out_col="p90_lo").select(
        "event_type", "bucket_epoch", "p90_lo"
    )


@q(
    "cusum_drift_events",
    f"""
    WITH h AS (
      SELECT event_type, {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch,
             SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, bucket_epoch, v,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(v) OVER (PARTITION BY event_type) AS tot
      FROM h),
    c AS (
      SELECT event_type, bucket_epoch,
             SUM(n * v * 1000 - tot * 1000) OVER (
               PARTITION BY event_type ORDER BY bucket_epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM s)
    SELECT event_type, bucket_epoch,
           CAST(cum - least(CAST(0 AS BIGINT), MIN(cum) OVER (
             PARTITION BY event_type ORDER BY bucket_epoch
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
             AS cusum_scaled
    FROM c
    """,
)
def cusum_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM drift statistic per event_type over the 1h series
    (operators/rolling.py::cusum_drift): the sequential recursion
    max(0, S+(x−k)) evaluated as the reflection identity
    C_t − min(0, running-min C) — two running window aggregates, pure
    codegen, integer-exact (k = series mean, cross-multiplied by n·1000
    so no division ever happens). Catches slow drifts the z-score
    spike detector never sees."""
    from .operators.rolling import cusum_drift

    ev = _t_raw(spark, sf_dir, "events")
    h1h = (
        ev.select("event_type", _bucket_epoch("ts", 3600), _cents().alias("_c"))
        .groupBy("event_type", "bucket_epoch")
        .agg(F.sum("_c").alias("v"))
    )
    out = cusum_drift(h1h, ["event_type"], "bucket_epoch", "v", slack_x1000=0)
    return out.select(
        "event_type", "bucket_epoch", F.col("cusum_scaled").cast("long").alias("cusum_scaled")
    )


@q(
    "ewma_1h_events",
    f"""
    WITH h AS (
      SELECT event_type, {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, bucket_epoch,
             list(v) OVER (PARTITION BY event_type ORDER BY bucket_epoch
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
      FROM h)
    SELECT event_type, bucket_epoch,
           CAST(round(list_reduce(l, (acc, x) -> acc * (1.0 - 0.3) + 0.3 * x)
                      * 10000) AS BIGINT) AS ewma_x1e4
    FROM w
    """,
)
def ewma_1h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window EWMA smoothing of the per-type 1h series
    (operators/rolling.py::ewma_smooth): recursive smoothing as a pure
    JVM higher-order-function plan — collect_list window + aggregate()
    fold, seeded with the window's oldest value. Spark and DuckDB run
    the IDENTICAL fold order over IEEE doubles (both literally compute
    acc·(1.0−0.3)+0.3·x), so the ×1e4-rounded outputs hash-match."""
    from .operators.rolling import ewma_smooth

    ev = _t(spark, sf_dir, "events")
    h1h = (
        ev.select("event_type", _bucket_epoch("ts", 3600), _cents().alias("_c"))
        .groupBy("event_type", "bucket_epoch")
        .agg(F.sum("_c").cast("double").alias("v"))
    )
    out = ewma_smooth(h1h, ["event_type"], "bucket_epoch", "v", alpha=0.3, window_k=20)
    return out.select("event_type", "bucket_epoch", "ewma_x1e4")


@q(
    "heavy_hitters_daily_events",
    f"""
    WITH c AS (
      SELECT {_bucket_epoch_sql('ts', 86400)} AS bucket_epoch,
             user_id, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT bucket_epoch, user_id, cnt,
             ROW_NUMBER() OVER (PARTITION BY bucket_epoch
                                ORDER BY cnt DESC, user_id ASC) AS rn
      FROM c)
    SELECT bucket_epoch, user_id, cnt FROM r WHERE rn <= 5
    """,
)
def heavy_hitters_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily top-5 users served from MERGED hourly heavy-hitter partials
    (operators/heavyhitters.py): per-hour top-256 summaries (the
    Misra-Gries/SpaceSaving mergeable-summary contract, PODS'12) are
    merged to days reading only the stored partials — never raw. At
    this sf the per-hour key cardinality (<256) makes the partials
    complete, so the merge is provably exact (err=0 on every emitted
    row, asserted) and hash-matches the oracle's exact top-5; the
    truncated/error-bounded path is property-tested in
    tests/test_heavyhitters.py."""
    from .operators.heavyhitters import topk_partial_merge, topk_partial_rollup

    ev = _t(spark, sf_dir, "events")
    partials = topk_partial_rollup(ev, _bucket_epoch("ts", 3600), "user_id", k=256)
    merged = topk_partial_merge(partials, 86400, k=5)
    return merged.where(F.col("exact")).select(
        "bucket_epoch", F.col("key").alias("user_id"), F.col("cnt_lb").alias("cnt")
    )


@q(
    "term_stats_documents",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    f AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t
      WHERE length(term) >= 1 GROUP BY 1, 2)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS tf_total,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM f GROUP BY term HAVING COUNT(*) >= 25
    """,
)
def term_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics off the inverted-index TF stage
    (operators/index.py::term_stats): document frequency, total term
    frequency, smallest containing doc — the df table behind IDF and
    index sizing. min_df=25 bounds output to the head of the
    vocabulary."""
    from .operators.index import term_stats

    return term_stats(_t(spark, sf_dir, "documents"), min_df=25).select(
        "term", "doc_freq", "tf_total", "min_doc_id"
    )


@q(
    "term_search_documents",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    f AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t
      WHERE term IN ('spark', 'hash', 'merge') GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS sum_tf
    FROM f GROUP BY doc_id HAVING COUNT(DISTINCT term) = 3
    """,
)
def term_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive retrieval served from the STORED sharded inverted
    index (operators/index.py): Spark builds posting lists
    (term, shard -> sorted (doc,tf) entries), then answers
    'docs containing spark AND hash AND merge' by exploding only the
    query terms' index rows — a partition-pruned read of 3·n_shards
    index rows, never a corpus scan. The oracle answers the same query
    from raw tokens; the hash match proves index build + serve are
    lossless."""
    from .operators.index import build_inverted_index, conjunctive_search_indexed

    idx = build_inverted_index(_t(spark, sf_dir, "documents"), n_shards=16)
    return conjunctive_search_indexed(idx, ["spark", "hash", "merge"]).select(
        "doc_id", F.col("sum_tf").cast("long").alias("sum_tf")
    )


@q(
    "url_canonicalize_documents",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.Example.CO.UK:443/Doc/' || doc_id ||
             '/?utm_source=feed&b=2&a=' || lang || '#frag' AS url
      FROM documents),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
                            ':(80|443)$', '') AS host,
             regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
                            '/+$', '') AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM u),
    canon AS (
      SELECT doc_id, host,
             scheme || '://' || host || path ||
             CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url,
             path
      FROM (
        SELECT *, array_to_string(list_sort(list_filter(string_split(q, '&'),
                 x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS qs
        FROM parts)),
    dom AS (
      SELECT doc_id, canon_url, path,
             CASE WHEN len(l) >= 3 AND l[len(l)-1] IN
                       ('co','com','org','net','ac','gov','edu')
                  THEN array_to_string(l[len(l)-2:len(l)], '.')
                  WHEN len(l) >= 2
                  THEN array_to_string(l[len(l)-1:len(l)], '.')
                  ELSE array_to_string(l, '.') END AS reg_domain
      FROM (SELECT *, string_split(regexp_replace(host, ':[0-9]+$', ''), '.') AS l
            FROM canon))
    SELECT doc_id, canon_url, reg_domain,
           CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) AS BIGINT)
             AS depth
    FROM dom
    """,
)
def url_canonicalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL hygiene (functions/urls.py) through the hash gate: both
    engines construct the same deliberately-messy URL per document
    (mixed-case host, default :443 port, trailing slash, utm_ tracking
    param, unsorted params, fragment) and must canonicalize it to the
    identical string, extract the same eTLD+1 (co.uk three-label case),
    and agree on path depth. This is the normalize-before-hash step
    that makes exact URL dedup collapse crawl aliases."""
    from .functions.urls import canonicalize_url, path_depth, registrable_domain, url_host

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".Example.CO.UK:443/Doc/"),
        F.col("doc_id").cast("string"), F.lit("/?utm_source=feed&b=2&a="),
        F.col("lang"), F.lit("#frag"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("canon_url"),
        registrable_domain(url_host(F.col("url"))).alias("reg_domain"),
        path_depth(F.col("url")).alias("depth"),
    )


@q(
    "cohort_retention_events",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w
      FROM events),
    first AS (
      SELECT user_id, MIN(w) AS cohort FROM act GROUP BY user_id),
    sizes AS (
      SELECT cohort, COUNT(*) AS n_cohort FROM first GROUP BY cohort),
    cells AS (
      SELECT f.cohort, a.w - f.cohort AS age, COUNT(*) AS n_active
      FROM act a JOIN first f ON a.user_id = f.user_id
      GROUP BY 1, 2)
    SELECT c.cohort, c.age, c.n_active, s.n_cohort,
           CAST(floor(c.n_active * 10000 / s.n_cohort) AS BIGINT) AS retained_x1e4
    FROM cells c JOIN sizes s ON c.cohort = s.cohort
    """,
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/cohorts.py): users
    grouped by first-active epoch-week, per-cell distinct-active counts
    at each age, integer-exact x1e4 retention rate (floored — no float
    division). The exact-count twin of the theta-sketch retention
    estimates; at scale the first-seen table comes from the fold state
    instead of a raw min() re-derivation."""
    from .operators.cohorts import cohort_matrix

    ev = _t(spark, sf_dir, "events")
    return cohort_matrix(ev, "user_id", (_epoch("ts") / 604800).cast("long")).select(
        "cohort", "age", "n_active", "n_cohort", "retained_x1e4"
    )


@q(
    "unigram_surprisal_documents",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t
      WHERE length(term) >= 1 GROUP BY 1, 2),
    corpus AS (
      SELECT term, SUM(tf) AS cf FROM tf GROUP BY term),
    tot AS (SELECT SUM(tf) AS n_total FROM tf),
    surp AS (
      SELECT term, CAST(round(ln(n_total / cf) * 10000) AS BIGINT) AS s
      FROM corpus, tot)
    SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
           CAST(floor(SUM(tf.tf * surp.s) / SUM(tf.tf)) AS BIGINT)
             AS surprisal_x1e4
    FROM tf JOIN surp ON tf.term = surp.term
    GROUP BY tf.doc_id
    """,
)
def unigram_surprisal_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style fluency scoring without a model
    (functions/text.py::unigram_surprisal): mean corpus-unigram
    surprisal per document, integer-exact after per-term x1e4 rounding
    (the idf_x1e4 convention). The curation filter that separates
    stopword soup from rare-token gibberish."""
    from .functions.text import unigram_surprisal

    return unigram_surprisal(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "surprisal_x1e4"
    )


@q(
    "routed_range_events",
    """
    WITH b AS (
      SELECT (CAST(floor(epoch(MIN(ts)) / 60) AS BIGINT) * 60 + 5400) AS lo,
             (CAST(floor(epoch(MAX(ts)) / 60) AS BIGINT) * 60 - 5340) AS hi
      FROM events)
    SELECT event_type,
           COUNT(*) AS point_count
    FROM events, b
    WHERE epoch(ts) >= lo AND epoch(ts) < hi
    GROUP BY event_type
    """,
)
def routed_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-routed range read (operators/router.py) through the hash
    gate: Spark builds the 1m tier, cascades it 1h -> 1d -> 30d, routes
    a deliberately ragged ~29-day window (edges offset 90 minutes from
    bucket boundaries so EVERY tier contributes segments), and sums
    point_count per event_type across the routed per-tier scans. The
    oracle counts raw rows in the same window — equality proves the
    coarsest-fit cover is exact through two cascade levels, i.e.
    routing is pure I/O optimization, never approximation."""
    from .operators.router import read_routed

    ev = _t(spark, sf_dir, "events")
    r = ev.agg(
        ((F.min(_epoch("ts")) / 60).cast("long") * 60 + 5400).alias("lo"),
        ((F.max(_epoch("ts")) / 60).cast("long") * 60 - 5340).alias("hi"),
    ).first()
    lo, hi = r["lo"], r["hi"]

    base = ev.select("event_type", _bucket_epoch("ts", 60).alias("bucket_start"))
    t1m = base.groupBy("bucket_start", "event_type").agg(
        F.count(F.lit(1)).alias("point_count")
    )

    def down(parent, secs):
        return (
            parent.select(
                ((F.col("bucket_start") / secs).cast("long") * secs).alias("bucket_start"),
                "event_type",
                "point_count",
            )
            .groupBy("bucket_start", "event_type")
            .agg(F.sum("point_count").alias("point_count"))
        )

    tiers = {"1m": t1m}
    tiers["1h"] = down(tiers["1m"], 3600)
    tiers["1d"] = down(tiers["1h"], 86400)
    tiers["30d"] = down(tiers["1d"], 2_592_000)
    return read_routed(tiers, int(lo), int(hi), "point_count", keys=("event_type",))


@q(
    "correlation_pairs_events",
    f"""
    WITH h AS (
      SELECT event_type, {_bucket_epoch_sql('ts', 3600)} AS b,
             CAST(floor(SUM(CAST(round(value * 100) AS BIGINT)) / 100) AS BIGINT) AS v
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.event_type AS ka, c.event_type AS kb,
             a.v AS x, c.v AS y
      FROM h a JOIN h c ON a.b = c.b AND a.event_type < c.event_type)
    SELECT ka, kb,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS num,
           CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS den1,
           CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT) AS den2
    FROM p GROUP BY 1, 2
    """,
)
def correlation_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise series correlation (operators/rolling.py::
    series_correlation_pairs) over the per-type 1h series: exact
    integer Pearson sufficient statistics (num, den1, den2) per aligned
    pair — hash-gated; the float r² convenience column is derived from
    these exactly and is pytest-checked against numpy instead. Values
    are whole currency units (cents/100) so n·Σx² stays in 63 bits."""
    from .operators.rolling import series_correlation_pairs

    ev = _t(spark, sf_dir, "events")
    h1h = (
        ev.select("event_type", _bucket_epoch("ts", 3600), _cents().alias("_c"))
        .groupBy("event_type", "bucket_epoch")
        .agg(F.floor(F.sum("_c") / 100).cast("long").alias("v"))
    )
    out = series_correlation_pairs(h1h, "event_type", "bucket_epoch", "v")
    return out.select("ka", "kb", "n", "num", "den1", "den2")


@q(
    "path_prefix_rollup_documents",
    """
    WITH u AS (
      SELECT doc_id, n_chars,
             '/' || source || '/' || lang || '/doc' || doc_id AS path
      FROM documents),
    lv AS (
      SELECT doc_id, n_chars, regexp_extract(path, '^(/[^/]+)', 1) AS prefix FROM u
      UNION ALL
      SELECT doc_id, n_chars, regexp_extract(path, '^(/[^/]+/[^/]+)', 1) FROM u
      UNION ALL
      SELECT doc_id, n_chars, regexp_extract(path, '^(/[^/]+/[^/]+/[^/]+)', 1) FROM u)
    SELECT prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM lv WHERE prefix <> '' GROUP BY prefix
    """,
)
def path_prefix_rollup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical per-directory rollup (functions/urls.py::
    path_prefixes): every cumulative path prefix of every constructed
    doc URL aggregated in ONE explode+groupBy — per-site, per-section,
    per-page stats from a single shuffle (the trie-rollup replacement).
    The oracle unions the three prefix levels explicitly."""
    from .functions.urls import path_prefixes

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://x.example.com/"), F.col("source"), F.lit("/"),
        F.col("lang"), F.lit("/doc"), F.col("doc_id").cast("string"),
    )
    return (
        d.select("doc_id", "n_chars", F.explode(path_prefixes(url, 3)).alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@q(
    "rollup_grouping_sets_documents",
    """
    SELECT COALESCE(lang, '<all>') AS lang,
           COALESCE(source, '<all>') AS source,
           CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
)
def rollup_grouping_sets_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal rollup (SQL ROLLUP / grouping sets): per
    (lang, source), per lang, and grand total in ONE pass —
    Catalyst expands grouping sets into a single Expand+Aggregate plan
    (one shuffle), the idiomatic replacement for three separate
    aggregations a naive port would run. grouping_id disambiguates
    subtotal rows from literal '<all>' values; complements the
    cube_lang_source_documents CUBE query (here the hierarchy is
    ordered, as in per-site -> per-language -> corpus reporting)."""
    d = _t(spark, sf_dir, "documents")
    gid = (F.grouping("lang") * 2 + F.grouping("source")).cast("long")
    return (
        d.rollup("lang", "source")
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "gid", "n_docs", "sum_chars",
        )
    )


_HTML_ORACLE_EXPR = """
    '<html><head><title> Doc ' || doc_id || ' </title>' ||
    '<script>var x = "<p>ignored</p>";</script>' ||
    '<style>p { color: red; }</style></head>' ||
    '<body><!-- comment --><p>' || text || '</p>' ||
    '<ul><li>item one</li><li>item&#39;s</li></ul>' ||
    '<a href="/d/' || doc_id || '">in</a>' ||
    '<a href="https://Ex.com/p?b=2&amp;a=1">out</a>' ||
    ' Fish &amp; Chips &amp;amp; more</body></html>'
"""


@q(
    "html_extract_documents",
    f"""
    WITH u AS (
      SELECT doc_id, {_HTML_ORACLE_EXPR} AS html FROM documents),
    s1 AS (SELECT doc_id, html,
             regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
           FROM u),
    s2 AS (SELECT doc_id, html,
             regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
    s3 AS (SELECT doc_id, html, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
    s4 AS (SELECT doc_id, html,
             regexp_replace(t, '(?i)<(?:br|hr)\\s*/?>', chr(10), 'g') AS t FROM s3),
    s5 AS (SELECT doc_id, html,
             regexp_replace(t,
               '(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote)>', chr(10), 'g')
             AS t FROM s4),
    s6 AS (SELECT doc_id, html, regexp_replace(t, '(?s)<[^>]+>', ' ', 'g') AS t FROM s5),
    ent AS (SELECT doc_id, html,
              replace(replace(replace(replace(replace(replace(t,
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', chr(39)), '&amp;', '&') AS t
            FROM s6),
    fin AS (SELECT doc_id, html,
              trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text_extracted
            FROM ent)
    SELECT doc_id,
           text_extracted,
           trim(regexp_replace(
             replace(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
                     '&amp;', '&'),
             '\\s+', ' ', 'g')) AS title,
           CAST(len(regexp_extract_all(html,
             '(?i)<a[^>]+href\\s*=\\s*["'']([^"'']*)["'']', 1)) AS BIGINT) AS n_links
    FROM fin
    """,
)
def html_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text decode (functions/html.py): both engines construct
    the same deliberately-nasty document per doc (scripts containing
    tags, styles, comments, block tags, single/double entity escapes,
    two links) and must extract BYTE-IDENTICAL text, title, and link
    count — the per-row invariant the north star demands of the
    extractor, enforced cross-engine through the hash gate. Every
    rewrite is the same RE2-compatible regexp chain in both engines."""
    from .functions.html import extract_links, extract_text, extract_title

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title> Doc "), F.col("doc_id").cast("string"),
        F.lit(" </title>"),
        F.lit('<script>var x = "<p>ignored</p>";</script>'),
        F.lit("<style>p { color: red; }</style></head>"),
        F.lit("<body><!-- comment --><p>"), F.col("text"), F.lit("</p>"),
        F.lit("<ul><li>item one</li><li>item&#39;s</li></ul>"),
        F.lit('<a href="/d/'), F.col("doc_id").cast("string"), F.lit('">in</a>'),
        F.lit('<a href="https://Ex.com/p?b=2&amp;a=1">out</a>'),
        F.lit(" Fish &amp; Chips &amp;amp; more</body></html>"),
    )
    u = d.select("doc_id", html.alias("html"))
    return u.select(
        "doc_id",
        extract_text(F.col("html")).alias("text_extracted"),
        extract_title(F.col("html")).alias("title"),
        F.size(extract_links(F.col("html"))).cast("long").alias("n_links"),
    )


@q(
    "curation_score_documents",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents),
    per AS (
      SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
             CAST(floor((SUM(c) - COUNT(*)) * 10000 / SUM(c)) AS BIGINT) AS dup_frac,
             CAST(floor(MAX(c) * 10000 / SUM(c)) AS BIGINT) AS top_share,
             CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM per GROUP BY doc_id),
    surp AS (
      WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
          FROM documents) x WHERE length(term) >= 1 GROUP BY 1, 2),
      corpus AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY term),
      tot AS (SELECT SUM(tf) AS n_total FROM tf),
      sw AS (SELECT term, CAST(round(ln(n_total / cf) * 10000) AS BIGINT) AS s
             FROM corpus, tot)
      SELECT tf.doc_id,
             CAST(floor(SUM(tf.tf * sw.s) / SUM(tf.tf)) AS BIGINT) AS surp
      FROM tf JOIN sw ON tf.term = sw.term GROUP BY tf.doc_id)
    SELECT r.doc_id, r.n_tokens, r.dup_frac, r.top_share, s.surp,
           CASE WHEN r.n_tokens >= 10 AND r.dup_frac <= 6000
                     AND r.top_share <= 3000
                     AND s.surp BETWEEN 20000 AND 60000
                THEN 1 ELSE 0 END AS keep
    FROM rep r JOIN surp s ON r.doc_id = s.doc_id
    """,
)
def curation_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation gate — the per-document keep/drop decision a
    pretraining pipeline actually ships: Gopher-style repetition
    features (dup-token fraction, top-token share) AND the
    unigram-surprisal fluency band, all integer-exact, joined into one
    0/1 keep flag with explicit thresholds. Composition of
    functions/text.py::token_repetition + unigram_surprisal; every
    branch individually oracle-gated elsewhere, this query gates their
    JOIN + threshold logic."""
    from .functions.text import token_repetition, unigram_surprisal

    d = _t(spark, sf_dir, "documents")
    rep = token_repetition(d).select(
        "doc_id", "n_tokens",
        F.col("dup_token_frac_x1e4").alias("dup_frac"),
        F.col("top_token_share_x1e4").alias("top_share"),
    )
    surp = unigram_surprisal(d).select("doc_id", F.col("surprisal_x1e4").alias("surp"))
    keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("dup_frac") <= 6000)
        & (F.col("top_share") <= 3000)
        & F.col("surp").between(20000, 60000)
    )
    return (
        rep.join(surp, "doc_id")
        .select("doc_id", "n_tokens", "dup_frac", "top_share", "surp",
                keep.cast("int").alias("keep"))
    )


@q(
    "routed_p90_events",
    f"""
    WITH h AS (
      SELECT event_type, {_HB_EXPR} AS hb_lo, COUNT(*) AS hb_count
      FROM events
      WHERE epoch(ts) >= 1704259800 AND epoch(ts) < 1706384700
      GROUP BY 1, 2),
    c AS (
      SELECT event_type, hb_lo,
             SUM(hb_count) OVER (PARTITION BY event_type ORDER BY hb_lo) AS cum,
             SUM(hb_count) OVER (PARTITION BY event_type) AS total
      FROM h)
    SELECT event_type, MIN(hb_lo) AS p90_lo
    FROM c WHERE cum >= CAST((total * 90 + 99) // 100 AS BIGINT)
    GROUP BY 1
    """,
)
def routed_p90_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUTED quantile (operators/router.py::read_routed_quantile,
    VERDICT r2 item 4): p90 of the value distribution over a RAGGED
    multi-tier range [2024-01-03 05:30, 2024-01-27 19:45) — minute
    buckets at the edges, hour buckets inside them, whole days in the
    middle — answered entirely from the 1m→1h→1d histogram cascade
    (leading-decimal-digit buckets, exactly mergeable). The oracle
    buckets raw events in the same range directly; equality through the
    value-hash gate proves routed segment merging is lossless across
    all three tiers + both ragged edges. At 10^12 rows this is the
    2-year-p90-dashboard shape: ~40 histogram rows per routed coarse
    bucket instead of a full finest-tier scan."""
    from .operators.histogram import histogram_downsample, histogram_rollup
    from .operators.router import read_routed_quantile

    ev = _t(spark, sf_dir, "events").withColumn("_c", _cents())
    # persist + materialize the cascade parents: the routed union's
    # three tier branches (and the 1h -> 1d derivation) would otherwise
    # each replay the raw 1m histogram build — in production these are
    # STORED tier tables and the routed read only scans them
    # (optimization r06; histogram rows per tier are a few 100k max)
    h1m = histogram_rollup(
        ev, _bucket_epoch("ts", 60), ["event_type"], F.col("_c")
    ).persist()
    h1m.count()
    h1h = histogram_downsample(h1m, ["event_type"], 3600).persist()
    h1h.count()
    h1d = histogram_downsample(h1h, ["event_type"], 86400)
    return read_routed_quantile(
        {"1m": h1m, "1h": h1h, "1d": h1d},
        1704259800, 1706384700,
        series_cols=("event_type",), q_x100=90, out_col="p90_lo",
    ).select("event_type", "p90_lo")


@q(
    "dup_span_stats_documents",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
      FROM t WHERE len(toks) >= 8
    ),
    s AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span FROM u),
    c AS (SELECT span, COUNT(*) AS cnt FROM s GROUP BY 1),
    d AS (SELECT s.doc_id, COUNT(*) AS n_spans,
                 SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS n_dup_spans
          FROM s JOIN c USING (span) GROUP BY 1)
    SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
           CAST(floor(n_dup_spans * 10000 / n_spans) AS BIGINT) AS dup_frac_x1e4
    FROM d
    """,
)
def dup_span_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication measurement at 8-token granularity
    (operators/dedup.py::dup_span_stats — the Lee et al. ACL'22
    dedup-training-data shape): per doc, how many of its token spans
    occur elsewhere in the corpus. The engine counts spans by 64-bit
    hash (scale path: ~8 B/span through the shuffle); the oracle counts
    the span strings — equality through the hash gate also certifies
    zero hash collisions at this sf."""
    from .operators.dedup import dup_span_stats

    return dup_span_stats(_t(spark, sf_dir, "documents"), w=8)


@q(
    "bpe_word_freq_documents",
    """
    SELECT w, c FROM (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ) ORDER BY c DESC, w LIMIT 200
    """,
)
def bpe_word_freq_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale stage of BPE tokenizer training
    (operators/bpe.py::word_frequency_df): bounded top-200 word types
    by count with a deterministic (count, word) truncation boundary so
    both engines cut the same set. The merge loop and segmentation are
    iterative/greedy (not SQL-expressible) and are pinned by
    tests/test_bpe.py instead (Sennrich hand case, determinism,
    monotone compression, round-trip)."""
    from .operators.bpe import word_frequency_df

    return word_frequency_df(_t(spark, sf_dir, "documents"), max_words=200)


@q(
    "pack_chunks_documents",
    """
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_off
      FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, start_off,
           CAST(start_off // 512 AS BIGINT) AS first_chunk,
           CAST((start_off + n_tokens - 1) // 512 - start_off // 512 + 1 AS BIGINT)
             AS n_chunks
    FROM c
    """,
)
def pack_chunks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing coordinates (operators/packing.py): where each
    document's tokens land in the seq_len=512 concatenated training
    stream — start offset, first chunk id, chunks straddled. Integer
    window cumsum over the deterministic doc order; the scale form
    shards the stream (tests prove sharded == global per shard)."""
    from .operators.packing import pack_chunks

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens")
    )
    return pack_chunks(d, seq_len=512)


@q(
    "contamination_documents",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
      FROM t WHERE len(toks) >= 8
    ),
    s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS span FROM u),
    bench AS (SELECT DISTINCT span FROM s WHERE doc_id < 50),
    train AS (SELECT doc_id, span FROM s WHERE doc_id >= 50)
    SELECT train.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN bench.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated_spans,
           CAST(MAX(CASE WHEN bench.span IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
             AS contaminated
    FROM train LEFT JOIN bench USING (span)
    GROUP BY train.doc_id
    """,
)
def contamination_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators/dedup.py::
    benchmark_contamination — the GPT-3-style n-gram overlap flag):
    docs with id < 50 stand in as the held-out benchmark; every other
    doc is scored by how many of its DISTINCT 8-token spans appear in
    the benchmark span set. Engine probes by 64-bit span hash
    (broadcastable benchmark side at scale); the oracle joins span
    strings — the hash gate again certifies collision-free hashing."""
    from .operators.dedup import benchmark_contamination

    d = _t(spark, sf_dir, "documents")
    return benchmark_contamination(
        d.where(F.col("doc_id") >= 50), d.where(F.col("doc_id") < 50), w=8
    )


@q(
    "strip_dup_spans_documents",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
      FROM t WHERE len(toks) >= 8
    ),
    s AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS span FROM u),
    c AS (SELECT span, COUNT(*) AS cnt FROM s GROUP BY 1),
    dup AS (SELECT s.doc_id, s.i FROM s JOIN c USING (span) WHERE c.cnt > 1),
    cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS j FROM dup),
    tok AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j FROM t),
    tok2 AS (SELECT doc_id, j, toks[j] AS tk FROM tok),
    kept AS (
      SELECT tok2.doc_id, tok2.j, tok2.tk
      FROM tok2 LEFT JOIN cov ON cov.doc_id = tok2.doc_id AND cov.j = tok2.j
      WHERE cov.j IS NULL),
    agg AS (
      SELECT doc_id, string_agg(tk, ' ' ORDER BY j) AS text, COUNT(*) AS n
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(agg.text, '') AS text,
           CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_tokens_kept,
           CAST(len(t.toks) - COALESCE(agg.n, 0) AS BIGINT) AS n_tokens_dropped
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def strip_dup_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of exact-substring dedup, hash-gated on the
    reconstructed text itself (operators/dedup.py::strip_dup_spans):
    every token covered by a corpus-duplicated 8-token span is dropped
    and the document reassembled. The oracle rebuilds the same kept
    text by span-string counting + position anti-join — byte equality
    through the value-hash gate certifies the whole cover/removal
    pipeline, not just its counts."""
    from .operators.dedup import strip_dup_spans

    return strip_dup_spans(_t(spark, sf_dir, "documents"), w=8)


_EMB_DEDUP_X1E4 = 9500  # near-dup edge: cosine >= 0.95


@q(
    "embedding_dedup_groups",
    f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
      FROM embeddings),
    vpairs AS (
      SELECT l.vec_id AS id_a, r.vec_id AS id_b
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
      WHERE CAST(round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                              CAST(r.embedding AS DOUBLE[])) * 10000)
                 AS BIGINT) >= {_EMB_DEDUP_X1E4}),
    sym AS (SELECT id_a AS a, id_b AS b FROM vpairs
            UNION SELECT id_b, id_a FROM vpairs),
    reach(node, r) AS (
      SELECT a, b FROM sym
      UNION
      SELECT reach.node, s.b FROM reach JOIN sym s ON s.a = reach.r),
    comp AS (SELECT node, least(node, MIN(r)) AS component
             FROM reach GROUP BY node)
    SELECT e.vec_id,
           CAST(COALESCE(c.component, e.vec_id) AS BIGINT) AS group_id,
           (COALESCE(c.component, e.vec_id) = e.vec_id) AS is_representative
    FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
    """,
)
def embedding_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-space near-dup groups: connected components
    (large-star/small-star, operators/components.py) over the
    hyperplane-LSH-bucketed cosine pair graph thresholded at 0.95 —
    the semantic-dedup companion of the shingle-based
    ``dedup_groups_documents`` (same component machinery, a different
    edge source: vectors instead of text). Oracle = recursive-CTE
    transitive closure over the same bucketed pair SQL that gates
    ``embedding_neardup_pairs``."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = (
        _sim.cosine_pairs_over_threshold(e, _PLANES, threshold=-2.0)
        .where(F.round(F.col("cos_sim") * 10000, 0).cast("long") >= _EMB_DEDUP_X1E4)
        .select("id_a", "id_b")
    )
    return _cc.dedup_groups(e, pairs, id_col="vec_id").select(
        "vec_id", "group_id", "is_representative"
    )


@q(
    "strip_dup_spans_segments_documents",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
      FROM t WHERE len(toks) >= 8
    ),
    s AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS span FROM u),
    c AS (SELECT span, COUNT(*) AS cnt FROM s GROUP BY 1),
    dup AS (SELECT s.doc_id, s.i FROM s JOIN c USING (span) WHERE c.cnt > 1),
    cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS j FROM dup),
    tok AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j FROM t),
    tok2 AS (SELECT doc_id, j, toks[j] AS tk FROM tok),
    kept AS (
      SELECT tok2.doc_id, tok2.j, tok2.tk
      FROM tok2 LEFT JOIN cov ON cov.doc_id = tok2.doc_id AND cov.j = tok2.j
      WHERE cov.j IS NULL),
    runs AS (
      SELECT doc_id, j, tk,
             j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) AS rid
      FROM kept),
    segs AS (
      SELECT doc_id, rid, MIN(j) AS seg_start,
             string_agg(tk, ' ' ORDER BY j) AS seg_text,
             COUNT(*) AS n_tokens
      FROM runs GROUP BY 1, 2)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seg_start) AS BIGINT) AS seg_idx,
           CAST(seg_start AS BIGINT) AS seg_start,
           seg_text,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM segs
    """,
)
def strip_dup_spans_segments_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-granularity exact-substring cut (VERDICT r3 next-item #6;
    Lee et al. ACL'22 cut-the-substring semantics): maximal kept runs
    become their own rows, segment TEXT reconstructed byte-identically
    by the oracle — the strongest cross-engine check the family has
    (same bar as ``strip_dup_spans_documents``)."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.dedup import strip_dup_spans_segments

    return strip_dup_spans_segments(docs, w=8)


@q(
    "contamination_spans_documents",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
      FROM t WHERE len(toks) >= 8
    ),
    s AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS span FROM u),
    bench AS (SELECT DISTINCT span FROM s WHERE doc_id < 50)
    SELECT s.doc_id, CAST(s.i AS BIGINT) AS pos
    FROM s JOIN bench USING (span)
    WHERE s.doc_id >= 50
    """,
)
def contamination_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination positions (VERDICT r3 next-item #7;
    operators/dedup.py::contamination_span_positions): docs with id <
    50 stand in as the benchmark, every other doc emits the 1-based
    start position of each overlapping 8-token span — the input a
    surgical excision (``excise_contaminated_spans``) consumes. Hash
    probe vs the oracle's string join certifies collision-free
    hashing, as in ``contamination_documents``."""
    from .operators.dedup import contamination_span_positions

    d = _t(spark, sf_dir, "documents")
    return contamination_span_positions(
        d.where(F.col("doc_id") >= 50), d.where(F.col("doc_id") < 50), w=8
    ).select("doc_id", F.col("pos").cast("long").alias("pos"))


@q(
    "ngram_counts_documents",
    """
    WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT lang, toks, unnest(range(1, len(toks))) AS i
      FROM t WHERE len(toks) >= 2
    ),
    g AS (SELECT lang, array_to_string(toks[i:i+1], ' ') AS ngram FROM u),
    c AS (SELECT lang, ngram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
    r AS (SELECT lang, ngram, c,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, ngram) AS rn
          FROM c)
    SELECT lang, ngram, c FROM r WHERE rn <= 20
    """,
)
def ngram_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table, top-20 per lang (functions/text.py::
    ngram_counts) — the Google-Books-style n-gram asset an LM-training
    pipeline tabulates; single agg shuffle, window only on aggregated
    rows. Total deterministic order (count desc, gram) makes the top-k
    hash-stable cross-engine."""
    from .functions.text import ngram_counts

    d = _t(spark, sf_dir, "documents")
    return ngram_counts(d, n=2, group_cols=("lang",), top_k=20)


@q(
    "split_assign_documents",
    f"""
    SELECT doc_id,
           CASE WHEN {_KEYHASH_PPM_SQL.format(x='doc_id', seed=11)} < 10000 THEN 'test'
                WHEN {_KEYHASH_PPM_SQL.format(x='doc_id', seed=11)} < 30000 THEN 'train'
                ELSE 'val' END AS split
    FROM documents
    """,
)
def split_assign_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-way train/val/test assignment
    (operators/sampling.py::split_assign): content-hash cumulative
    bands, sorted-name order (test 1%%, train 2%%... the gate checks the
    BAND MATH, not realistic fractions: tiny bands make every branch of
    the CASE exercise at sf0.01), reproducible cross-engine via the md5
    ppm hash. Scan-side projection — no shuffle, stable on any cluster
    size."""
    d = _t_raw(spark, sf_dir, "documents")
    return _samp.split_assign(
        d, {"test": 0.01, "train": 0.02, "val": 0.97}, key="doc_id", seed=11
    ).select("doc_id", "split")


@q(
    "bigram_surprisal_documents",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      FROM t WHERE len(toks) >= 2
    ),
    occ AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg FROM u),
    bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_bi FROM occ GROUP BY 1),
    sp AS (SELECT bg, c_bi, string_split(bg, ' ')[1] AS w1,
                  string_split(bg, ' ')[-1] AS w2 FROM bc),
    ctx AS (SELECT w1, SUM(c_bi) AS c_ctx FROM sp GROUP BY 1),
    uni AS (SELECT w2, SUM(c_bi) AS c_w2 FROM sp GROUP BY 1),
    n AS (SELECT SUM(c_bi) AS n_total FROM bc),
    st AS (
      SELECT sp.bg,
             CAST(round(-ln(0.75 * sp.c_bi / ctx.c_ctx
                            + 0.25 * uni.c_w2 / n.n_total) * 10000)
                  AS BIGINT) AS surp_x1e4
      FROM sp JOIN ctx USING (w1) JOIN uni USING (w2) CROSS JOIN n)
    SELECT occ.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(floor(SUM(st.surp_x1e4) / COUNT(*)) AS BIGINT) AS bi_surprisal_x1e4
    FROM occ JOIN st USING (bg)
    GROUP BY occ.doc_id
    """,
)
def bigram_surprisal_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer bigram LM surprisal per doc (functions/text.py::
    bigram_surprisal, λ=0.75) — the corpus-as-LM perplexity filter one
    step up from ``unigram_surprisal_documents``. Per-bigram-TYPE x1e4
    log rounding keeps the per-doc rollup integer-exact cross-engine."""
    from .functions.text import bigram_surprisal

    return bigram_surprisal(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Serving-layer read paths (streaming/stream.py, operators/router.py,
# operators/cold_store.py) — VERDICT r4 item 7: the history+edge merge,
# the routed forecast series, and the hot∪cold tier read were
# pytest-verified but had no oracle rows; these certify them directly.
# ---------------------------------------------------------------------------


@q(
    "serve_tier_merge_events",
    f"""
    WITH h AS (
      SELECT {_bucket_epoch_sql('ts', 3600)} AS bucket_epoch,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS point_count,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT CAST(floor(epoch(MIN(ts)) / 86400) AS BIGINT) * 86400 + 1296000
               AS cut
      FROM events),
    batch AS (SELECT h.* FROM h, c WHERE bucket_epoch < cut),
    edge AS (
      SELECT bucket_epoch, event_type,
             point_count + 1000000 AS point_count, value_cents
      FROM h)
    SELECT * FROM batch
    UNION ALL
    SELECT e.* FROM edge e
    WHERE e.bucket_epoch NOT IN (SELECT bucket_epoch FROM batch)
    """,
)
def serve_tier_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History+edge tier serving (streaming/stream.py::merge_batch_edge,
    the primitive under ``serve_tier`` / ``serve_distribution`` /
    ``serve_distinct``): the batch tier covers the first 15 days; the
    streaming edge covers everything but carries replay DUPLICATES
    (unioned with itself — deduped by the same ``.distinct()`` the
    serve_tier read applies, streaming partial rows being deterministic
    re-derivations) and a +1,000,000 count perturbation. The merged
    read must take batch values on every covered bucket (perturbation
    invisible there) and edge values beyond — exactly the oracle's
    anti-join union."""
    from .streaming.stream import merge_batch_edge

    ev = _t(spark, sf_dir, "events")
    h = (
        ev.select(_bucket_epoch("ts", 3600), "event_type", _cents().alias("_c"))
        .groupBy("bucket_epoch", "event_type")
        .agg(F.count(F.lit(1)).alias("point_count"),
             F.sum("_c").alias("value_cents"))
    )
    day0 = ev.agg(
        ((F.min(_epoch("ts")) / 86400).cast("long") * 86400).alias("d0")
    ).first()["d0"]
    cut = int(day0) + 15 * 86400
    batch = h.where(F.col("bucket_epoch") < cut)
    edge_once = h.select(
        "bucket_epoch", "event_type",
        (F.col("point_count") + 1000000).alias("point_count"), "value_cents",
    )
    edge = edge_once.unionAll(edge_once).distinct()
    return merge_batch_edge(batch, edge, "bucket_epoch")


@q(
    "routed_series_events",
    """
    WITH b AS (
      SELECT CAST(floor(epoch(MIN(ts)) / 86400) AS BIGINT) * 86400 + 172800
               AS lo,
             CAST(floor(epoch(MAX(ts)) / 86400) AS BIGINT) * 86400 - 86400
               AS hi
      FROM events)
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS bucket_epoch,
           CAST(COUNT(*) AS BIGINT) AS point_count
    FROM events, b
    WHERE epoch(ts) >= lo AND epoch(ts) < hi
    GROUP BY 1, 2
    """,
)
def routed_series_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed regular series at a grain COARSER than any stored tier
    (operators/router.py::read_routed_series — the ``serve-forecast``
    input path): a warehouse holding only 1m+1h tiers answers a
    1d-grain series by routing the window over the 1h tier and
    rebucketing UP, with the retention-validation plumbing engaged
    (infinite horizons here; the expired case raises and is
    pytest-covered). Oracle = the same daily rollup straight off the
    raw rows — equality proves the cascade + rebucket-up is lossless,
    i.e. the routed forecast history is exact, never approximated."""
    from .operators.router import read_routed_series

    ev = _t(spark, sf_dir, "events")
    r = ev.agg(
        ((F.min(_epoch("ts")) / 86400).cast("long") * 86400 + 172800).alias("lo"),
        ((F.max(_epoch("ts")) / 86400).cast("long") * 86400 - 86400).alias("hi"),
    ).first()
    lo, hi = int(r["lo"]), int(r["hi"])

    base = ev.select("event_type", _bucket_epoch("ts", 60).alias("bucket_start"))
    t1m = base.groupBy("bucket_start", "event_type").agg(
        F.count(F.lit(1)).alias("point_count")
    )
    t1h = (
        t1m.select(
            ((F.col("bucket_start") / 3600).cast("long") * 3600)
            .alias("bucket_start"),
            "event_type", "point_count",
        )
        .groupBy("bucket_start", "event_type")
        .agg(F.sum("point_count").alias("point_count"))
    )
    out = read_routed_series(
        {"1m": t1m, "1h": t1h}, lo, hi, "1d",
        measure="point_count", keys=("event_type",),
        retention_horizons={"1m": None, "1h": None}, now_epoch=hi,
    )
    return out.select(
        "event_type",
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        F.col("point_count").cast("long").alias("point_count"),
    )


@q(
    "serve_distinct_merge_events",
    f"""
    WITH base AS (
      SELECT {_bucket_epoch_sql('ts', 86400)} AS bucket_epoch,
             event_type, user_id
      FROM events),
    c AS (
      SELECT CAST(floor(epoch(MIN(ts)) / 86400) AS BIGINT) * 86400 + 1296000
               AS cut
      FROM events),
    batch AS (
      SELECT bucket_epoch, event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
      FROM base, c WHERE bucket_epoch < cut GROUP BY 1, 2),
    edge AS (
      SELECT bucket_epoch, event_type,
             CAST(COUNT(DISTINCT user_id % 47) AS BIGINT) AS distinct_users
      FROM base GROUP BY 1, 2)
    SELECT * FROM batch
    UNION ALL
    SELECT e.* FROM edge e
    WHERE e.bucket_epoch NOT IN (SELECT bucket_epoch FROM batch)
    """,
)
def serve_distinct_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count serving merge (streaming/stream.py::serve_distinct
    routing logic, certified on EXACT counts because a sketch estimate
    has no cross-engine oracle): the batch side carries the
    authoritative per-(day, type) distinct-user counts for its covered
    days; the edge side deliberately computes a DIFFERENT statistic
    (distinct of user_id mod 47 — standing in for the HLL estimate).
    The merged result shows edge numbers only past batch coverage —
    the per-bucket batch-wins rule ``serve_distinct`` relies on, here
    observable because the two sides genuinely disagree."""
    from .streaming.stream import merge_batch_edge

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        _bucket_epoch("ts", 86400), "event_type", F.col("user_id")
    )
    day0 = ev.agg(
        ((F.min(_epoch("ts")) / 86400).cast("long") * 86400).alias("d0")
    ).first()["d0"]
    cut = int(day0) + 15 * 86400
    batch = (
        base.where(F.col("bucket_epoch") < cut)
        .groupBy("bucket_epoch", "event_type")
        .agg(F.countDistinct("user_id").alias("distinct_users"))
    )
    edge = base.groupBy("bucket_epoch", "event_type").agg(
        F.countDistinct(F.col("user_id") % 47).alias("distinct_users")
    )
    return merge_batch_edge(batch, edge, "bucket_epoch")


@q(
    "cold_read_union_events",
    """
    SELECT 'https://e.example/u' || CAST(user_id % 40 AS VARCHAR) AS url,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS bucket_epoch,
           CAST(COUNT(*) AS BIGINT) AS point_count,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS byte_size,
           CAST(SUM(length(event_type)) AS BIGINT) AS text_len_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def cold_read_union_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot∪cold tier read through the REAL Gorilla path
    (operators/cold_store.py::merge_hot_cold, the core of
    ``read_tier_with_cold``): a url-grain 1d tier is split at day 15 —
    the old half is Gorilla-ENCODED into day-keyed blobs and read back
    through the transposed batch DECODER + pivot; the hot half stays
    wide. The overlap day (day 15 lives on both sides) is fed to the
    encoder with a +7777 perturbation. The oracle is the plain full
    rollup: hash equality proves (a) the codec round-trip is bit-exact
    through real encode→decode, and (b) hot strictly wins per (url,
    bucket) — the crash-window guarantee ``enforce_cold_policy``'s
    append-then-delete relies on."""
    from .operators.cold_store import encode_cold, merge_hot_cold

    ev = _t(spark, sf_dir, "events")
    measures = ["point_count", "byte_size", "text_len_sum"]
    url = F.concat(F.lit("https://e.example/u"),
                   (F.col("user_id") % 40).cast("string"))
    tier = (
        ev.select(
            url.alias("url"),
            ((_epoch("ts") / 86400).cast("long") * 86400).alias("_d"),
            _cents().alias("_c"),
            F.length("event_type").alias("_l"),
        )
        .groupBy("url", "_d")
        .agg(F.count(F.lit(1)).alias("point_count"),
             F.sum("_c").alias("byte_size"),
             F.sum("_l").cast("long").alias("text_len_sum"))
        .select(
            "url", F.xxhash64("url").alias("url_hash"),
            F.col("_d").cast("timestamp").alias("bucket_start"),
            *measures,
        )
    )
    day0 = ev.agg(
        ((F.min(_epoch("ts")) / 86400).cast("long") * 86400).alias("d0")
    ).first()["d0"]
    mid = int(day0) + 15 * 86400
    b = F.col("bucket_start").cast("long")
    hot = tier.where(b >= mid)
    perturb = F.when(b == mid, F.lit(7777)).otherwise(F.lit(0))
    cold_src = tier.where(b <= mid).select(
        "url", "url_hash", "bucket_start",
        *[(F.col(m) + perturb).alias(m) for m in measures],
    )
    out = merge_hot_cold(hot, encode_cold(cold_src), measures)
    return out.select(
        "url",
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        *[F.col(m).cast("long").alias(m) for m in measures],
    )


@q(
    "idf_shift_documents",
    """
    WITH t AS (
      SELECT doc_id, doc_id % 2 = 1 AS p,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    dt AS (
      SELECT DISTINCT p, term, doc_id FROM t WHERE length(term) >= 4),
    dfs AS (SELECT p, term, COUNT(*) AS df FROM dt GROUP BY 1, 2),
    n AS (
      SELECT doc_id % 2 = 1 AS p, COUNT(*) AS n_docs
      FROM documents GROUP BY 1),
    idf AS (
      SELECT dfs.p, term, df,
             CAST(round(ln(CAST(n.n_docs AS DOUBLE) / df) * 10000) AS BIGINT)
               AS i
      FROM dfs JOIN n USING (p))
    SELECT a.term,
           a.i AS idf_a_x1e4,
           b.i AS idf_b_x1e4,
           b.i - a.i AS shift_x1e4
    FROM idf a JOIN idf b ON a.term = b.term AND NOT a.p AND b.p
    WHERE a.df >= 5 AND b.df >= 5
    """,
)
def idf_shift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift IDF shift (functions/text.py::idf_shift) between
    the even- and odd-doc_id halves of the corpus: per-term integer
    idf_x1e4 on each side and their difference, for terms with df ≥ 5
    on both sides — the emerging-boilerplate / dying-vocabulary flag a
    curation pass runs between crawl snapshots."""
    from .functions.text import idf_shift

    d = _t(spark, sf_dir, "documents")
    return idf_shift(d, (F.col("doc_id") % 2) == 1, min_len=4, min_df=5)


# ---------------------------------------------------------------------------
# Round-5 additions: OHLC candles, state durations, MAD anomalies,
# quality-aware dedup survivors
# ---------------------------------------------------------------------------

_OHLC_1H_SQL = """
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_epoch,
             event_type,
             CAST(round(value * 100) AS BIGINT) AS c,
             row_number() OVER (
               PARTITION BY CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600,
                            event_type
               ORDER BY ts, event_id) AS ra,
             row_number() OVER (
               PARTITION BY CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600,
                            event_type
               ORDER BY ts DESC, event_id DESC) AS rd
      FROM events)
    SELECT bucket_epoch, event_type,
           MAX(CASE WHEN ra = 1 THEN c END) AS open_cents,
           MAX(c) AS high_cents,
           MIN(c) AS low_cents,
           MAX(CASE WHEN rd = 1 THEN c END) AS close_cents,
           COUNT(*) AS point_count
    FROM b GROUP BY 1, 2
"""


@q("ohlc_1h_events", _OHLC_1H_SQL)
def ohlc_1h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup THROUGH THE CASCADE: Spark builds 1m
    candle partials (operators/ohlc.py::ohlc_partials) and merges them
    to 1h (ohlc_merge); the oracle computes 1h candles directly from
    raw rows. Hash equality proves first/last-by-time re-aggregate
    exactly when the opening/closing order keys ride along — the
    property that lets candles live in the tier cascade without
    re-reading raw input. Ordering is (ts, event_id), total, so open
    and close are deterministic under timestamp ties at any
    parallelism level."""
    from .operators.ohlc import ohlc_merge, ohlc_partials

    ev = _t(spark, sf_dir, "events").select(
        _bucket_epoch("ts", 60), "event_type", "ts", "event_id",
        _cents().alias("c"),
    )
    m1 = ohlc_partials(ev, ["bucket_epoch", "event_type"], "ts", "event_id", "c")
    h1 = ohlc_merge(
        m1.withColumn(
            "bucket_epoch", (F.col("bucket_epoch") / 3600).cast("long") * 3600
        ),
        ["bucket_epoch", "event_type"],
    )
    return h1.select(
        "bucket_epoch", "event_type",
        F.col("open_val").alias("open_cents"),
        F.col("high_val").alias("high_cents"),
        F.col("low_val").alias("low_cents"),
        F.col("close_val").alias("close_cents"),
        "point_count",
    )


@q("candles_registry_1h_events", _OHLC_1H_SQL)
def candles_registry_1h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candles through the PIPELINE's metric-set registry
    (operators/registry.py::candle_specs): open/close live as single
    struct partials whose lexicographic min/max is both the raw-row agg
    and the cascade reagg, so run_pipeline(metric_set=...) materializes
    and cascades candle tiers with zero engine edits. Same oracle as
    ohlc_1h_events — this row certifies the REGISTRY path (struct
    partials through rollup_with_spec → downsample_with_spec), the
    other the standalone operator (ohlc_partials → ohlc_merge)."""
    from .operators.registry import (
        MetricSet,
        MetricSpec,
        candle_specs,
        downsample_with_spec,
        rollup_with_spec,
    )

    ms = MetricSet(
        name="contract_candles",
        metrics=(
            MetricSpec("point_count", lambda: F.count(F.lit(1)), lambda: F.sum("point_count")),
        )
        + candle_specs("ts", "event_id", "c"),
        tiers=("1m", "1h"),
    )
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("c", _cents())
    )
    fine = rollup_with_spec(ev, ms, "1m", time_col="ts", keys=("event_type",))
    coarse = downsample_with_spec(fine, ms, "1h", keys=("event_type",))
    return coarse.select(
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        "event_type",
        F.col("open_k.val").alias("open_cents"),
        F.col("high").alias("high_cents"),
        F.col("low").alias("low_cents"),
        F.col("close_k.val").alias("close_cents"),
        "point_count",
    )


@q(
    "state_durations_events",
    """
    WITH i AS (
      SELECT event_type,
             CAST(floor(epoch(lead(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
             - CAST(floor(epoch(ts)) AS BIGINT) AS dur
      FROM events)
    SELECT event_type,
           COUNT(*) AS n_intervals,
           CAST(SUM(dur) AS BIGINT) AS total_secs
    FROM i WHERE dur IS NOT NULL GROUP BY 1
    """,
)
def state_durations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state accounting (operators/states.py): each user's
    event opens a state that lasts until their next event; totals per
    state (= event_type) in integer seconds. The last event per user is
    open-ended and excluded, never fabricated — the TimescaleDB
    ``state_agg`` analogue over the engine's event stream."""
    from .operators.states import state_intervals, state_totals

    ev = _t_raw(spark, sf_dir, "events")
    iv = state_intervals(ev, "user_id", "event_type", "ts", "event_id")
    return state_totals(iv).select(
        F.col("state").alias("event_type"), "n_intervals", "total_secs"
    )


@q(
    "mad_anomaly_events",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
    m AS (
      SELECT event_type, median(CAST(c AS DOUBLE)) AS med FROM v GROUP BY 1),
    d AS (
      SELECT v.event_type, c, med,
             abs(CAST(c AS DOUBLE) - med) AS adev
      FROM v JOIN m USING (event_type)),
    md AS (SELECT event_type, median(adev) AS mad FROM d GROUP BY 1)
    SELECT d.event_type,
           COUNT(*) AS n_points,
           CAST(round(MIN(d.med) * 2) AS BIGINT) AS med_cents_x2,
           CAST(round(MIN(md.mad) * 2) AS BIGINT) AS mad_cents_x2,
           CAST(SUM(CASE WHEN d.adev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies
    FROM d JOIN md USING (event_type) GROUP BY 1
    """,
)
def mad_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly counts per event_type
    (operators/rolling.py::mad_anomaly): integer-cents input makes the
    medians exact half-integers, so counts are bit-identical across
    engines — the outlier gate z-scores can't provide when the outliers
    themselves drag the mean."""
    from .operators.rolling import mad_anomaly

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents().alias("v_cents")
    )
    return mad_anomaly(ev, ["event_type"], "v_cents", k=3)


@q(
    "survivor_longest_documents",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTE},
    m AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             COALESCE(c.component, d.doc_id) AS grp
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
    k AS (
      SELECT *, row_number() OVER
               (PARTITION BY grp ORDER BY n_chars DESC, doc_id) AS rn
      FROM m)
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM k WHERE rn = 1 GROUP BY lang
    """,
)
def survivor_longest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivors
    (operators/components.py::dedup_survivors_by): per near-dup group
    keep the LONGEST member (ties → smallest doc_id) instead of the
    smallest id — the corpus-quality-preserving selection policy,
    summarized per lang like dedup_survivors_documents."""
    d = _t(spark, sf_dir, "documents")
    pairs = _verified_dedup_pairs(spark, sf_dir)
    kept = _cc.dedup_survivors_by(d, pairs, "doc_id", "n_chars")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


# ---------------------------------------------------------------------------
# Trend family (operators/trend.py): PromQL increase / TimescaleDB
# time_weight + stats_agg analogues, all exact-integer cross-engine.
# ---------------------------------------------------------------------------


_SUFFSTAT_TAIL_SQL = """
s AS (
  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy
  FROM p GROUP BY 1),
d AS (
  SELECT event_type, n,
         n*sxy - sx*sy AS num,
         n*sxx - sx*sx AS denx,
         n*syy - sy*sy AS deny
  FROM s)
"""


@q(
    "trend_slope_events",
    f"""
    WITH p AS (
      SELECT event_type,
             CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 60 AS HUGEINT)
               AS x,
             CAST(CAST(round(value*100) AS BIGINT) AS HUGEINT) AS y
      FROM events),
    {_SUFFSTAT_TAIL_SQL}
    SELECT event_type, CAST(n AS BIGINT) AS n_points,
           CAST(CASE WHEN num=0 OR denx=0 THEN 0
                     ELSE CAST(sign(num) AS HUGEINT)
                          * ((abs(num)*10000) // denx) END AS BIGINT)
             AS slope_x1e4,
           CAST(CASE WHEN num=0 OR denx=0 OR deny=0 THEN 0
                     ELSE CAST(sign(num) AS HUGEINT)
                          * ((num*num*10000) // (denx*deny)) END AS BIGINT)
             AS r2_signed_x1e4
    FROM d
    """,
)
def trend_slope_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer least-squares fit (trend.py::linfit): does value
    trend with minute-of-day? Slope (cents/minute × 10⁴) and signed r²
    from integer sufficient statistics — no float enters any
    aggregation, so the fit is bit-identical at every parallelism."""
    from .operators.trend import linfit

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        ((_epoch("ts") % 86400) / 60).cast("long").alias("minute_of_day"),
        _cents().alias("v_cents"),
    )
    return linfit(ev, ["event_type"], "minute_of_day", "v_cents")


@q(
    "acf_daily_events",
    f"""
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_epoch,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS HUGEINT) AS c
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.event_type, a.c AS y, b.c AS x
      FROM h a JOIN h b ON a.event_type = b.event_type
           AND b.bucket_epoch = a.bucket_epoch - 86400),
    {_SUFFSTAT_TAIL_SQL}
    SELECT event_type, CAST(n AS BIGINT) AS n_points,
           CAST(CASE WHEN num=0 OR denx=0 THEN 0
                     ELSE CAST(sign(num) AS HUGEINT)
                          * ((abs(num)*10000) // denx) END AS BIGINT)
             AS slope_x1e4,
           CAST(CASE WHEN num=0 OR denx=0 OR deny=0 THEN 0
                     ELSE CAST(sign(num) AS HUGEINT)
                          * ((num*num*10000) // (denx*deny)) END AS BIGINT)
             AS r2_signed_x1e4
    FROM d
    """,
)
def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-seasonality autocorrelation (trend.py::acf_lag + linfit):
    hourly cent-sums joined to the same series 24h earlier on the
    BUCKET KEY (gap-robust, unlike a row-offset lag), then the exact
    signed-r² of (v_t, v_{t-24h}). Strong positive ⇒ daily cycle."""
    from .operators.trend import acf_lag, linfit

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 3600), _cents().alias("_c")
    )
    hourly = ev.groupBy("event_type", "bucket_epoch").agg(
        F.sum("_c").alias("c")
    )
    pairs = acf_lag(hourly, ["event_type"], "bucket_epoch", "c", 86400)
    return linfit(pairs, ["event_type"], "_x", "_y")


@q(
    "changepoint_events",
    """
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_epoch,
             SUM(CAST(round(value*100) AS BIGINT)) AS c
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, bucket_epoch, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bucket_epoch) AS s_k,
             row_number() OVER
               (PARTITION BY event_type ORDER BY bucket_epoch) AS k,
             SUM(c) OVER (PARTITION BY event_type) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM h),
    dev AS (
      SELECT event_type, bucket_epoch,
             abs(CAST(n AS HUGEINT)*CAST(s_k AS HUGEINT)
                 - CAST(k AS HUGEINT)*CAST(t AS HUGEINT)) AS adev
      FROM w WHERE k < n),
    r AS (
      SELECT event_type, bucket_epoch, adev,
             row_number() OVER
               (PARTITION BY event_type ORDER BY adev DESC, bucket_epoch) AS rn
      FROM dev)
    SELECT event_type, bucket_epoch AS change_epoch, CAST(adev AS BIGINT)
             AS abs_dev
    FROM r WHERE rn = 1
    """,
)
def changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CUSUM changepoint (trend.py::changepoint): the bucket
    maximising |n·S_k − k·T| over each type's hourly series — the
    cross-multiplied (float-free) cumulative-deviation argmax; ties go
    to the earliest bucket. Exact across engines and partitionings."""
    from .operators.trend import changepoint

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 3600), _cents().alias("_c")
    )
    hourly = ev.groupBy("event_type", "bucket_epoch").agg(
        F.sum("_c").alias("c")
    )
    return changepoint(hourly, ["event_type"], "bucket_epoch", "c")


@q(
    "interp_at_events",
    """
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS b,
             SUM(CAST(round(value*100) AS BIGINT)) AS c
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, min(b) AS b0, max(b) AS b1 FROM h GROUP BY 1),
    grid AS (
      SELECT event_type,
             unnest(generate_series(b0 - 9000, b1 + 9000, 9000)) AS t
      FROM bounds),
    u AS (
      SELECT event_type, b AS t, c AS v, 0 AS isq FROM h
      UNION ALL
      SELECT event_type, t, NULL, 1 FROM grid),
    m AS (
      SELECT event_type, t, isq,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY t, isq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
        last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY t, isq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY t, isq
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
        first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY t, isq
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
      FROM u)
    SELECT event_type, t AS t_q,
      CASE WHEN v0 IS NOT NULL AND (t0 = t OR v1 IS NOT NULL) THEN
        CASE WHEN t0 = t THEN v0*10000
             ELSE v0*10000 + CAST(floor((v1 - v0) * 10000.0 * (t - t0)
                                        / (t1 - t0)) AS BIGINT) END
      END AS v_interp_x1e4,
      (v0 IS NOT NULL AND (t0 = t OR v1 IS NOT NULL)) AS bracketed
    FROM m WHERE isq = 1
    """,
)
def interp_at_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time interpolated serving at arbitrary timestamps
    (operators/gapfill.py::interp_at_points): a 9000-second query grid
    (one step PAST each series edge, exercising the no-extrapolation
    NULLs) is linearly interpolated between bracketing hourly
    observations — integer lerp ×1e4, one window-shuffle family, no
    per-point probe join."""
    from .operators.gapfill import interp_at_points

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 3600), _cents().alias("_c")
    )
    hourly = ev.groupBy("event_type", "bucket_epoch").agg(F.sum("_c").alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket_epoch").alias("_b0"), F.max("bucket_epoch").alias("_b1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence(
                F.col("_b0") - 9000, F.col("_b1") + 9000, F.lit(9000)
            )
        ).alias("t_q"),
    )
    return interp_at_points(
        hourly, ["event_type"], "bucket_epoch", "c",
        grid.withColumnRenamed("t_q", "bucket_epoch"),
    ).select("event_type", "t_q", F.col("c_interp_x1e4").alias("v_interp_x1e4"),
             "bracketed")


@q(
    "seasonal_backtest_events",
    """
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS b,
             SUM(CAST(round(value*100) AS BIGINT)) AS c
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT a.event_type, a.c AS v, n.c AS vn, s.c AS vs
      FROM h a
      JOIN h n ON n.event_type = a.event_type AND n.b = a.b - 3600
      JOIN h s ON s.event_type = a.event_type AND s.b = a.b - 86400)
    SELECT event_type, COUNT(*) AS n_eval,
           CAST(SUM(abs(v - vs)) AS BIGINT) AS abs_err_seasonal,
           CAST(SUM(abs(v - vn)) AS BIGINT) AS abs_err_naive,
           CASE WHEN SUM(abs(v - vn)) = 0 THEN NULL
                ELSE CAST((CAST(SUM(abs(v-vs)) AS HUGEINT) * 10000)
                          // CAST(SUM(abs(v-vn)) AS HUGEINT) AS BIGINT) END
             AS mase_x1e4
    FROM j GROUP BY 1
    """,
)
def seasonal_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-skill backtest (trend.py::seasonal_naive_backtest):
    seasonal-naive (t−24h) vs one-step naive (t−1h) over hourly cent
    sums, MASE as truncating integer division — the exact go/no-go gate
    before fitting a model. mase < 10000 ⇔ seasonality is real."""
    from .operators.trend import seasonal_naive_backtest

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 3600), _cents().alias("_c")
    )
    hourly = ev.groupBy("event_type", "bucket_epoch").agg(F.sum("_c").alias("c"))
    return seasonal_naive_backtest(
        hourly, ["event_type"], "bucket_epoch", "c", 3600, 86400
    )


@q(
    "calendar_rollup_events",
    """
    SELECT event_type,
           CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS week_epoch,
           CAST(floor(epoch(date_trunc('month', date_trunc('week', ts))))
                AS BIGINT) AS month_epoch,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2, 3
    """,
)
def calendar_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-aligned continuous aggregate
    (operators/bucketing.py::calendar_bucket): ISO weeks labelled with
    the month their week START falls in — variable-length buckets the
    fixed 1m/1h/1d/30d tier widths cannot express (TimescaleDB
    ``time_bucket('1 month')``). Single hash-agg shuffle."""
    from .operators.bucketing import calendar_bucket

    ev = _t(spark, sf_dir, "events")
    wk = calendar_bucket("ts", "week")
    return (
        ev.select(
            "event_type",
            wk.alias("week_epoch"),
            calendar_bucket(F.timestamp_seconds(wk), "month").alias("month_epoch"),
            _cents().alias("_c"),
        )
        .groupBy("event_type", "week_epoch", "month_epoch")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_c").alias("value_cents"),
        )
    )


@q(
    "gap_stats_events",
    """
    WITH d AS (
      SELECT user_id,
             lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER
               (PARTITION BY user_id
                ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               - CAST(floor(epoch(ts)) AS BIGINT) AS dt
      FROM events),
    g AS (
      SELECT user_id,
             CAST(SUM(dt) AS BIGINT) AS span_secs,
             CAST(SUM(CASE WHEN dt <= 7200 THEN dt ELSE 0 END) AS BIGINT)
               AS covered_secs,
             CAST(SUM(CASE WHEN dt > 7200 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gaps,
             CAST(COALESCE(MAX(CASE WHEN dt > 7200 THEN dt END), 0) AS BIGINT)
               AS max_gap_secs
      FROM d WHERE dt IS NOT NULL GROUP BY 1)
    SELECT user_id, span_secs, covered_secs, n_gaps, max_gap_secs,
           CASE WHEN span_secs <= 0 THEN 0
                ELSE CAST((covered_secs * 10000) // span_secs AS BIGINT) END
             AS uptime_x1e4
    FROM g
    """,
)
def gap_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat gap / uptime accounting (operators/states.py::gap_stats):
    per-user inter-event deltas over a 2h outage threshold — span,
    covered time, gap count, worst outage, uptime ×1e4 — the
    monitoring-console availability query, integer-exact."""
    from .operators.states import gap_stats

    ev = _t(spark, sf_dir, "events")
    return gap_stats(ev, ["user_id"], "ts", "event_id", 7200)


@q(
    "psi_drift_events",
    f"""
    WITH v AS (
      SELECT event_type,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= 1705363200
                  THEN 1 ELSE 0 END AS w,
             {_HB_EXPR} AS bin
      FROM events),
    pb AS (
      SELECT event_type, bin,
             SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS cb
      FROM v GROUP BY 1, 2),
    t AS (
      SELECT event_type, ca, cb,
             SUM(ca) OVER (PARTITION BY event_type) AS na,
             SUM(cb) OVER (PARTITION BY event_type) AS nb
      FROM pb)
    SELECT event_type,
           CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN
             CAST(round((CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb)
                  * ln((CAST(ca AS DOUBLE) * nb) / (CAST(cb AS DOUBLE) * na))
                  * 100000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS psi_x1e8,
           CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bins_both,
           CAST(SUM(CASE WHEN ca > 0 AND cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bins_a_only,
           CAST(SUM(CASE WHEN ca = 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bins_b_only
    FROM t GROUP BY 1
    """,
)
def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between calendar halves of the month
    (operators/histogram.py::psi_drift): population stability index
    over decade-digit value bins — Σ per-term-rounded
    (pₐ−p_b)·ln(pₐ/p_b)·10⁸ on exact integer counts, with
    appeared/vanished bins REPORTED rather than epsilon-smoothed. The
    drift alarm mean/percentile tiers can't raise."""
    from .operators.histogram import decade_digit_bucket, psi_drift

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(_epoch("ts") >= 1705363200, 1).otherwise(0).alias("w"),
        decade_digit_bucket(_cents()).alias("bin"),
    )
    return psi_drift(ev, ["event_type"], "w", "bin")


@q(
    "drawdown_events",
    """
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_epoch,
             SUM(CAST(round(value*100) AS BIGINT)) AS c
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, bucket_epoch, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bucket_epoch) AS cum
      FROM h),
    dd AS (
      SELECT event_type, bucket_epoch, cum,
             MAX(cum) OVER (PARTITION BY event_type ORDER BY bucket_epoch)
               - cum AS d
      FROM w),
    r AS (
      SELECT event_type, bucket_epoch, d, cum,
             row_number() OVER
               (PARTITION BY event_type ORDER BY d DESC, bucket_epoch) AS rn,
             row_number() OVER
               (PARTITION BY event_type ORDER BY bucket_epoch DESC) AS rl,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dd)
    SELECT event_type,
           CAST(MIN(CASE WHEN rn = 1 THEN d END) AS BIGINT) AS max_drawdown,
           CAST(MIN(CASE WHEN rn = 1 THEN bucket_epoch END) AS BIGINT)
             AS trough_epoch,
           CAST(MIN(CASE WHEN rl = 1 THEN cum END) AS BIGINT) AS final_cum,
           CAST(MIN(n) AS BIGINT) AS n_buckets
    FROM r GROUP BY 1
    """,
)
def drawdown_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each type's cumulative hourly cent series
    (operators/trend.py::max_drawdown): worst peak-to-trough fall vs
    the running high-water mark, trough tie-broken to the earliest
    bucket — the running-extremum ordered analytic, integer-exact."""
    from .operators.trend import max_drawdown

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 3600), _cents().alias("_c")
    )
    hourly = ev.groupBy("event_type", "bucket_epoch").agg(F.sum("_c").alias("c"))
    return max_drawdown(hourly, ["event_type"], "bucket_epoch", "c")


@q(
    "routed_drift_events",
    f"""
    WITH v AS (
      SELECT event_type,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= 1705363200
                  THEN 1 ELSE 0 END AS w,
             {_HB_EXPR} AS bin
      FROM events
      WHERE epoch(ts) >= 1704259800 AND epoch(ts) < 1706384700),
    pb AS (
      SELECT event_type, bin,
             SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS cb
      FROM v GROUP BY 1, 2),
    t AS (
      SELECT event_type, ca, cb,
             SUM(ca) OVER (PARTITION BY event_type) AS na,
             SUM(cb) OVER (PARTITION BY event_type) AS nb
      FROM pb)
    SELECT event_type,
           CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN
             CAST(round((CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb)
                  * ln((CAST(ca AS DOUBLE) * nb) / (CAST(cb AS DOUBLE) * na))
                  * 100000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS psi_x1e8,
           CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bins_both,
           CAST(SUM(CASE WHEN ca > 0 AND cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bins_a_only,
           CAST(SUM(CASE WHEN ca = 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bins_b_only
    FROM t GROUP BY 1
    """,
)
def routed_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUTED distribution drift (operators/router.py::read_routed_drift):
    PSI between [2024-01-03 05:30, 2024-01-16) and [2024-01-16,
    2024-01-27 19:45) answered from the 1m→1h→1d histogram cascade —
    ragged minute/hour edges, whole days inside. The oracle recomputes
    PSI from RAW rows in the same two ranges; hash equality proves the
    routed per-bin counts merge losslessly across every tier segment
    (counts additive ⇒ drift needs no raw scan at serve time)."""
    from .operators.histogram import histogram_downsample, histogram_rollup
    from .operators.router import read_routed_drift

    ev = _t(spark, sf_dir, "events").withColumn("_c", _cents())
    # persist + materialize the cascade parents: the routed union's
    # three tier branches (and the 1h -> 1d derivation) would otherwise
    # each replay the raw 1m histogram build — in production these are
    # STORED tier tables and the routed read only scans them
    # (optimization r06; histogram rows per tier are a few 100k max)
    h1m = histogram_rollup(
        ev, _bucket_epoch("ts", 60), ["event_type"], F.col("_c")
    ).persist()
    h1m.count()
    h1h = histogram_downsample(h1m, ["event_type"], 3600).persist()
    h1h.count()
    h1d = histogram_downsample(h1h, ["event_type"], 86400)
    return read_routed_drift(
        {"1m": h1m, "1h": h1h, "1d": h1d},
        1704259800, 1705363200, 1705363200, 1706384700,
        series_cols=("event_type",),
    )


# ---------------------------------------------------------------------------
# Round-5 late additions: symbolic series index, lead-lag, recrawl derive
# ---------------------------------------------------------------------------

def _sax_words_sql(segments: int, alphabet: int) -> str:
    return f"""
    WITH o AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT user_id, v,
             row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM o),
    p AS (
      SELECT user_id, CAST(((rn - 1) * {segments}) // n AS INT) AS seg,
             count(*) AS n_pts, SUM(CAST(v AS HUGEINT)) AS sm
      FROM r GROUP BY 1, 2),
    q AS (
      SELECT user_id, seg,
             CAST((sm * 10000) // CAST(n_pts AS HUGEINT) AS BIGINT) AS paa
      FROM p),
    m AS (
      SELECT user_id, seg, paa,
             min(paa) OVER (PARTITION BY user_id) AS mn,
             max(paa) OVER (PARTITION BY user_id) AS mx
      FROM q),
    y AS (
      SELECT user_id, seg,
             CAST(((paa - mn) * {alphabet}) // (mx - mn + 1) AS INT) AS sym
      FROM m)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_segs,
           string_agg(chr(sym + 97), '' ORDER BY seg) AS word
    FROM y GROUP BY 1
"""


def _sax_words_df(spark: SparkSession, sf_dir: str, segments: int = 8,
                  alphabet: int = 4):
    from .operators.sax import paa_segments, sax_words

    obs = (
        _t(spark, sf_dir, "events")
        .select("user_id", _epoch("ts").alias("t"), _cents().alias("_c"))
        .groupBy("user_id", "t")
        .agg(F.sum("_c").alias("v"))
    )
    paa = paa_segments(obs, ["user_id"], "t", "v", n_segments=segments)
    return sax_words(paa, ["user_id"], alphabet=alphabet)


@q("sax_words_events", _sax_words_sql(8, 4))
def sax_words_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic series index (operators/sax.py): each user's spend
    series → 8-segment PAA → 4-letter-alphabet word, all exact-integer
    (equal-count frames, ×1e4 segment means, per-key min/max symbols).
    The word is the shape signature iSAX-style series search buckets
    on; hash equality with the oracle proves segment assignment, mean,
    and symbol arithmetic are bit-identical across engines."""
    return _sax_words_df(spark, sf_dir)


@q(
    "sax_motifs_events",
    f"""
    WITH words AS ({_sax_words_sql(4, 2)})
    SELECT word, CAST(count(*) AS BIGINT) AS n_keys
    FROM words GROUP BY 1 HAVING count(*) >= 2
    """,
)
def sax_motifs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif grouping over SAX words (operators/sax.py::sax_motifs):
    words shared by ≥2 users = candidate same-shape series clusters,
    the banded candidate stage of series-similarity search (one
    |keys|-row shuffle on a short word key; verify stage is
    rolling.series_correlation_pairs on the matched group). Uses a
    COARSER resolution (4 segments × 2 letters) than sax_words_events
    — iSAX-style: drop resolution until the candidate buckets populate,
    verify exactly afterwards."""
    from .operators.sax import sax_motifs

    return sax_motifs(
        _sax_words_df(spark, sf_dir, segments=4, alphabet=2), min_keys=2
    )


@q(
    "xcorr_lead_events",
    f"""
    WITH h AS (
      SELECT event_type, {_bucket_epoch_sql('ts', 3600)} AS b,
             CAST(floor(SUM(CAST(round(value * 100) AS BIGINT)) / 100) AS BIGINT) AS v
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.event_type AS ka, c.event_type AS kb,
             a.v AS x, c.v AS y
      FROM h a JOIN h c ON c.b = a.b + 3600
           AND a.event_type <> c.event_type)
    SELECT ka, kb,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS num,
           CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS den1,
           CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT) AS den2
    FROM p GROUP BY 1, 2
    """,
)
def xcorr_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed lead-lag cross-correlation (operators/rolling.py::
    lead_lag_xcorr): which event type's 1h move shows up in which other
    type ONE HOUR LATER — exact integer Pearson sufficient statistics
    per ordered pair over the shifted-aligned buckets. Same
    whole-currency-unit scale contract as correlation_pairs_events."""
    from .operators.rolling import lead_lag_xcorr

    ev = _t(spark, sf_dir, "events")
    h1h = (
        ev.select("event_type", _bucket_epoch("ts", 3600), _cents().alias("_c"))
        .groupBy("event_type", "bucket_epoch")
        .agg(F.floor(F.sum("_c") / 100).cast("long").alias("v"))
    )
    out = lead_lag_xcorr(h1h, "event_type", "bucket_epoch", "v", lag_units=3600)
    return out.select("ka", "kb", "n", "num", "den1", "den2")


_RECRAWL_CORE_SQL = """
    o AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             SUM(CAST(round(value * 100) AS BIGINT)) AS fp
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT user_id, t, fp,
             lag(fp) OVER (PARTITION BY user_id ORDER BY t) AS pfp
      FROM o),
    a AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(SUM(CASE WHEN pfp IS NOT NULL AND fp <> pfp
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             min(t) AS ft, max(t) AS lt
      FROM l GROUP BY 1),
    d AS (
      SELECT user_id, n_obs, n_changes,
             lt, CAST(lt - ft AS BIGINT) AS span_seconds,
             CAST(least(2592000, greatest(3600,
                  CASE WHEN n_changes > 0 THEN (lt - ft) // n_changes
                       ELSE 2592000 END)) AS BIGINT) AS interval_seconds
      FROM a)
"""


@q(
    "recrawl_schedule_events",
    f"""
    WITH {_RECRAWL_CORE_SQL}
    SELECT user_id, n_obs, n_changes, span_seconds, interval_seconds,
           CAST(lt + interval_seconds AS BIGINT) AS next_due_epoch
    FROM d
    """,
)
def recrawl_schedule_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate recrawl scheduling (operators/recrawl.py): per key,
    the Cho/Garcia-Molina ratio estimator span/changes from the visit
    fingerprint history, clamped to [1h, 30d], plus the next-due
    timestamp — the crawl pipeline's derive step, exact in integer
    seconds. Visits are per-(user, second) fingerprints so the change
    lag has a unique deterministic order in both engines."""
    from .operators.recrawl import recrawl_schedule

    obs = (
        _t(spark, sf_dir, "events")
        .select("user_id", _epoch("ts").alias("t"), _cents().alias("_c"))
        .groupBy("user_id", "t")
        .agg(F.sum("_c").alias("fp"))
    )
    return recrawl_schedule(
        obs, ["user_id"], "t", "fp", min_interval=3600, max_interval=2592000
    )


@q(
    "motif_verified_pairs_events",
    f"""
    WITH words AS ({_sax_words_sql(4, 2)}),
    h AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400 AS b,
             CAST(floor(SUM(CAST(round(value * 100) AS BIGINT)) / 100)
                  AS BIGINT) AS v
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT a.user_id AS ka, b.user_id AS kb, a.word
      FROM words a JOIN words b
        ON a.word = b.word AND a.user_id < b.user_id),
    p AS (
      SELECT c.ka, c.kb, c.word, x.v AS x, y.v AS y
      FROM c
      JOIN h x ON x.user_id = c.ka
      JOIN h y ON y.user_id = c.kb AND y.b = x.b)
    SELECT ka, kb, word,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS num,
           CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS den1,
           CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT) AS den2
    FROM p GROUP BY 1, 2, 3
    """,
)
def motif_verified_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end shape search (operators/sax.py::motif_verify_pairs):
    coarse SAX words (4 segments × 2 letters, recall-oriented) bucket
    the candidate pairs, then each pair is verified with exact integer
    Pearson sufficient statistics over the users' aligned DAILY series
    — the candidate-then-verify pipeline, same two-stage contract as
    MinHash-LSH → ngram_jaccard in the dedup family. Word-keyed join
    shuffles |keys| rows; verify joins are key/bucket-keyed."""
    from .operators.sax import motif_verify_pairs

    words = _sax_words_df(spark, sf_dir, segments=4, alphabet=2).select(
        "user_id", "word"
    )
    daily = (
        _t(spark, sf_dir, "events")
        .select("user_id", _bucket_epoch("ts", 86400), _cents().alias("_c"))
        .groupBy("user_id", "bucket_epoch")
        .agg(F.floor(F.sum("_c") / 100).cast("long").alias("v"))
    )
    return motif_verify_pairs(words, daily, ["user_id"], "bucket_epoch", "v")


@q(
    "temperature_sample_documents",
    f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
    h AS (
      SELECT d.doc_id, d.lang, c.n,
             {_KEYHASH_PPM_SQL.format(x='d.doc_id', seed=11)} AS ppm
      FROM documents d JOIN c USING (lang))
    SELECT doc_id, lang
    FROM h
    WHERE CAST(ppm AS HUGEINT) * ppm * n <
          CAST(2000000 AS HUGEINT) * 2000000
    """,
)
def temperature_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture resampling (operators/sampling.py::
    temperature_resample): keep probability ∝ n_lang^(α−1) with
    α = 1/2, so the sampled corpus follows n^α — the multilingual
    pretraining mixture rule. The keep test is exact integer
    (ppm²·n < coeff²), so sample membership hashes identically in
    both engines; the count side broadcasts, the fact never
    shuffles."""
    from .operators.sampling import temperature_resample

    d = _t(spark, sf_dir, "documents")
    out = temperature_resample(
        d, "lang", key="doc_id", coeff_ppm=2_000_000, a=1, b=2, seed=11
    )
    return out.select("doc_id", "lang")


@q(
    "anchor_text_index_documents",
    """
    WITH u AS (
      SELECT '<body><a href="/d/' || (doc_id % 50) || '">ref <b>'
             || (doc_id % 7) || '</b></a>'
             || '<a href="https://ex.com/' || lang || '">site&amp;co '
             || lang || '</a></body>' AS html
      FROM documents),
    x AS (
      SELECT unnest(regexp_extract_all(html,
               '(?is)<a\\s[^>]*href\\s*=\\s*"([^"]*)"[^>]*>(.*?)</a>', 1)) AS dst,
             unnest(regexp_extract_all(html,
               '(?is)<a\\s[^>]*href\\s*=\\s*"([^"]*)"[^>]*>(.*?)</a>', 2)) AS raw
      FROM u),
    t AS (
      SELECT dst,
             trim(regexp_replace(replace(
               regexp_replace(raw, '(?s)<[^>]+>', ' ', 'g'),
               '&amp;', '&'), '\\s+', ' ', 'g')) AS term
      FROM x
      WHERE dst <> ''),
    c AS (
      SELECT dst, term, COUNT(*) AS n FROM t WHERE term <> ''
      GROUP BY 1, 2)
    SELECT dst,
           CAST(SUM(n) AS BIGINT) AS n_refs,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           max(struct_pack(c := n, t := term))['t'] AS top_term,
           CAST(max(struct_pack(c := n, t := term))['c'] AS BIGINT)
             AS top_term_refs
    FROM c GROUP BY 1
    """,
)
def anchor_text_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index (operators/graph.py::anchor_text_index): both
    engines synthesize the same two-anchor document per row (inner
    markup + entity in the anchor text, so the cleaning chain is
    exercised), then aggregate corpus-wide what each target is CALLED —
    n_refs, distinct terms, and the deterministic struct-max top term
    per target. The real extractor runs on the Spark side; the oracle
    replays the same RE2 chain in DuckDB."""
    from .operators.graph import anchor_text_index

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<body><a href="/d/'),
        (F.col("doc_id") % 50).cast("string"),
        F.lit('">ref <b>'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('</b></a><a href="https://ex.com/'),
        F.col("lang"),
        F.lit('">site&amp;co '),
        F.col("lang"),
        F.lit("</a></body>"),
    )
    return anchor_text_index(d.select(html.alias("html")), "html")


@q(
    "fetch_plan_events",
    f"""
    WITH {_RECRAWL_CORE_SQL},
    r AS (
      SELECT user_id, user_id % 10 AS host,
             CAST(lt + interval_seconds AS BIGINT) AS due
      FROM d),
    k AS (
      SELECT user_id, host, due,
             row_number() OVER (PARTITION BY host ORDER BY due, user_id)
               - 1 AS rn
      FROM r),
    m AS (
      SELECT user_id, host, due, rn,
             max(due - 600 * rn) OVER (
               PARTITION BY host ORDER BY due, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      FROM k)
    SELECT user_id, CAST(host AS BIGINT) AS host,
           due AS due_epoch,
           CAST(600 * rn + runmax AS BIGINT) AS fetch_epoch,
           CAST(600 * rn + runmax - due AS BIGINT) AS delay_seconds,
           CAST(rn + 1 AS BIGINT) AS fetch_rank
    FROM m
    """,
)
def fetch_plan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl planner end-to-end (operators/recrawl.py): the change-rate
    schedule says when each key is DUE; politeness_schedule serializes
    each host's due fetches onto a 600s-gap grid via the running-max
    closed form of the greedy recurrence (no sequential fold — one rank
    window + one running-max window per host, exact integer seconds).
    Host = user_id % 10 stands in for the url's registrable domain."""
    from .operators.recrawl import politeness_schedule, recrawl_schedule

    obs = (
        _t(spark, sf_dir, "events")
        .select("user_id", _epoch("ts").alias("t"), _cents().alias("_c"))
        .groupBy("user_id", "t")
        .agg(F.sum("_c").alias("fp"))
    )
    due = recrawl_schedule(
        obs, ["user_id"], "t", "fp", min_interval=3600, max_interval=2592000
    ).select(
        "user_id",
        (F.col("user_id") % 10).alias("host"),
        F.col("next_due_epoch").alias("due"),
    )
    return politeness_schedule(due, "host", "due", ["user_id"], gap_seconds=600)


@q(
    "robots_allowed_documents",
    """
    SELECT doc_id, lang AS host,
           CASE doc_id % 6
             WHEN 0 THEN '/public/a'  WHEN 1 THEN '/private/x'
             WHEN 2 THEN '/private/ok/y' WHEN 3 THEN '/tmp/z'
             WHEN 4 THEN '/private'   ELSE '/x1' END AS path,
           CASE doc_id % 6
             WHEN 1 THEN false WHEN 3 THEN false WHEN 4 THEN false
             WHEN 5 THEN false
             ELSE true END AS allowed,
           CASE doc_id % 6
             WHEN 1 THEN '/private' WHEN 2 THEN '/private/ok'
             WHEN 3 THEN '/tmp'     WHEN 4 THEN '/private'
             WHEN 5 THEN '/x'
             ELSE NULL END AS matched_prefix,
           CASE doc_id % 6
             WHEN 1 THEN 'disallow' WHEN 2 THEN 'allow'
             WHEN 3 THEN 'disallow' WHEN 4 THEN 'disallow'
             WHEN 5 THEN 'disallow'
             ELSE NULL END AS matched_rule
    FROM documents
    """,
)
def robots_allowed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gatekeeper (operators/robots.py): each lang plays a
    host whose robots.txt has a bot-specific group (must NOT apply to
    agent '*'), comments, an empty Disallow, a wildcard Disallow
    (matched CONSERVATIVELY by its literal stem '/x' — fail-closed,
    never fail-open), and a nested Allow-inside-Disallow; the frontier
    paths hit every branch — no-match default-allow, plain disallow,
    longest-match allow override, exact-prefix boundary, wildcard-stem
    block. The Spark side PARSES the text and longest-matches; the
    oracle states the expected decision per path directly."""
    from .operators.robots import parse_robots, robots_allowed

    nl = "\n"
    d = _t(spark, sf_dir, "documents")
    robots = d.select(F.col("lang").alias("host")).distinct().withColumn(
        "txt", F.concat(F.lit("# generated for "), F.col("host"), F.lit(nl),
                        F.lit("User-agent: bot" + nl),
                        F.lit("Disallow: /" + nl + nl),
                        F.lit("User-agent: *" + nl),
                        F.lit("Disallow: /private" + nl),
                        F.lit("Allow: /private/ok" + nl),
                        F.lit("Disallow:" + nl),          # empty: dropped
                        F.lit("Disallow: /x*" + nl),      # wildcard: stem blocks
                        F.lit("Disallow: /tmp" + nl))
    )
    rules = parse_robots(robots, "host", "txt", agent="*")
    frontier = d.select(
        "doc_id",
        F.col("lang").alias("host"),
        F.element_at(
            F.array(
                F.lit("/public/a"), F.lit("/private/x"), F.lit("/private/ok/y"),
                F.lit("/tmp/z"), F.lit("/private"), F.lit("/x1"),
            ),
            (F.col("doc_id") % 6 + 1).cast("int"),
        ).alias("path"),
    )
    return robots_allowed(frontier, rules, "host", "path")


@q(
    "sitemap_frontier_documents",
    """
    WITH e AS (
      SELECT doc_id, lang AS host,
             'https://' || lang || '.ex/d/' || doc_id AS loc,
             1 + doc_id % 28 AS day,
             doc_id % 2 = 0 AS even,
             doc_id % 3 = 0 AS isnew
      FROM documents)
    SELECT host, loc,
           CAST(1704067200 + (day - 1) * 86400
                + CASE WHEN even THEN 0 ELSE 25200 END AS BIGINT)
             AS lastmod_epoch,
           CASE WHEN isnew THEN NULL
                ELSE CAST(1705276800 AS BIGINT) END AS last_fetch_epoch,
           CASE WHEN isnew THEN 'new'
                WHEN day > 15 OR (NOT even AND day = 15) THEN 'stale'
                ELSE 'fresh' END AS reason
    FROM e
    """,
)
def sitemap_frontier_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery diff (operators/sitemap.py): each doc row
    synthesizes a <url> entry (date-only lastmod on even ids, W3C
    datetime with Z suffix on odd — both forms must parse to the same
    UTC epoch) plus a malformed loc-less block that must vanish; the
    known-url state omits every third doc. seed_frontier classifies
    new / stale / fresh against a 2024-01-15 fetch watermark; the
    oracle states the ground-truth classification directly."""
    from .operators.sitemap import parse_sitemap, seed_frontier

    d = _t(spark, sf_dir, "documents")
    day = (F.col("doc_id") % 28 + 1).cast("int")
    daystr = F.lpad(day.cast("string"), 2, "0")
    lastmod = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("2024-01-"), daystr)
    ).otherwise(F.concat(F.lit("2024-01-"), daystr, F.lit("T07:00:00Z")))
    loc = F.concat(F.lit("https://"), F.col("lang"), F.lit(".ex/d/"),
                   F.col("doc_id").cast("string"))
    xml = F.concat(
        F.lit('<urlset><url ><loc> '), loc, F.lit(" </loc><lastmod>"),
        lastmod, F.lit("</lastmod></url >"),
        F.lit("<url><lastmod>2024-01-01</lastmod></url></urlset>"),
    )
    sitemaps = d.select(F.col("lang").alias("host"), xml.alias("xml"))
    entries = parse_sitemap(sitemaps, "host", "xml")
    known = (
        d.where(F.col("doc_id") % 3 != 0)
        .select(loc.alias("loc"), F.lit(1705276800).cast("long").alias("f"))
    )
    return seed_frontier(entries, known, url_col="loc", fetched_epoch_col="f")


@q(
    "burst_windows_events",
    """
    WITH h AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, b, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY b
               RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING) AS bsum,
             COUNT(c) OVER (PARTITION BY event_type ORDER BY b
               RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING) AS bn
      FROM h),
    bursts AS (
      SELECT event_type, b, c FROM w
      WHERE bn >= 6 AND c * bn * 10000 >= 12000 * bsum),
    isl AS (
      SELECT event_type, b, c,
             b - 3600 * row_number() OVER
               (PARTITION BY event_type ORDER BY b) AS grp
      FROM bursts)
    SELECT event_type,
           CAST(MIN(b) AS BIGINT) AS burst_start,
           CAST(MAX(b) + 3600 AS BIGINT) AS burst_end,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS peak_count,
           CAST(SUM(c) AS BIGINT) AS total_count
    FROM isl GROUP BY event_type, grp
    """,
)
def burst_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst interval detection (operators/trend.py::burst_windows):
    hours whose event count exceeds 1.2x their own trailing-24h
    per-bucket baseline (>= 6 observed buckets of history), merged into
    gaps-and-islands intervals — the batch Kleinberg-style burst
    alarm over the hourly tier, integer-exact via cross-multiplied
    threshold (no float ratio ever computed)."""
    from .operators.trend import burst_windows

    ev = _t_raw(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 3600)
    )
    hourly = ev.groupBy("event_type", "bucket_epoch").agg(
        F.count(F.lit(1)).alias("c")
    )
    return burst_windows(
        hourly, ["event_type"], "bucket_epoch", "c",
        tier_secs=3600, baseline_buckets=24,
        mult_x1e4=12000, min_base_buckets=6,
    )


@q(
    "spearman_daily_events",
    """
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS c
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.event_type, a.day, a.c AS x, b.c AS y
      FROM d a JOIN d b ON a.day = b.day AND b.event_type = 'view'
      WHERE a.event_type <> 'view'),
    r AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY x, day)
               AS rx,
             row_number() OVER (PARTITION BY event_type ORDER BY y, day)
               AS ry
      FROM p),
    g AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS sd2
      FROM r GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_points,
           CASE WHEN n < 2 THEN NULL ELSE
             CAST((CASE WHEN (n*n*n - n) - 6*sd2 < 0 THEN -1 ELSE 1 END)
                  * ((abs((n*n*n - n) - 6*sd2) * 10000) // (n*n*n - n))
                  AS BIGINT) END AS rho_x1e4
    FROM g
    """,
)
def spearman_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank correlation of every type's daily cent series against the
    'view' reference series (operators/trend.py::spearman) — the
    monotone-robust complement to linfit's Pearson r^2 (an accelerating
    series still scores |rho| ~ 1). Ranks by row_number over
    (value, day): a total deterministic order, bit-identical across
    engines and cluster sizes; rho in exact integer arithmetic."""
    from .operators.trend import spearman

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 86400), _cents().alias("_c")
    )
    daily = ev.groupBy("event_type", "bucket_epoch").agg(
        F.sum("_c").alias("c")
    )
    ref = daily.where(F.col("event_type") == "view").select(
        F.col("bucket_epoch").alias("day"), F.col("c").alias("y")
    )
    pairs = (
        daily.where(F.col("event_type") != "view")
        .select("event_type", F.col("bucket_epoch").alias("day"),
                F.col("c").alias("x"))
        .join(F.broadcast(ref), "day")
    )
    return spearman(pairs, ["event_type"], "x", "y", "day")


@q(
    "entropy_by_source_documents",
    """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
    t AS (
      SELECT source, c, SUM(c) OVER (PARTITION BY source) AS n FROM c)
    SELECT source,
           CAST(SUM(CAST(round((CAST(c AS DOUBLE) / n)
                 * ln(CAST(n AS DOUBLE) / c) * 100000000) AS BIGINT))
             AS BIGINT) AS entropy_x1e8,
           CAST(COUNT(*) AS BIGINT) AS n_categories,
           CAST(SUM(c) AS BIGINT) AS n_total
    FROM t GROUP BY 1
    """,
)
def entropy_by_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix
    (operators/histogram.py::entropy_by_group) — the diversity /
    concentration monitor a crawl operator watches per host (a host
    collapsing to one language is a content-farm signal PSI's
    two-window test misses). Per-term x1e8 rounding, same determinism
    contract as the PSI/surprisal family."""
    from .operators.histogram import entropy_by_group

    d = _t(spark, sf_dir, "documents")
    return entropy_by_group(d, ["source"], "lang")


@q(
    "distinctive_terms_documents",
    """
    WITH tok AS (
      SELECT lang AS g, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    cg AS (
      SELECT g, term, COUNT(*) AS c FROM tok
      WHERE length(term) >= 4 GROUP BY 1, 2),
    ct AS (
      SELECT g, term, c, SUM(c) OVER (PARTITION BY term) AS ct FROM cg),
    gt AS (SELECT g, SUM(c) AS cgt FROM cg GROUP BY 1),
    tt AS (SELECT SUM(cgt) AS ctot FROM gt),
    s AS (
      SELECT ct.g, ct.term, ct.c,
             CAST(round(ln(((c + 0.5) * (ctot - cgt - (ct.ct - c) + 0.5))
                  / ((cgt - c + 0.5) * ((ct.ct - c) + 0.5))) * 10000)
               AS BIGINT) AS lor_x1e4
      FROM ct JOIN gt USING (g), tt)
    SELECT g AS lang, term, CAST(c AS BIGINT) AS c, lor_x1e4
    FROM (SELECT *, row_number() OVER
            (PARTITION BY g ORDER BY lor_x1e4 DESC, term) AS rn FROM s)
    WHERE rn <= 5
    """,
)
def distinctive_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per language by smoothed log-odds-ratio
    (functions/text.py::distinctive_terms) — Monroe et al.'s
    fightin'-words corpus comparison: terms COMMON in this group and
    rare elsewhere (where TF-IDF rewards terms rare everywhere).
    Per-term x1e4 rounding; two-phase shard-pruned top-k so no task
    sorts a vocabulary."""
    from .functions.text import distinctive_terms

    d = _t(spark, sf_dir, "documents")
    return distinctive_terms(d, "lang", k=5, min_len=4)


@q(
    "theil_sen_daily_events",
    """
    WITH d AS (
      SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS c
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.event_type, a.day AS x1, b.day AS x2,
             CASE WHEN b.c < a.c THEN -1 WHEN b.c > a.c THEN 1 ELSE 0 END
               AS sgn,
             abs(b.c - a.c) AS ady, b.day - a.day AS dx
      FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
    s AS (
      SELECT event_type, x1, x2, sgn,
             sgn * ((ady * 10000) // dx) AS sl
      FROM p),
    r AS (
      SELECT event_type, sl, sgn,
             row_number() OVER (PARTITION BY event_type ORDER BY sl, x1, x2)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM s)
    SELECT event_type,
           CAST(MAX(CASE WHEN rn = (np + 1) // 2 THEN sl END) AS BIGINT)
             AS slope_x1e4,
           CAST(SUM(sgn) AS BIGINT) AS mk_s,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM r GROUP BY 1
    """,
)
def theil_sen_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily trend per type (operators/trend.py::theil_sen):
    Theil-Sen lower-median pairwise slope (one outlier day moves the
    estimate at most one rank, where linfit's least squares chases it)
    plus the Mann-Kendall S monotone-trend statistic — both exact
    integers with a total deterministic tie order. Pair frame is
    quadratic in SERIES LENGTH only (30 days -> 435 pairs/key), never
    in key count."""
    from .operators.trend import theil_sen

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (_epoch("ts") / 86400).cast("long").alias("day"),
        _cents().alias("_c"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("_c").alias("c"))
    return theil_sen(daily, ["event_type"], "day", "c")


@q(
    "acf_spectrum_events",
    """
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
               AS bucket_epoch,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS HUGEINT) AS c
      FROM events GROUP BY 1, 2),
    lags(l) AS (VALUES (3600), (21600), (86400), (604800)),
    p AS (
      SELECT a.event_type, CAST(l AS BIGINT) AS lag_secs, a.c AS y, b.c AS x
      FROM h a JOIN lags ON TRUE
      JOIN h b ON a.event_type = b.event_type
           AND b.bucket_epoch = a.bucket_epoch - l),
    s AS (
      SELECT event_type, lag_secs, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM p GROUP BY 1, 2),
    d AS (
      SELECT event_type, lag_secs, n,
             n*sxy - sx*sy AS num,
             n*sxx - sx*sx AS denx,
             n*syy - sy*sy AS deny
      FROM s)
    SELECT event_type, lag_secs, CAST(n AS BIGINT) AS n_points,
           CAST(CASE WHEN num=0 OR denx=0 THEN 0
                     ELSE CAST(sign(num) AS HUGEINT)
                          * ((abs(num)*10000) // denx) END AS BIGINT)
             AS slope_x1e4,
           CAST(CASE WHEN num=0 OR denx=0 OR deny=0 THEN 0
                     ELSE CAST(sign(num) AS HUGEINT)
                          * ((num*num*10000) // (denx*deny)) END AS BIGINT)
             AS r2_signed_x1e4
    FROM d
    """,
)
def acf_spectrum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality spectrum (operators/trend.py::acf_spectrum): the
    hourly cent series autocorrelated at 1h/6h/1d/7d lags in ONE job —
    the argmax-r² lag is the detected period. Bucket-key lag joins
    (gap-robust), bounded len(lags) fan-out, exact integer signed-r²
    per (type, lag)."""
    from .operators.trend import acf_spectrum

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 3600), _cents().alias("_c")
    )
    hourly = ev.groupBy("event_type", "bucket_epoch").agg(
        F.sum("_c").alias("c")
    )
    return acf_spectrum(
        hourly, ["event_type"], "bucket_epoch", "c",
        [3600, 21600, 86400, 604800],
    )


@q(
    "vocab_overlap_documents",
    """
    WITH tok AS (
      SELECT source AS g, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    v AS (
      SELECT DISTINCT g, term FROM tok WHERE length(term) >= 4),
    sizes AS (SELECT g, COUNT(*) AS n FROM v GROUP BY 1),
    inter AS (
      SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS n_common
      FROM v a JOIN v b ON a.term = b.term AND a.g < b.g
      GROUP BY 1, 2)
    SELECT g_a, g_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST((n_common * 10000) // (sa.n + sb.n - n_common) AS BIGINT)
             AS jaccard_x1e4
    FROM inter
    JOIN sizes sa ON sa.g = g_a
    JOIN sizes sb ON sb.g = g_b
    """,
)
def vocab_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources
    (functions/text.py::vocab_overlap_pairs) — corpus-drift measured as
    set overlap, entirely in exact integer cardinalities (no ln, no
    float). Term-keyed intersection join: each term contributes at
    most C(n_groups,2) pairs, so the Zipf head is bounded by group
    count, never corpus frequency."""
    from .functions.text import vocab_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return vocab_overlap_pairs(d, "source", min_len=4)


@q(
    "new_vs_returning_events",
    """
    WITH a AS (
      SELECT DISTINCT
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400
               AS bucket_epoch,
             user_id
      FROM events),
    f AS (
      SELECT user_id, MIN(bucket_epoch) AS b0 FROM a GROUP BY 1),
    pb AS (
      SELECT a.bucket_epoch,
             COUNT(*) AS n_active,
             SUM(CASE WHEN a.bucket_epoch = f.b0 THEN 1 ELSE 0 END) AS n_new
      FROM a JOIN f USING (user_id) GROUP BY 1)
    SELECT bucket_epoch,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_active - n_new AS BIGINT) AS n_returning,
           CAST(SUM(n_new) OVER (ORDER BY bucket_epoch) AS BIGINT)
             AS cum_unique
    FROM pb
    """,
)
def new_vs_returning_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new / returning / cumulative-unique user accounting
    (operators/cohorts.py::new_vs_returning) — the growth ledger (new
    hosts per crawl day) as exact integers; first-seen derives from the
    DISTINCT frame, and the only unpartitioned window runs over
    bucket-count rows, never data scale."""
    from .operators.cohorts import new_vs_returning

    ev = _t(spark, sf_dir, "events").select(
        _bucket_epoch("ts", 86400), "user_id"
    )
    return new_vs_returning(ev, "user_id", "bucket_epoch")


# ---------------------------------------------------------------------------
# Round-5 closing additions: containment, cluster-size audit, robust
# location, tier completeness
# ---------------------------------------------------------------------------


@q(
    "containment_pairs_documents",
    f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b, CAST(p.n_inter AS BIGINT) AS n_inter,
           CAST((p.n_inter * 10000) // sa.n AS BIGINT) AS cont_a_in_b_x1e4,
           CAST((p.n_inter * 10000) // sb.n AS BIGINT) AS cont_b_in_a_x1e4
    FROM pairs p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE p.n_inter >= 3
    """,
)
def containment_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment per shared-shingle pair
    (operators/dedup.py::containment_pairs) — Broder's dual to
    resemblance: the quote/extract detector symmetric Jaccard misses.
    Same shingle-keyed join shape as ngram_jaccard_pairs_documents; at
    10^12 docs candidates come from LSH bands."""
    d = _t(spark, sf_dir, "documents")
    return _dd.containment_pairs(d)


@q(
    "dedup_cluster_sizes_documents",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTE},
    gsz AS (
      SELECT COALESCE(c.component, d.doc_id) AS group_id,
             COUNT(*) AS group_size
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
      GROUP BY 1)
    SELECT CAST(group_size AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(group_size * COUNT(*) AS BIGINT) AS n_docs
    FROM gsz GROUP BY group_size
    """,
)
def dedup_cluster_sizes_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution
    (operators/components.py::cluster_size_histogram) over the
    LSH-verified component groups — the dedup-audit chart (how much of
    the corpus is unique vs collapsed). Output rows bounded by the
    largest cluster size, never corpus size."""
    d = _t(spark, sf_dir, "documents")
    pairs = _verified_dedup_pairs(spark, sf_dir)
    return _cc.cluster_size_histogram(_cc.dedup_groups(d, pairs))


from .operators.robust import trimmed_mean as _trimmed_mean  # noqa: E402


@q(
    "trimmed_mean_daily_events",
    """
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400
               AS bucket_epoch,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_id
      FROM events),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bucket_epoch
                                ORDER BY cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, bucket_epoch) AS n
      FROM base),
    kept AS (
      SELECT * FROM ranked
      WHERE rn > CAST(floor(n * 10 / 100) AS BIGINT)
        AND rn <= n - CAST(floor(n * 10 / 100) AS BIGINT))
    SELECT event_type, bucket_epoch,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(cents) AS BIGINT) AS kept_sum,
           CAST((SUM(cents) * 100) // COUNT(*) AS BIGINT)
             AS trimmed_mean_x100
    FROM kept GROUP BY 1, 2
    """,
)
def trimmed_mean_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per (series, day) in exact integer cents
    (operators/robust.py::trimmed_mean) — breakdown-point-0.1 location
    for outlier-ridden crawl measures; rank-based with a unique tie
    column so both engines trim identical rows. One group-bounded rank
    window + an agg that reuses its partitioning."""
    ev = _t_raw(spark, sf_dir, "events").select(
        "event_type",
        _bucket_epoch("ts", 86400),
        _cents().alias("cents"),
        "event_id",
    )
    return _trimmed_mean(
        ev, ["event_type", "bucket_epoch"], "cents", "event_id", trim_pct=10
    )


from .operators.states import tier_coverage as _tier_coverage  # noqa: E402


@q(
    "tier_coverage_1m_events",
    """
    WITH p AS (
      SELECT DISTINCT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS day_epoch,
             CAST(floor(epoch(ts) / 60) AS BIGINT) * 60 AS b
      FROM events),
    r AS (
      SELECT event_type, day_epoch, b,
             (b - COALESCE(lag(b) OVER (PARTITION BY event_type, day_epoch
                                        ORDER BY b),
                           day_epoch - 60)) / 60 - 1 AS gap_before
      FROM p)
    SELECT event_type, day_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(1440 AS BIGINT) AS expected,
           CAST((COUNT(*) * 10000) // 1440 AS BIGINT) AS coverage_x1e4,
           CAST(greatest(MAX(gap_before),
                         1439 - (MAX(b) - day_epoch) / 60) AS BIGINT)
             AS longest_missing_buckets
    FROM r GROUP BY 1, 2
    """,
)
def tier_coverage_1m_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1m-tier completeness per (series, day)
    (operators/states.py::tier_coverage): observed buckets vs the 1440
    the grid expects, plus the worst contiguous missing run including
    day edges — the freshness/SLA table the monitoring console and
    gap-fill key off. Window is bounded by 1440 rows per group
    regardless of event volume."""
    ev = _t_raw(spark, sf_dir, "events")
    return _tier_coverage(ev, ["event_type"], "ts", 60, 86400)


# ---------------------------------------------------------------------------
# Round-5 closing additions: resolution-aware serving (M4), local despike
# (Hampel), exact-phrase retrieval (positional index).
# ---------------------------------------------------------------------------


@q(
    "m4_downsample_events",
    """
    WITH p AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS bucket_epoch,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(round(value * 100) AS BIGINT) AS v,
             event_id
      FROM events),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY event_type, bucket_epoch
                           ORDER BY t, event_id) AS rf,
        row_number() OVER (PARTITION BY event_type, bucket_epoch
                           ORDER BY t DESC, event_id DESC) AS rl,
        row_number() OVER (PARTITION BY event_type, bucket_epoch
                           ORDER BY v, t, event_id) AS rmin,
        row_number() OVER (PARTITION BY event_type, bucket_epoch
                           ORDER BY v DESC, t DESC, event_id DESC) AS rmax,
        COUNT(*) OVER (PARTITION BY event_type, bucket_epoch) AS n_in
      FROM p)
    SELECT DISTINCT event_type, bucket_epoch, t, v,
           CAST(n_in AS BIGINT) AS n_in
    FROM r WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1
    """,
)
def m4_downsample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 pixel-bucket downsample (operators/lttb.py::m4_downsample):
    per (event_type, day) keep the first/last/min/max points — the
    error-free line-rendering reduction (Jugel et al., VLDB 2014).
    Oracle replays the struct-order tie-breaks as four row_number
    rankings; value-identical duplicate extremes collapse on both
    sides (array_distinct ↔ DISTINCT)."""
    from .operators.lttb import m4_downsample

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _epoch("ts").alias("t"), _cents().alias("v"), "event_id"
    )
    return m4_downsample(
        ev, ["event_type"], "t", "v", bucket_secs=86400, id_col="event_id"
    )


@q(
    "hampel_despike_events",
    """
    WITH p AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    w AS (
      SELECT event_type, t, event_id, v,
        list_sort(list(v) OVER (PARTITION BY event_type ORDER BY t, event_id
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
          AS arr
      FROM p),
    m AS (
      SELECT event_type, t, event_id, v,
             CAST(len(arr) AS BIGINT) AS n_win,
             arr[CAST((len(arr) - 1) // 2 AS INT) + 1]
               + arr[CAST(len(arr) // 2 AS INT) + 1] AS med2,
             list_sort(list_transform(
               arr, x -> abs(2 * x - (arr[CAST((len(arr) - 1) // 2 AS INT) + 1]
                                      + arr[CAST(len(arr) // 2 AS INT) + 1]))))
               AS adevs
      FROM w),
    s AS (
      SELECT event_type, t, event_id, v AS v_cents, n_win,
             CAST(med2 AS BIGINT) AS med_cents_x2,
             CAST(adevs[CAST((n_win - 1) // 2 AS INT) + 1]
                  + adevs[CAST(n_win // 2 AS INT) + 1] AS BIGINT)
               AS mad_cents_x4
      FROM m)
    SELECT event_type, t, event_id, v_cents, n_win, med_cents_x2,
           mad_cents_x4,
           CAST(CASE WHEN 2 * abs(2 * v_cents - med_cents_x2)
                          > 4 * mad_cents_x4 THEN 1 ELSE 0 END AS BIGINT)
             AS is_spike,
           CAST(CASE WHEN 2 * abs(2 * v_cents - med_cents_x2)
                          > 4 * mad_cents_x4
                     THEN med_cents_x2 ELSE 2 * v_cents END AS BIGINT)
             AS clean_cents_x2
    FROM s
    """,
)
def hampel_despike_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-median despike (operators/rolling.py::hampel_despike):
    ±3-row local median/MAD gate at k=4, all ×2/×4 integer-scaled so
    the cleaned series is bit-identical across engines. Complements
    mad_anomaly's GLOBAL gate with the LOCAL one a trending series
    needs."""
    from .operators.rolling import hampel_despike

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _epoch("ts").alias("t"), "event_id", _cents().alias("v")
    )
    out = hampel_despike(
        ev, ["event_type"], "t", "event_id", "v", half_width=3, k=4
    )
    return out.select(
        "event_type",
        "t",
        "event_id",
        "v_cents",
        F.col("n_win").cast("long").alias("n_win"),
        F.col("med_cents_x2").cast("long").alias("med_cents_x2"),
        F.col("mad_cents_x4").cast("long").alias("mad_cents_x4"),
        F.col("is_spike").cast("long").alias("is_spike"),
        F.col("clean_cents_x2").cast("long").alias("clean_cents_x2"),
    )


@q(
    "phrase_search_documents",
    """
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS arr FROM documents),
    t0 AS (
      SELECT doc_id, unnest(arr) AS term,
             generate_subscripts(arr, 1) - 1 AS pos
      FROM d),
    t AS (SELECT * FROM t0 WHERE length(term) >= 1),
    m2 AS (
      SELECT a.doc_id, a.pos
      FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.term = 'table' AND b.term = 'hash'),
    p2 AS (
      SELECT 'table hash' AS phrase, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MIN(pos) AS BIGINT) AS first_pos
      FROM m2 GROUP BY doc_id),
    m3 AS (
      SELECT a.doc_id, a.pos
      FROM t a
      JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      WHERE a.term = 'slow' AND b.term = 'hash' AND c.term = 'batch'),
    p3 AS (
      SELECT 'slow hash batch' AS phrase, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MIN(pos) AS BIGINT) AS first_pos
      FROM m3 GROUP BY doc_id)
    SELECT * FROM p2 UNION ALL SELECT * FROM p3
    """,
)
def phrase_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval from the stored positional index
    (operators/index.py::build_positional_index /
    phrase_search_indexed): a 2-gram and a 3-gram phrase answered by
    offset-shifted posting intersection; the oracle re-derives matches
    by positional self-join over raw tokens. The corpus is scanned
    once to BUILD the index; the queries touch only pruned index
    rows."""
    from .operators.index import build_positional_index, phrase_search_indexed

    d = _t(spark, sf_dir, "documents")
    idx = build_positional_index(d, n_shards=8)
    out = None
    for phrase in ("table hash", "slow hash batch"):
        r = phrase_search_indexed(idx, phrase).select(
            F.lit(phrase).alias("phrase"), "doc_id", "n_occurrences", "first_pos"
        )
        out = r if out is None else out.unionByName(r)
    return out


@q(
    "edit_distance_pairs_documents",
    f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
    t AS (SELECT doc_id, text, length(text) AS len FROM documents)
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance,
           CAST(ta.len AS BIGINT) AS len_a,
           CAST(tb.len AS BIGINT) AS len_b,
           CAST((greatest(ta.len, tb.len)
                 - levenshtein(ta.text, tb.text)) * 10000
                // greatest(ta.len, tb.len) AS BIGINT) AS sim_x1e4
    FROM pairs p
    JOIN t ta ON p.id_a = ta.doc_id
    JOIN t tb ON p.id_b = tb.doc_id
    """,
)
def edit_distance_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein verify over the shared-shingle candidate set
    (operators/dedup.py::edit_distance_pairs) — the dedup funnel's
    final exactness stage; candidate-bounded DP, JVM built-in, integer
    similarity. At 10^12 docs the candidates come from LSH bands
    instead of the raw shingle join (same substitution every verify
    stage in the funnel makes)."""
    d = _t(spark, sf_dir, "documents")
    cands = _dd.containment_pairs(d).select("id_a", "id_b")
    return _dd.edit_distance_pairs(d, cands)


# ---------------------------------------------------------------------------
# Ranked retrieval: BM25 from the stored index + reciprocal-rank fusion
# ---------------------------------------------------------------------------

_BM25_TOK_CTE = """
    tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE length(term) >= 1 GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    stats AS (
      SELECT (SELECT COUNT(*) FROM dl) AS n_docs,
             (SELECT AVG(dl) FROM dl) AS avgdl),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf
      WHERE term IN ('spark', 'merge') GROUP BY 1),
    sc AS (
      SELECT t.doc_id, COUNT(*) AS n_terms,
             SUM( ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                  * (t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) ) AS score
      FROM tf t
      JOIN df d USING (term)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      WHERE t.term IN ('spark', 'merge')
      GROUP BY t.doc_id)
"""


@q(
    "bm25_search_documents",
    f"""
    WITH {_BM25_TOK_CTE}
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
           CAST(round(score * 10000) AS BIGINT) AS bm25_x1e4
    FROM sc ORDER BY bm25_x1e4 DESC, doc_id LIMIT 20
    """,
)
def bm25_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval served from the STORED sharded index
    (operators/index.py::build_bm25_index / bm25_search_indexed):
    doc lengths ride inside the postings, so the query path is a
    partition-pruned scan of |terms|·n_shards index rows + one bounded
    groupBy — the corpus is never rejoined. The oracle recomputes the
    identical Robertson idf(+1) / k1=1.2 / b=0.75 formula from raw
    tokens; the hash match proves build + serve are lossless. Ranking
    is total (integer score desc, doc_id) before LIMIT, and the 2-term
    per-doc sum is order-invariant in IEEE doubles. Reference analogue:
    ranked retrieval extends the key-exact lookups (S1/S8,
    /root/reference/docs/provider_api.adoc) the same way tf-idf does —
    engine-added capability for the LLM-curation story."""
    from .operators.index import (
        bm25_corpus_stats,
        bm25_search_indexed,
        build_bm25_index,
    )

    d = _t(spark, sf_dir, "documents")
    idx = build_bm25_index(d, n_shards=16)
    stats = bm25_corpus_stats(d)
    out = bm25_search_indexed(idx, stats, ["spark", "merge"])
    return (
        out.select(
            "doc_id",
            F.col("n_terms").cast("long").alias("n_terms"),
            F.round(F.col("bm25") * 10000, 0).cast("long").alias("bm25_x1e4"),
        )
        .orderBy(F.desc("bm25_x1e4"), "doc_id")
        .limit(20)
    )


@q(
    "rrf_hybrid_documents",
    f"""
    WITH {_BM25_TOK_CTE},
    bm AS (
      SELECT doc_id,
             CAST(round(score * 10000) AS BIGINT) AS bm25_x1e4
      FROM sc ORDER BY bm25_x1e4 DESC, doc_id LIMIT 50),
    bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25_x1e4 DESC, doc_id) AS rank
      FROM bm),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
    cs AS (
      SELECT e.vec_id AS doc_id,
             CAST(round(list_cosine_similarity(e.embedding, qv.q) * 10000)
                  AS BIGINT) AS cos_x1e4
      FROM embeddings e, qv WHERE e.vec_id <> 0
      ORDER BY cos_x1e4 DESC, doc_id LIMIT 50),
    csr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos_x1e4 DESC, doc_id) AS rank
      FROM cs),
    u AS (
      SELECT doc_id, rank FROM bmr UNION ALL SELECT doc_id, rank FROM csr),
    fused AS (
      SELECT doc_id, COUNT(*) AS n_lists,
             SUM(1.0 / (60 + rank)) AS rrf
      FROM u GROUP BY doc_id)
    SELECT doc_id, CAST(n_lists AS BIGINT) AS n_lists,
           CAST(round(rrf * 1000000) AS BIGINT) AS rrf_x1e6
    FROM fused ORDER BY rrf_x1e6 DESC, doc_id LIMIT 20
    """,
)
def rrf_hybrid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of a BM25
    top-50 (lexical face, stored index) and an embedding-cosine top-50
    (semantic face, vec_id ≡ doc_id) — the standard
    sparse-plus-dense combiner in training-data curation search.
    Both rank lists are built over INTEGER-scaled scores with total
    (score desc, id) tie-breaks, so ranks — and therefore the fused
    rational score — are engine-deterministic; the per-doc fusion sum
    is over ≤2 doubles (IEEE-commutative). Fusion cost scales with
    list length · #lists, never corpus size
    (operators/index.py::rrf_fuse)."""
    from .operators.index import (
        bm25_corpus_stats,
        bm25_search_indexed,
        build_bm25_index,
        rrf_fuse,
    )

    d = _t(spark, sf_dir, "documents")
    idx = build_bm25_index(d, n_shards=16)
    stats = bm25_corpus_stats(d)
    bm = (
        bm25_search_indexed(idx, stats, ["spark", "merge"])
        .select(
            "doc_id",
            F.round(F.col("bm25") * 10000, 0).cast("long").alias("_s"),
        )
        .orderBy(F.desc("_s"), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("_s"), "doc_id"))
            .alias("rank"),
        )
    )
    e = _t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    jn = e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("embedding", "q", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = (
        jn.select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (nrm(F.col("embedding")) * nrm(F.col("q"))) * 10000, 0)
            .cast("long")
            .alias("_s"),
        )
        .orderBy(F.desc("_s"), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("_s"), "doc_id"))
            .alias("rank"),
        )
    )
    fused = rrf_fuse([bm, cos], id_col="doc_id", k=60)
    return (
        fused.select(
            "doc_id",
            F.col("n_lists").cast("long").alias("n_lists"),
            F.round(F.col("rrf") * 1000000, 0).cast("long").alias("rrf_x1e6"),
        )
        .orderBy(F.desc("rrf_x1e6"), "doc_id")
        .limit(20)
    )


@q(
    "vocab_growth_documents",
    """
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
      FROM t WHERE len(toks) >= 3),
    tok AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS term FROM u),
    first_seen AS (
      SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY term),
    per_batch AS (
      SELECT CAST(first_doc // 25 AS BIGINT) AS batch,
             COUNT(*) AS new_terms
      FROM first_seen GROUP BY 1)
    SELECT batch, CAST(new_terms AS BIGINT) AS new_terms,
           CAST(SUM(new_terms) OVER (ORDER BY batch
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS vocab_size
    FROM per_batch ORDER BY batch
    """,
)
def vocab_growth_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve over ingest order: per-term
    first-occurrence doc (one explode + one min-agg with map-side
    combine) over the TRIGRAM vocabulary (unigrams saturate a bounded
    synthetic lexicon instantly), bucketed into 25-doc ingest batches, then a cumulative
    sum over the SMALL batch axis — the unbounded window runs over
    #batches rows, not the corpus, so the plan is two bounded shuffles
    at any scale. The curve is the curation dashboard's
     'are we still seeing new vocabulary?' saturation signal."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ", -1)
    tris = F.expr(
        "transform(sequence(0, size(_toks) - 3),"
        " i -> concat_ws(' ', slice(_toks, i + 1, 3)))"
    )
    t = (
        d.select("doc_id", toks.alias("_toks"))
        .where(F.size("_toks") >= 3)
        .select("doc_id", F.explode(tris).alias("term"))
    )
    first_seen = t.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    per_batch = (
        first_seen.groupBy(
            (F.col("first_doc") / 25).cast("long").alias("batch")
        )
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_batch.select(
            "batch",
            F.col("new_terms").cast("long").alias("new_terms"),
            F.sum("new_terms").over(w).cast("long").alias("vocab_size"),
        )
        .orderBy("batch")
    )


_DTW_SENT = 1000000000000000  # matches operators/dtw.py::_SENT


@q(
    "dtw_pairs_events",
    f"""
    WITH RECURSIVE
    d AS (
      SELECT {_bucket_epoch_sql('ts', 86400)} AS bucket_epoch, event_type,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    days AS (SELECT DISTINCT bucket_epoch FROM d),
    types AS (SELECT DISTINCT event_type FROM d),
    spine AS (SELECT * FROM days CROSS JOIN types),
    series AS (
      SELECT s.bucket_epoch, s.event_type, COALESCE(d.cents, 0) AS cents
      FROM spine s LEFT JOIN d USING (bucket_epoch, event_type)),
    arr AS (
      SELECT event_type, list(cents ORDER BY bucket_epoch) AS vals,
             COUNT(*) AS n
      FROM series GROUP BY 1),
    pairs0 AS (
      SELECT a.event_type AS key_a, b.event_type AS key_b,
             a.vals AS va, b.vals AS vb, a.n AS n, b.n AS m
      FROM arr a JOIN arr b ON a.event_type < b.event_type),
    step AS (
      SELECT key_a, key_b, va, vb, n, m, 1 AS i, 0 AS j,
             [0::BIGINT] || [{_DTW_SENT}::BIGINT for x in range(m)] AS prev,
             [{_DTW_SENT}::BIGINT] AS cur
      FROM pairs0
      UNION ALL
      SELECT key_a, key_b, va, vb, n, m,
             CASE WHEN j + 1 = m AND i < n THEN i + 1 ELSE i END,
             CASE WHEN j + 1 = m AND i < n THEN 0 ELSE j + 1 END,
             CASE WHEN j + 1 = m AND i < n THEN list_append(cur, nxt)
                  ELSE prev END,
             CASE WHEN j + 1 = m AND i < n THEN [{_DTW_SENT}::BIGINT]
                  ELSE list_append(cur, nxt) END
      FROM (
        SELECT *,
               CASE WHEN abs(i - (j + 1)) > 7 THEN {_DTW_SENT}::BIGINT
                    ELSE least({_DTW_SENT}::BIGINT,
                               abs(va[i] - vb[j + 1])
                               + least(prev[j + 2], prev[j + 1], cur[j + 1]))
               END AS nxt
        FROM step WHERE NOT (i = n AND j = m))
    )
    SELECT key_a AS type_a, key_b AS type_b,
           CAST(n AS BIGINT) AS n_days, CAST(cur[m + 1] AS BIGINT) AS dtw_cost
    FROM step WHERE i = n AND j = m ORDER BY type_a, type_b
    """,
)
def dtw_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between the zero-filled
    daily cents series of every event-type pair (operators/dtw.py):
    the elastic series-shape similarity the tier store serves for
    'which entities behave alike'. The NumPy DP kernel vectorizes
    across the PAIR axis (the unbounded one at scale — candidates from
    SAX words / LSH, here the 10 all-pairs of a 5-key axis); costs are
    exact integers, so the DuckDB oracle replays the identical DP as a
    recursive CTE over cells and the hash must match bit-for-bit."""
    from .operators.dtw import dtw_pairs

    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(_bucket_epoch("ts", 86400), "event_type", _cents().alias("_c"))
        .groupBy("bucket_epoch", "event_type")
        .agg(F.sum("_c").alias("cents"))
    )
    spine = d.select("bucket_epoch").distinct().crossJoin(
        F.broadcast(d.select("event_type").distinct())
    )
    series = spine.join(d, ["bucket_epoch", "event_type"], "left").select(
        "bucket_epoch",
        "event_type",
        F.coalesce("cents", F.lit(0)).alias("cents"),
    )
    out = dtw_pairs(series, "event_type", "bucket_epoch", "cents", band=7)
    return (
        out.select(
            F.col("key_a").alias("type_a"),
            F.col("key_b").alias("type_b"),
            F.col("n_a").cast("long").alias("n_days"),
            F.col("dtw_cost").cast("long").alias("dtw_cost"),
        )
        .orderBy("type_a", "type_b")
    )

# Deterministic doc-id stand-in link graph (same convention as the
# anchor_text_index oracle's synthetic HTML): every document votes two
# host-level edges, h(doc_id%40) -> h((doc_id*7+3)%40) and
# h(doc_id%40) -> h((doc_id*13+1)%40), deduped per (src, dst) exactly
# like operators/graph.py::link_edges dedupes per (page, dst). Both
# formulas cover all 40 residues, so every host has outlinks (no
# dangling mass) and the graph is strongly connected enough for
# PageRank parity at few iterations.
_LINK_EDGES_CTE = """
    e0 AS (
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7 + 3) % 40 AS VARCHAR) AS dst
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR),
             'h' || CAST((doc_id * 13 + 1) % 40 AS VARCHAR)
      FROM documents),
    e AS (SELECT DISTINCT src, dst FROM e0)
"""


def _link_edges_standin(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    h = lambda expr: F.concat(F.lit("h"), expr.cast("string"))  # noqa: E731
    src = h(F.col("doc_id") % 40)
    return (
        d.select(src.alias("src"), h((F.col("doc_id") * 7 + 3) % 40).alias("dst"))
        .unionByName(
            d.select(src.alias("src"), h((F.col("doc_id") * 13 + 1) % 40).alias("dst"))
        )
        .distinct()
    )


@q(
    "link_degree_documents",
    f"""
    WITH {_LINK_EDGES_CTE},
    outd AS (SELECT src AS host, COUNT(*) AS out_degree FROM e GROUP BY 1),
    ind  AS (SELECT dst AS host, COUNT(*) AS in_degree  FROM e GROUP BY 1)
    SELECT COALESCE(outd.host, ind.host) AS host,
           CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
           CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree
    FROM outd FULL OUTER JOIN ind ON outd.host = ind.host
    ORDER BY host
    """,
)
def link_degree_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level (out_degree, in_degree) over the distinct link-edge
    list (operators/graph.py::host_degree_stats — the frontier-
    prioritization / spam-hub signal): two groupBys with map-side
    combine + one full-outer on the |hosts| axis, which is already the
    collapsed grain. The gate-scale edges are the deterministic doc-id
    stand-in graph (_LINK_EDGES_CTE) so the oracle is SQL-exact; real
    edge lists come from link_edges over the html column (tested in
    tests/test_graph.py). Reference analogue: none — engine-added
    webtext capability (SURVEY.md §2 training-data additions)."""
    from .operators.graph import host_degree_stats

    out = host_degree_stats(_link_edges_standin(spark, sf_dir))
    return out.select(
        "host",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_degree").cast("long").alias("in_degree"),
    ).orderBy("host")


_PR_ITERS = 6
_PR_DAMPING = 0.85


def _pagerank_oracle_sql() -> str:
    """Chained-CTE power iteration mirroring operators/graph.py::
    pagerank term-for-term: rank_{{i+1}}(v) = (1-d)/n + d*(Σ_{{u→v}}
    rank_i(u)/outdeg(u) + dangling_i/n). The stand-in graph has no
    dangling hosts, but the term is kept so the oracle replays the
    operator's exact arithmetic tree."""
    its = []
    for i in range(_PR_ITERS):
        its.append(f"""
    r{i + 1} AS (
      SELECT nodes.host,
             (1 - {_PR_DAMPING}) / (SELECT n FROM nn)
             + {_PR_DAMPING} * (COALESCE(c.contrib, 0)
               + (SELECT COALESCE(SUM(r.rank), 0) FROM r{i} r
                  LEFT JOIN outd o ON r.host = o.src WHERE o.src IS NULL)
                 / (SELECT n FROM nn)) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS host, SUM(r.rank / o.od) AS contrib
        FROM r{i} r JOIN outd o ON r.host = o.src JOIN e ON e.src = r.host
        GROUP BY e.dst) c ON nodes.host = c.host)""")
    return f"""
    WITH {_LINK_EDGES_CTE},
    nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    r0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    {",".join(its)}
    SELECT host, CAST(round(rank * 1000000) AS BIGINT) AS rank_x1e6
    FROM r{_PR_ITERS} ORDER BY host
    """


@q("pagerank_hosts_documents", _pagerank_oracle_sql())
def pagerank_hosts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank crawl prior over the stand-in link graph
    (operators/graph.py::pagerank, 6 power-iteration rounds,
    d=0.85): per round one shuffle on dst (rank/outdeg
    contributions with map-side combine) plus a 1-row broadcast
    aggregate for the dangling mass; lineage truncated every 4 rounds
    via localCheckpoint so the DAG stays bounded at any iteration
    count. Ranks are doubles, but the oracle replays the identical
    arithmetic tree per round, so at rank_x1e6 grain (values ~25000,
    cross-engine float noise ~1e-9 relative) the hash is stable — the
    property tests (tests/test_graph.py) additionally pin the closed
    forms. At 10^12 edges this is the Pregel-on-DataFrames shape with
    AQE handling hub-host skew; the rank vector is |hosts|-grain, never
    collected to the driver."""
    from .operators.graph import pagerank

    out = pagerank(
        _link_edges_standin(spark, sf_dir),
        n_iters=_PR_ITERS,
        damping=_PR_DAMPING,
    )
    return out.select(
        "host",
        F.round(F.col("rank") * 1000000).cast("long").alias("rank_x1e6"),
    ).orderBy("host")


# Shared STL CTE chain (daily cent-sums -> centered-MA window ->
# interior gapless rows with detrended×7 -> per-phase sums); used by
# stl_daily_events and stl_anomaly_events.
_STL_CTE_SQL = """
    d AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS bucket_epoch,
             SUM(CAST(round(value*100) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, bucket_epoch, v,
             SUM(v) OVER win AS tnum, COUNT(*) OVER win AS tc,
             MAX(bucket_epoch) OVER win - MIN(bucket_epoch) OVER win AS span
      FROM d WINDOW win AS (PARTITION BY event_type ORDER BY bucket_epoch
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    i AS (
      SELECT event_type, bucket_epoch, v, tnum,
             CAST(7*v - tnum AS HUGEINT) AS det,
             (((bucket_epoch // 86400) % 7) + 7) % 7 AS phase
      FROM w WHERE tc = 7 AND span = 518400),
    s AS (
      SELECT event_type, phase, SUM(det) AS snum,
             CAST(COUNT(*) AS HUGEINT) AS scnt
      FROM i GROUP BY 1, 2)
"""

# Exact x1e4 remainder of the STL decomposition — shared verbatim by
# stl_daily_events and stl_anomaly_events so the two oracles cannot
# drift (same reason _STL_CTE_SQL is shared).
_STL_REM_SQL = """CAST(CASE WHEN 7*s.scnt*i.v - s.scnt*i.tnum - s.snum = 0 THEN 0
                     ELSE CAST(sign(7*s.scnt*i.v - s.scnt*i.tnum - s.snum)
                               AS HUGEINT)
                          * ((abs(7*s.scnt*CAST(i.v AS HUGEINT)
                                  - s.scnt*i.tnum - s.snum) * 10000)
                             // (7 * s.scnt))
                END AS BIGINT)"""


@q(
    "stl_daily_events",
    f"""
    WITH {_STL_CTE_SQL}
    SELECT i.event_type, i.bucket_epoch, CAST(i.v AS BIGINT) AS v,
           CAST(CASE WHEN i.tnum = 0 THEN 0
                     ELSE CAST(sign(i.tnum) AS HUGEINT)
                          * ((abs(CAST(i.tnum AS HUGEINT)) * 10000) // 7)
                END AS BIGINT) AS trend_x1e4,
           CAST(CASE WHEN s.snum = 0 THEN 0
                     ELSE CAST(sign(s.snum) AS HUGEINT)
                          * ((abs(s.snum) * 10000) // (7 * s.scnt))
                END AS BIGINT) AS seasonal_x1e4,
           {_STL_REM_SQL} AS remainder_x1e4
    FROM i JOIN s ON s.event_type = i.event_type AND s.phase = i.phase
    """,
)
def stl_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of each type's daily cent-sum
    series (trend.py::stl_decompose): centered 7-day moving-average
    trend on interior gapless rows, per-day-of-week seasonal means of
    the detrended series, integer-exact remainder. The one classical
    time-series decomposition the engine's trend family (linfit / acf /
    changepoint / seasonal_naive) was still missing; every *_x1e4 is
    sign·(|num|·10⁴) intdiv den of exact integers — bit-identical
    across engines and parallelism levels."""
    from .operators.trend import stl_decompose

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 86400), _cents().alias("_c")
    )
    daily = ev.groupBy("event_type", "bucket_epoch").agg(F.sum("_c").alias("c"))
    return stl_decompose(daily, ["event_type"], "bucket_epoch", "c")


@q(
    "boilerplate_strip_documents",
    """
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    nd AS (SELECT source, COUNT(*) AS nd FROM t GROUP BY 1),
    u AS (
      SELECT doc_id, source, toks, unnest(range(1, len(toks))) AS i
      FROM t WHERE len(toks) >= 2
    ),
    s AS (SELECT doc_id, source, i,
                 array_to_string(toks[i:i+1], ' ') AS span FROM u),
    df AS (SELECT source, span, COUNT(DISTINCT doc_id) AS df
           FROM s GROUP BY 1, 2),
    bp AS (
      SELECT df.source, df.span
      FROM df JOIN nd USING (source)
      WHERE nd.nd >= 5 AND df.df >= (1 * nd.nd + 5 - 1) // 5),
    cov AS (
      SELECT DISTINCT s.doc_id, unnest(range(s.i, s.i + 2)) AS j
      FROM s JOIN bp ON bp.source = s.source AND bp.span = s.span),
    tok AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j FROM t),
    tok2 AS (SELECT doc_id, j, toks[j] AS tk FROM tok),
    kept AS (
      SELECT tok2.doc_id, tok2.j, tok2.tk
      FROM tok2 LEFT JOIN cov ON cov.doc_id = tok2.doc_id AND cov.j = tok2.j
      WHERE cov.j IS NULL),
    agg AS (
      SELECT doc_id, string_agg(tk, ' ' ORDER BY j) AS text, COUNT(*) AS n
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(agg.text, '') AS text,
           CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_tokens_kept,
           CAST(len(t.toks) - COALESCE(agg.n, 0) AS BIGINT) AS n_tokens_dropped
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def boilerplate_strip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level boilerplate removal (operators/boilerplate.py::
    boilerplate_strip — the CCNet/RefinedWeb template-dedup step): a
    w-span contained in ≥ ceil(nd/5) distinct docs of one source
    (source size ≥ 5) is template boilerplate; covered tokens are cut
    and the doc reassembled. Hash-gated on the reconstructed TEXT
    itself (byte equality certifies the whole cover/cut pipeline).
    Gate instantiation w=2, frac=1/5 — the synthetic corpus has no
    8-token templates, so the gate exercises the non-trivial path at
    bigram granularity (~9% of tokens cut); production default is
    w=8, frac=1/2. Threshold ceil is integer arithmetic in BOTH
    engines — no IEEE ceil(frac·nd) divergence."""
    from .operators.boilerplate import boilerplate_strip

    return boilerplate_strip(
        _t(spark, sf_dir, "documents"),
        w=2, frac_num=1, frac_den=5, min_docs=5,
    )


@q(
    "stl_anomaly_events",
    f"""
    WITH {_STL_CTE_SQL},
    r AS (
      SELECT i.event_type,
             {_STL_REM_SQL} AS rem
      FROM i JOIN s ON s.event_type = i.event_type AND s.phase = i.phase),
    m AS (SELECT event_type, median(CAST(rem AS DOUBLE)) AS med
          FROM r GROUP BY 1),
    dv AS (SELECT r.event_type, rem, med,
                  abs(CAST(rem AS DOUBLE) - med) AS adev
           FROM r JOIN m USING (event_type)),
    md AS (SELECT event_type, median(adev) AS mad FROM dv GROUP BY 1)
    SELECT dv.event_type, COUNT(*) AS n_points,
           CAST(round(MIN(dv.med) * 2) AS BIGINT) AS med_x1e4_x2,
           CAST(round(MIN(md.mad) * 2) AS BIGINT) AS mad_x1e4_x2,
           CAST(SUM(CASE WHEN dv.adev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies
    FROM dv JOIN md USING (event_type) GROUP BY 1
    """,
)
def stl_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly counts: robust median/MAD gate
    (rolling.py::mad_anomaly) over the STL REMAINDER series
    (trend.py::stl_decompose) instead of the raw values — a Saturday
    dip that recurs every Saturday is seasonal, not anomalous, so it
    lands in the seasonal component and never trips the gate; only
    deviations from trend+seasonality do. Pure composition of two
    oracle-paired operators; remainders are exact x1e4 integers, so
    medians are exact half-integers and the count is bit-identical
    across engines and parallelism levels."""
    from .operators.rolling import mad_anomaly
    from .operators.trend import stl_decompose

    ev = _t_raw(spark, sf_dir, "events").select(
        "event_type", _bucket_epoch("ts", 86400), _cents().alias("_c")
    )
    daily = ev.groupBy("event_type", "bucket_epoch").agg(F.sum("_c").alias("c"))
    # persist the (key × bucket)-grain STL frame so mad_anomaly's three
    # consumers (median agg, deviation join, MAD agg) read the cache
    # instead of replaying the scan+decompose per branch (same pattern
    # as distinctive_terms' persisted count table)
    stl = stl_decompose(daily, ["event_type"], "bucket_epoch", "c").persist()
    out = mad_anomaly(stl, ["event_type"], "remainder_x1e4", k=3)
    # mad_anomaly's fixed aliases say "cents"; here the gated values are
    # x1e4 remainders — rename so the public schema states the true unit
    return out.withColumnRenamed("med_cents_x2", "med_x1e4_x2").withColumnRenamed(
        "mad_cents_x2", "mad_x1e4_x2"
    )


@q(
    "batch_novelty_documents",
    """
    WITH t AS (
      SELECT doc_id, CAST(doc_id // 25 AS BIGINT) AS batch,
             string_split(text, ' ') AS toks FROM documents),
    u AS (
      SELECT doc_id, batch, toks, unnest(range(1, len(toks) - 1)) AS i
      FROM t WHERE len(toks) >= 3),
    sh AS (
      SELECT DISTINCT doc_id, batch, array_to_string(toks[i:i+2], ' ') AS s
      FROM u),
    first_seen AS (SELECT s, MIN(batch) AS fb FROM sh GROUP BY s)
    SELECT batch,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS novelty_x1e4
    FROM sh JOIN first_seen USING (s)
    GROUP BY batch ORDER BY batch
    """,
)
def batch_novelty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate curve over ingest order (operators/novelty.py): per
    25-doc batch, the exact fraction of (doc, distinct 3-shingle) pairs
    whose shingle no earlier batch contains — the CCNet/RefinedWeb
    'is another crawl still paying?' saturation signal, complementing
    vocab_growth's type-count curve with document-mass weighting. One
    explode + a map-side-combinable min-agg on the 8-byte shingle hash
    + one h-keyed join + a #batches-row agg; the oracle replays the
    definition on the shingle STRINGS (hash-free), so agreement also
    witnesses collision-freeness at this SF."""
    from .operators.novelty import batch_novelty

    d = _t(spark, sf_dir, "documents")
    return batch_novelty(
        d, (F.col("doc_id") / 25).cast("long"), text_col="text",
        id_col="doc_id", k=3,
    ).orderBy("batch")


@q(
    "crawl_budget_events",
    """
    WITH w AS (
      SELECT CAST(user_id % 97 AS BIGINT) AS host, COUNT(*) AS weight
      FROM events GROUP BY 1),
    tot AS (SELECT SUM(weight) AS w_total FROM w),
    b AS (
      SELECT host, weight,
             CAST(1000 * weight // w_total AS BIGINT) AS base,
             CAST(1000 * weight % w_total AS BIGINT) AS rem
      FROM w, tot),
    r AS (SELECT 1000 - SUM(base) AS bonus FROM b),
    rk AS (
      SELECT host, weight, base,
             row_number() OVER (ORDER BY rem DESC, host ASC) AS rnk
      FROM b)
    SELECT host, CAST(weight AS BIGINT) AS weight,
           CAST(base + CASE WHEN rnk <= (SELECT bonus FROM r)
                            THEN 1 ELSE 0 END AS BIGINT) AS quota
    FROM rk ORDER BY host
    """,
)
def crawl_budget_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder fetch-budget apportionment
    (operators/recrawl.py::apportion_budget): 1000 fetch slots split
    across 97 hosts proportionally to their event counts, quotas exact
    integers summing to the budget bit-for-bit (the Hamilton rule, not
    float shares + rounding). The oracle replays the same total
    deterministic (remainder DESC, host ASC) rank; the engine computes
    it two-phase (per-shard prune, then a ≤ R·shards-row final rank) so
    no single task ever sorts the whole host axis."""
    from .operators.recrawl import apportion_budget

    ev = _t(spark, sf_dir, "events")
    w = ev.groupBy((F.col("user_id") % 97).cast("long").alias("host")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return apportion_budget(w, ["host"], "n", budget=1000).orderBy("host")


@q(
    "host_concentration_events",
    """
    WITH w AS (SELECT user_id AS host, COUNT(*) AS w FROM events GROUP BY 1),
    s AS (SELECT w, RANK() OVER (ORDER BY w) AS rk,
                 COUNT(*) OVER (PARTITION BY w) AS ties FROM w),
    a AS (SELECT COUNT(*) AS n, SUM(w) AS tw, SUM(w * w) AS ss,
                 SUM((2 * rk + ties - 1) * w) AS s2 FROM s),
    t AS (SELECT SUM(w) AS topw FROM
          (SELECT w FROM w ORDER BY w DESC
           LIMIT greatest(1, (SELECT n // 100 FROM a))))
    SELECT CAST(n AS BIGINT) AS n_units,
           CAST(tw AS BIGINT) AS total_weight,
           CAST((s2 - (n + 1) * tw) * 10000 // (n * tw) AS BIGINT)
             AS gini_x1e4,
           CAST(ss * 10000 // (tw * tw) AS BIGINT) AS hhi_x1e4,
           CAST((SELECT topw FROM t) * 10000 // tw AS BIGINT)
             AS top_share_x1e4,
           CAST(greatest(1, n // 100) AS BIGINT) AS top_k
    FROM a
    """,
)
def host_concentration_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity audit (operators/concentration.py): exact Gini,
    HHI, and top-1%-share over per-host event counts, all in
    integer/decimal arithmetic from the count-of-counts table (the only
    ordered pass runs over distinct COUNT VALUES, which Zipf collapses
    far below the host axis). The oracle replays the textbook
    per-unit mean-rank formula — a genuinely different formulation —
    so agreement witnesses the grouped algebra, not the code."""
    from .operators.concentration import concentration

    ev = _t(spark, sf_dir, "events")
    w = ev.groupBy(F.col("user_id").alias("host")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return concentration(w, "n_events", top_frac=0.01)


@q(
    "trending_users_events",
    """
    WITH t AS (SELECT user_id AS host,
                      CAST(floor(epoch(ts)) AS BIGINT) AS te
               FROM events),
    m AS (SELECT MAX(te) AS tr FROM t)
    SELECT host,
           CAST((SUM(CAST(ROUND(pow(2.0, (te - tr) / 86400.0) * 100000000,
                                0) AS HUGEINT)) + 5000) // 10000
                AS BIGINT) AS score_x1e4,
           CAST(COUNT(*) AS BIGINT) AS n_raw
    FROM t, m GROUP BY host
    ORDER BY score_x1e4 DESC, host LIMIT 20
    """,
)
def trending_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed trending hosts (operators/decay.py): top 20
    users by sum of 2^((t−T)/1d) at T = the stream head — the
    recency-weighted activity a recrawl planner ranks by, computed as a
    map-side-combinable hash agg + TakeOrderedAndProject (no window, no
    retention boundary). The deterministic order (rounded score DESC,
    host ASC) is applied AFTER x1e4 rounding on both sides so the
    selected set is engine-stable."""
    from .operators.decay import trending_topk

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("host"), _epoch("ts").alias("te")
    )
    t_ref = ev.agg(F.max("te").alias("m")).collect()[0]["m"]
    return trending_topk(ev, ["host"], F.col("te"), int(t_ref), 86400, k=20)


@q(
    "leakfree_split_documents",
    f"""
    WITH g AS (SELECT doc_id, md5(text) AS grp FROM documents),
    rep AS (SELECT grp, MIN(doc_id) AS rep FROM g GROUP BY grp),
    lab AS (
      SELECT grp,
             CASE WHEN {_KEYHASH_PPM_SQL.format(x='rep', seed=11)} < 100000
                    THEN 'holdout'
                  WHEN {_KEYHASH_PPM_SQL.format(x='rep', seed=11)} < 900000
                    THEN 'train'
                  ELSE 'val' END AS split
      FROM rep)
    SELECT doc_id, split FROM g JOIN lab USING (grp)
    ORDER BY doc_id
    """,
)
def leakfree_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe split assignment
    (operators/sampling.py::leakage_safe_split): exact-dup clusters
    (md5(text)) each land WHOLLY in one of train/val/holdout, banded by
    the md5 ppm hash of the cluster representative — the leak a per-doc
    hash split leaves open (a page and its copy straddling
    train/holdout) is impossible by construction. The sf0.01 documents
    table carries real duplicate texts, so the gate exercises
    multi-member clusters, not just singletons."""
    from .operators.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents")
    out = leakage_safe_split(
        d.select("doc_id", F.md5("text").alias("grp")),
        {"holdout": 0.1, "val": 0.1, "train": 0.8},
        group_col="grp",
        key="doc_id",
        seed=11,
    )
    return out.select("doc_id", "split").orderBy("doc_id")


@q(
    "asap_smooth_events",
    # The whole ASAP selection is exact integer algebra (operators/
    # asap.py), so DuckDB replays it bit-for-bit on HUGEINT: prefix
    # sums give every candidate's rolling sum via a constant-offset
    # LAG per window branch, the roughness/retention ratios are pure
    # int divisions of nonnegative quantities (// == Spark's decimal
    # div there), and the final pass re-derives the chosen window's
    # SMA from the same prefix sums with a rn-offset self-join.
    """
    WITH src AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS x
      FROM events WHERE user_id < 20
      GROUP BY user_id, CAST(floor(epoch(ts)) AS BIGINT)
    ),
    pre AS (
      SELECT user_id, t, x,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t) AS rn,
             SUM(x) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS ps
      FROM src
    ),
    branches AS (
      SELECT user_id, 2 AS w, rn,
             ps - COALESCE(LAG(ps, 2) OVER (PARTITION BY user_id ORDER BY rn),
                           CAST(0 AS HUGEINT)) AS s
      FROM pre QUALIFY rn >= 2
      UNION ALL
      SELECT user_id, 3, rn,
             ps - COALESCE(LAG(ps, 3) OVER (PARTITION BY user_id ORDER BY rn),
                           CAST(0 AS HUGEINT))
      FROM pre QUALIFY rn >= 3
      UNION ALL
      SELECT user_id, 5, rn,
             ps - COALESCE(LAG(ps, 5) OVER (PARTITION BY user_id ORDER BY rn),
                           CAST(0 AS HUGEINT))
      FROM pre QUALIFY rn >= 5
      UNION ALL
      SELECT user_id, 7, rn,
             ps - COALESCE(LAG(ps, 7) OVER (PARTITION BY user_id ORDER BY rn),
                           CAST(0 AS HUGEINT))
      FROM pre QUALIFY rn >= 7
    ),
    diffs AS (
      SELECT user_id, w, s,
             s - LAG(s) OVER (PARTITION BY user_id, w ORDER BY rn) AS d
      FROM branches
    ),
    stats AS (
      SELECT user_id, w,
             CAST(COUNT(*) AS HUGEINT) AS m,
             SUM(s) AS ss, SUM(s * s) AS sss,
             CAST(COUNT(d) AS HUGEINT) AS cnt,
             SUM(d) AS sd, SUM(d * d) AS sdd
      FROM diffs GROUP BY user_id, w
    ),
    raw AS (
      SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx
      FROM pre GROUP BY user_id
    ),
    scored AS (
      SELECT st.user_id, st.w, st.m,
             CASE WHEN st.cnt > 1 THEN
               ((st.cnt * st.sdd - st.sd * st.sd) * 100000000)
                 // (st.cnt * st.cnt * st.w * st.w)
             END AS rough2,
             CASE WHEN (r.n * r.sxx - r.sx * r.sx) = 0 THEN 10000
                  WHEN ((r.n * r.sxx - r.sx * r.sx)
                        * st.m * st.m * st.w * st.w) > 0 THEN
                    ((st.m * st.sss - st.ss * st.ss) * r.n * r.n * 10000)
                      // ((r.n * r.sxx - r.sx * r.sx)
                          * st.m * st.m * st.w * st.w)
             END AS ret
      FROM stats st JOIN raw r USING (user_id)
    ),
    best AS (
      SELECT user_id, w
      FROM scored
      WHERE m >= 2 AND rough2 IS NOT NULL AND ret >= 5000
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY rough2, w) = 1
    ),
    chosen AS (
      SELECT k.user_id, CAST(COALESCE(b.w, 1) AS BIGINT) AS chosen_w
      FROM (SELECT DISTINCT user_id FROM scored) k
      LEFT JOIN best b USING (user_id)
    )
    SELECT p.user_id, p.t AS t_epoch, c.chosen_w,
           CAST(((p.ps - COALESCE(p2.ps, CAST(0 AS HUGEINT))) * 10000)
                // CAST(c.chosen_w AS HUGEINT) AS BIGINT) AS sma_x1e4
    FROM pre p
    JOIN chosen c USING (user_id)
    LEFT JOIN pre p2 ON p2.user_id = p.user_id
                    AND p2.rn = p.rn - c.chosen_w
    WHERE p.rn >= c.chosen_w
    """,
)
def asap_smooth_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASAP-style auto-window smoothing (operators/asap.py): per user,
    pick the moving-average window from a fixed grid (2,3,5,7) that
    minimizes exact squared roughness subject to retaining >=50% of the
    raw variance, then emit the chosen window's SMA over full windows.
    The chart-serving dual of lttb_downsample_events: LTTB decides WHICH
    points survive, ASAP decides HOW MUCH to smooth the survivors.
    Reference analogue: none - north-rule chart-serving tooling."""
    from .operators.asap import asap_smooth

    ev = _t_raw(spark, sf_dir, "events")
    series = (
        ev.where(F.col("user_id") < 20)
        .select("user_id", _epoch("ts").alias("t"), _cents().alias("_c"))
        .groupBy("user_id", "t")
        .agg(F.sum("_c").alias("v"))
    )
    out = asap_smooth(series, ["user_id"], "t", "v", windows=(2, 3, 5, 7))
    return out.select(
        "user_id",
        F.col("t").alias("t_epoch"),
        "chosen_w",
        "sma_x1e4",
    )


@q(
    "kmv_overlap_events",
    # KMV is pure integer algebra over the 60-bit md5-prefix hash
    # (operators/kmv.py), so DuckDB replays every estimate bit-for-bit:
    # per-type k smallest distinct hashes via ROW_NUMBER (the engine's
    # two-phase shard prune is lossless, so straight k-min is the same
    # set), then the pair algebra on the union ranking. HUGEINT carries
    # (k-1)*2^60, which overflows BIGINT.
    """
    WITH d AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':7'),
                                  1, 15)) AS BIGINT) AS h
      FROM events
    ),
    r AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d
    ),
    sk AS (SELECT event_type, h FROM r WHERE rn <= 16),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM (SELECT DISTINCT event_type FROM sk) a
      JOIN (SELECT DISTINCT event_type FROM sk) b
        ON a.event_type < b.event_type
    ),
    pr AS (
      SELECT p.ta, p.tb, s.h,
             MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb)
      GROUP BY p.ta, p.tb, s.h
    ),
    rk AS (
      SELECT ta, tb, h, in_a, in_b,
             ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY ta, tb) AS usz
      FROM pr
    ),
    agg AS (
      SELECT ta, tb, MAX(usz) AS usz,
             LEAST(16, MAX(usz)) AS kk,
             MAX(CASE WHEN rn = LEAST(16, usz) THEN h END) AS tau,
             SUM(CASE WHEN in_a = 1 AND in_b = 1
                      AND rn <= LEAST(16, usz) THEN 1 ELSE 0 END) AS x
      FROM rk GROUP BY ta, tb
    )
    SELECT ta AS event_type_a, tb AS event_type_b,
           CAST(CASE WHEN usz < 16 THEN usz
                ELSE (CAST(15 AS HUGEINT) * 1152921504606846976) // tau
                END AS BIGINT) AS union_est,
           CAST((CAST(x AS HUGEINT)
                 * (CASE WHEN usz < 16 THEN usz
                    ELSE (CAST(15 AS HUGEINT) * 1152921504606846976) // tau
                    END)) // kk AS BIGINT) AS inter_est,
           CAST((x * 10000) // kk AS BIGINT) AS jaccard_x1e4
    FROM agg
    """,
)
def kmv_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic audience-overlap estimation between event types
    (operators/kmv.py): KMV sketches of the distinct user set per type
    (k=16 smallest 60-bit hashes), then pairwise union / intersection /
    Jaccard estimates from sketch arithmetic alone. At sf0.001 the
    sketches are unsaturated (estimates are EXACT set arithmetic); at
    sf0.01+ they saturate and the (k-1)*M div h_(k) estimator engages —
    both regimes gate-checked. The deterministic dual of the theta
    sketch path (sketches.theta_key_sketch_daily), whose float
    estimates cannot be oracle-hashed. Reference analogue: A4 set-size
    counts extended to intersections (SURVEY §2.11 sketch family)."""
    from .operators.kmv import kmv_overlap, kmv_sketch

    ev = _t(spark, sf_dir, "events")
    # persist the sketch frame (one ≤k-long array per key — tiny) so the
    # pair self-join's two sides read ONE build instead of duplicating
    # the distinct-over-the-key-space stage (the stl_anomaly pattern);
    # in production the sketch table is STORED like any tier and the
    # overlap job only ever reads it
    sk = kmv_sketch(
        ev, ["event_type"], "user_id", k=16, seed=7, shards=8
    ).persist()
    return kmv_overlap(sk, ["event_type"], k=16).orderBy(
        "event_type_a", "event_type_b"
    )


@q(
    "alert_episodes_events",
    # the hysteresis recursion collapses to last_value(flag IGNORE
    # NULLS) over the ordered frame — DuckDB replays the carry, the
    # open-edge detection, and the episode numbering with the same
    # window algebra on exact integer cents
    """
    WITH s AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
             SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events WHERE user_id < 40
      GROUP BY 1, 2
    ),
    f AS (
      SELECT user_id, day_epoch, v,
             CASE WHEN v >= 20000 THEN 1
                  WHEN v <= 12000 THEN 0 END AS flag
      FROM s
    ),
    c AS (
      SELECT *,
             COALESCE(LAST_VALUE(flag IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day_epoch
               ROWS UNBOUNDED PRECEDING), 0) AS st
      FROM f
    ),
    o AS (
      SELECT *,
             CASE WHEN st = 1 AND COALESCE(LAG(st) OVER (
                    PARTITION BY user_id ORDER BY day_epoch), 0) = 0
                  THEN 1 ELSE 0 END AS op
      FROM c
    ),
    e AS (
      SELECT *, SUM(op) OVER (PARTITION BY user_id ORDER BY day_epoch
                              ROWS UNBOUNDED PRECEDING) AS ep
      FROM o
    )
    SELECT user_id, CAST(ep AS BIGINT) AS episode,
           MIN(day_epoch) AS episode_start,
           MAX(day_epoch) AS episode_end,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(v) AS BIGINT) AS peak_value
    FROM e WHERE st = 1
    GROUP BY user_id, ep
    """,
)
def alert_episodes_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis alert episodes (operators/states.py::alert_episodes)
    over per-user daily spend: an episode opens at >= 20000 cents/day
    and stays open through the dead band until a day closes <= 12000 —
    the Prometheus-style two-threshold alert rule, emitted as episodes
    (start, end, length, peak) instead of flapping point flags.
    Reference analogue: none — monitoring tooling over the rolled
    tiers (SURVEY §2.11 family)."""
    from .operators.states import alert_episodes

    ev = _t_raw(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("user_id") < 40)
        .select(
            "user_id",
            ((_epoch("ts") / 86400).cast("long") * 86400).alias("day_epoch"),
            _cents().alias("_c"),
        )
        .groupBy("user_id", "day_epoch")
        .agg(F.sum("_c").alias("v"))
    )
    return alert_episodes(
        daily, ["user_id"], "day_epoch", "v", hi=20000, lo=12000
    )


@q(
    "kmv_range_overlap_events",
    # exercises KMV MERGEABILITY cross-engine: per-(type, day) k-min
    # sketches, merged per type into one sketch per SIDE of the month
    # split (k smallest of the union of daily k-mins == k-min of the
    # side's distinct set — lossless), then the pair algebra per type.
    # DuckDB replays daily build, merge, and estimates bit-for-bit.
    """
    WITH d AS (
      SELECT DISTINCT event_type,
             CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':7'),
                                  1, 15)) AS BIGINT) AS h
      FROM events
    ),
    r AS (
      SELECT event_type, day_epoch, h,
             ROW_NUMBER() OVER (PARTITION BY event_type, day_epoch
                                ORDER BY h) AS rn
      FROM d
    ),
    sk AS (SELECT event_type, day_epoch, h FROM r WHERE rn <= 16),
    ma AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM (SELECT DISTINCT event_type, h FROM sk
            WHERE day_epoch < 1705363200)
    ),
    mb AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM (SELECT DISTINCT event_type, h FROM sk
            WHERE day_epoch >= 1705363200)
    ),
    sa AS (SELECT event_type, h FROM ma WHERE rn <= 16),
    sb AS (SELECT event_type, h FROM mb WHERE rn <= 16),
    pr AS (
      SELECT COALESCE(a.event_type, b.event_type) AS event_type,
             COALESCE(a.h, b.h) AS h,
             CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
             CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
      FROM sa a FULL OUTER JOIN sb b
        ON a.event_type = b.event_type AND a.h = b.h
    ),
    both_sides AS (
      SELECT event_type FROM sa GROUP BY 1
      INTERSECT
      SELECT event_type FROM sb GROUP BY 1
    ),
    rk AS (
      SELECT p.event_type, p.h, p.in_a, p.in_b,
             ROW_NUMBER() OVER (PARTITION BY p.event_type
                                ORDER BY p.h) AS rn,
             COUNT(*) OVER (PARTITION BY p.event_type) AS usz
      FROM pr p JOIN both_sides USING (event_type)
    ),
    agg AS (
      SELECT event_type, MAX(usz) AS usz,
             LEAST(16, MAX(usz)) AS kk,
             MAX(CASE WHEN rn = LEAST(16, usz) THEN h END) AS tau,
             SUM(CASE WHEN in_a = 1 AND in_b = 1
                      AND rn <= LEAST(16, usz) THEN 1 ELSE 0 END) AS x
      FROM rk GROUP BY event_type
    )
    SELECT event_type,
           CAST(CASE WHEN usz < 16 THEN usz
                ELSE (CAST(15 AS HUGEINT) * 1152921504606846976) // tau
                END AS BIGINT) AS union_est,
           CAST((CAST(x AS HUGEINT)
                 * (CASE WHEN usz < 16 THEN usz
                    ELSE (CAST(15 AS HUGEINT) * 1152921504606846976) // tau
                    END)) // kk AS BIGINT) AS inter_est,
           CAST((x * 10000) // kk AS BIGINT) AS jaccard_x1e4
    FROM agg
    """,
)
def kmv_range_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience retention between month halves from STORED daily
    sketches (operators/kmv.py): per (event_type, day) KMV sketches,
    losslessly merged per type into a first-half and a second-half
    sketch, then per-type union/intersection/Jaccard — the "how much
    of the early audience came back" question answered from sketch
    rows alone, the same rollup contract as the additive tier cascade.
    Reference analogue: A4 set-size counts extended to intersections
    over time ranges (SURVEY §2.11 sketch family)."""
    from .operators.kmv import kmv_merge, kmv_overlap_ranges, kmv_sketch

    SPLIT = 1705363200  # 2024-01-16 00:00:00 UTC — testdata mid-month
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        ((_epoch("ts") / 86400).cast("long") * 86400).alias("day_epoch"),
        "user_id",
    )
    # daily sketches persist (tiny: one ≤k array per (type, day)) —
    # both side filters read one build, modelling the STORED table
    daily = kmv_sketch(
        base, ["event_type", "day_epoch"], "user_id", k=16, seed=7, shards=8
    ).persist()
    a = kmv_merge(
        daily.where(F.col("day_epoch") < SPLIT), ["event_type"], k=16
    )
    b = kmv_merge(
        daily.where(F.col("day_epoch") >= SPLIT), ["event_type"], k=16
    )
    return kmv_overlap_ranges(a, b, ["event_type"], k=16).orderBy(
        "event_type"
    )


@q(
    "contribution_events",
    # pure integer algebra (conditional sums, signed intdiv share) —
    # DuckDB replays it bit-for-bit; HUGEINT carries delta*1e4
    """
    WITH base AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    pk AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN e >= 1704067200 AND e < 1704672000
                                    THEN c END), 0) AS BIGINT) AS v_a,
             CAST(COALESCE(SUM(CASE WHEN e >= 1704672000 AND e < 1705276800
                                    THEN c END), 0) AS BIGINT) AS v_b
      FROM base
      WHERE e >= 1704067200 AND e < 1705276800
      GROUP BY user_id
    ),
    d AS (SELECT *, CAST(v_b - v_a AS BIGINT) AS delta FROM pk),
    t AS (SELECT CAST(SUM(delta) AS BIGINT) AS total_delta FROM d)
    SELECT user_id, v_a, v_b, delta,
           CASE WHEN total_delta != 0 THEN
             (CASE WHEN (delta >= 0) = (total_delta >= 0)
                   THEN 1 ELSE -1 END)
             * CAST(abs(CAST(delta AS HUGEINT) * 10000)
                    // abs(CAST(total_delta AS HUGEINT)) AS BIGINT)
           END AS share_x1e4,
           total_delta
    FROM d CROSS JOIN t
    """,
)
def contribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week contribution analysis
    (operators/contribution.py): per user, spend totals in Jan
    week 1 vs week 2, the signed delta, and the user's share of the
    total move (x1e4) — the "which keys drove the change" root-cause
    endpoint next to drift (psi_drift_events) and trend
    (trend_slope_events). One pruned scan with both range sums as
    sibling conditional aggregates; the 1-row total broadcasts back.
    Reference analogue: none — monitoring tooling (SURVEY §2.11
    family)."""
    from .operators.contribution import contribution

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", _epoch("ts").alias("e"), _cents().alias("c")
    )
    out = contribution(
        base, ["user_id"], "e", "c",
        1704067200, 1704672000, 1704672000, 1705276800,
    )
    return out.orderBy("user_id")
