"""Structured Streaming ingestion: the reference's realtime tail.

Reference analogue: the aggregator poll loop + RPC tail fetch
(``/root/reference/src/chainalytic/aggregator/__main__.py:80-142``,
``zones/.../upstream/data_feeder.py:101-111`` — "height not yet
available" ≡ no new files). Here: ``readStream`` over the pages
directory (or Iceberg/Kafka source on a cluster), event-time tumbling
windows with a watermark for late data (T3), and ``foreachBatch``
committing through the same TableStore as the batch pipeline.

Each stream appends finalized 1m windows to a day-partitioned partial
log, ``<family>_1m_stream``, beside the batch family's ``<family>_1m``
table; coarser tiers remain batch cascade jobs over committed 1m
partitions (the standard continuous-aggregate split: streaming keeps
the edge fresh, batch re-derives the heavy history). ``FAMILIES`` is
the one place that says, per family (``tier``, ``hist``, ``sketch``),
which column buckets the log, how its partials merge, and on which
grain its rows replace batch rows. ``serve_frames`` reads a family's
stored tiers with the finest one served history+edge, and
``compact_edge`` folds the log's closed days into the batch table.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bucketing import TIER_ORDER, url_bucket
from ..operators.fold import prepare_observations
from ..operators.registry import DEFAULT_SET
from ..tables import TableStore

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-based streaming source over a pages parquet directory.
    On a cluster the same plan reads new Iceberg snapshots or Kafka."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_rollup_1m(pages_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling 1-minute rollup at url grain. Late rows
    beyond the watermark are dropped (documented policy, T3) — the
    batch pipeline re-derives exact history on its next run. Rows are
    narrowed and aggregated exactly as the batch 1m tier is (the
    registry's ``DEFAULT_SET``), so stream rows and batch rows share
    one schema and compact into ``tier_1m`` interchangeably."""
    obs = prepare_observations(pages_stream).withWatermark("warc_ts", watermark)
    return (
        obs.groupBy(F.window("warc_ts", "1 minute").alias("win"), "url_hash", "url", "lang")
        .agg(*[m.agg().alias(m.name) for m in DEFAULT_SET.metrics])
        .select(
            F.col("win.start").alias("bucket_start"),
            "url_hash", "url", "lang", *DEFAULT_SET.metric_names(),
        )
        .withColumn("tier", F.lit("1m"))
        .withColumn("gap_filled", F.lit(False))
    )


class Family(NamedTuple):
    """How one tier family's streaming partial log is read and folded
    into its batch tables."""

    bucket: str  # batch-wins compares batch and edge on this column
    merge: Callable[[DataFrame], DataFrame]  # raw log -> one row per grain key, bucket_day kept
    grain: tuple[str, ...] | None  # compaction grain; None: the log is pruned, not compacted


def _merge_hist(log: DataFrame) -> DataFrame:
    # counts, unlike HLL unions, are not idempotent: ``distinct`` makes a
    # crash-replayed (byte-identical) finalized window count once
    return (
        log.distinct()
        .groupBy("lang", "bucket_epoch", "hb_lo", "bucket_day")
        .agg(F.sum("hb_count").alias("hb_count"))
        .select("lang", "bucket_epoch", "hb_lo", "hb_count", "bucket_day")
    )


def _merge_sketch(log: DataFrame) -> DataFrame:
    # hll_union_agg is idempotent over replayed partials: no distinct
    return (
        log.groupBy("bucket_start", "lang", "bucket_day")
        .agg(F.hll_union_agg("url_sketch").alias("url_sketch"))
        .select("bucket_start", "lang", "url_sketch", "bucket_day")
    )


# Stream rows are watermark-finalized windows, so a crash between
# foreachBatch's append and the checkpoint commit re-appends
# byte-identical rows: ``distinct`` makes the tier log replay-safe. The
# tier grain is the FULL one — lang can flap between crawls of one url,
# and anti-joining on (bucket_start, url_hash) alone would drop the
# batch row of the other lang variant.
FAMILIES: dict[str, Family] = {
    "tier": Family("bucket_start", DataFrame.distinct,
                   ("bucket_start", "url_hash", "url", "lang")),
    "hist": Family("bucket_epoch", _merge_hist, ("bucket_epoch", "lang", "hb_lo")),
    "sketch": Family("bucket_start", _merge_sketch, None),
}

EDGE_TIER = "1m"  # every stream writes finalized 1m windows


def _day(d):
    """A date from a date or a naive-UTC datetime."""
    return d.date() if hasattr(d, "date") else d


def _epoch_day(df: DataFrame) -> DataFrame:
    return df.withColumn("bucket_day", F.to_date(F.col("bucket_epoch").cast("timestamp")))


def _start(query: DataFrame, checkpoint: str, commit: Callable[[DataFrame], None],
           available_now: bool):
    """Start ``query`` in append mode, calling ``commit`` on every
    non-empty micro-batch; ``available_now`` drains the backlog and
    stops (the batch-parity mode tests use)."""

    def each(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            commit(batch_df)

    writer = (
        query.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(each)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_stream_to_store(
    spark: SparkSession,
    pages_path: str,
    store: TableStore,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    with_sketches: bool = False,
):
    """foreachBatch sink: each micro-batch's tier rows are appended
    through the TableStore (Iceberg MERGE on a cluster; partitioned
    parquet append here) to the ``tier_1m_stream`` log.

    ``with_sketches``: additionally append one HLL distinct-url partial
    per finalized (bucket, lang) to ``sketch_1m_stream`` — an
    APPEND-ONLY partial log (never a streaming read-modify-write):
    sketches are mergeable, so the read path unions the log
    (``stream_sketch_estimate``, ``serve_frames``)."""

    def commit(batch_df: DataFrame) -> None:
        out = (batch_df.withColumn("bucket_day", F.to_date("bucket_start"))
               .withColumn("url_bucket", url_bucket("url")))
        out.persist()
        # through the TableStore so a cluster's foreachBatch appends to
        # the same Iceberg warehouse as the batch pipeline
        store.append(out, "tier_1m_stream", partition_by=["bucket_day"])
        if with_sketches:
            store.append(
                out.groupBy("bucket_start", "lang")
                .agg(F.hll_sketch_agg("url").alias("url_sketch"))
                .withColumn("bucket_day", F.to_date("bucket_start")),
                "sketch_1m_stream", partition_by=["bucket_day"],
            )
        out.unpersist()

    return _start(streaming_rollup_1m(read_pages_stream(spark, pages_path)),
                  checkpoint_dir, commit, trigger_available_now)


def stream_sketch_estimate(store: TableStore) -> DataFrame:
    """Merge-at-read over the streaming sketch partial log: distinct-url
    estimates per (bucket, lang) via hll_union_agg — correct however
    many micro-batches contributed partials for a bucket."""
    return (
        FAMILIES["sketch"].merge(store.read("sketch_1m_stream"))
        .drop("bucket_day")
        .withColumn("distinct_urls_est", F.hll_sketch_estimate("url_sketch"))
    )


def start_histogram_stream_to_store(
    spark: SparkSession,
    pages_path: str,
    store: TableStore,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
):
    """Streaming text-length HISTOGRAM partials — the distribution twin
    of the sketch partial log, so the freshest edge serves quantiles
    too.

    A watermarked 1m tumbling aggregation over (window, lang,
    leading-decimal-digit bucket of length(text)) — the exact bucket
    layout of the batch ``hist_1m`` tier (operators/histogram.py), so
    partials are losslessly mergeable with the stored cascade. Append
    output mode emits each finalized (window, lang, hb_lo) count once;
    foreachBatch appends it to the ``hist_1m_stream`` partial log.
    Counts are mergeable, so the read path sums the log
    (:func:`stream_histogram_counts`) and quantiles come from the
    merged counts via ``quantile_from_histogram`` — no streaming
    read-modify-write anywhere.

    Own checkpoint dir = own source progress; runs beside the tier
    stream like any second consumer of the pages feed.
    """
    from ..operators.histogram import decade_digit_bucket

    hist = (
        read_pages_stream(spark, pages_path)
        .withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", "1 minute").alias("win"),
            F.col("lang"),
            decade_digit_bucket(F.length("text").cast("long")).alias("hb_lo"),
        )
        .agg(F.count(F.lit(1)).alias("hb_count"))
        .select(
            F.col("win.start").cast("long").alias("bucket_epoch"),
            "lang", "hb_lo", "hb_count",
        )
    )
    return _start(
        hist, checkpoint_dir,
        lambda df: store.append(_epoch_day(df), "hist_1m_stream", partition_by=["bucket_day"]),
        trigger_available_now,
    )


def stream_histogram_counts(store: TableStore) -> DataFrame:
    """Merge-at-read over the streaming histogram partial log: exact
    per (bucket_epoch, lang, hb_lo) counts — correct however many
    micro-batches contributed partials for a bucket, and replay-safe
    (``FAMILIES["hist"]`` dedupes before summing). Feed the result
    straight to ``quantile_from_histogram`` for edge quantiles, or use
    ``serve_frames(store, "hist")`` for a seamless history+edge read."""
    return (
        FAMILIES["hist"].merge(store.read("hist_1m_stream"))
        .select("bucket_epoch", "lang", "hb_lo", "hb_count")
    )


def start_heavyhitter_stream_to_store(
    spark: SparkSession,
    pages_path: str,
    store: TableStore,
    checkpoint_dir: str,
    k: int = 20,
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
):
    """Streaming heavy-hitter partials — the last mergeable-summary
    family to get a streaming edge (tier counts, HLL sketches and
    histograms already have one): per finalized 1m window, a
    Misra-Gries-style top-k partial with truncation bounds
    (operators/heavyhitters.py) is appended to the ``hh_1m_stream``
    log (day-partitioned). The read path merges the log with
    ``topk_partial_merge`` — the identical merge the batch cascade
    uses, so edge and history compose."""
    from ..operators.heavyhitters import topk_partial_from_counts

    counts = (
        read_pages_stream(spark, pages_path)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 minute").alias("win"), F.col("url"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").cast("long").alias("bucket_epoch"),
            F.col("url").alias("key"),
            "cnt",
        )
    )
    return _start(
        counts, checkpoint_dir,
        lambda df: store.append(_epoch_day(topk_partial_from_counts(df, k)),
                                "hh_1m_stream", partition_by=["bucket_day"]),
        trigger_available_now,
    )


def stream_heavy_hitters(store: TableStore, parent_secs: int = 3600,
                         k: int = 20) -> DataFrame:
    """Heavy hitters over the streaming partial log, merged to
    ``parent_secs`` buckets — replay-safe via the same deterministic-
    duplicate distinct as the histogram log."""
    from ..operators.heavyhitters import topk_partial_merge

    log = store.read("hh_1m_stream").drop("bucket_day").distinct()
    return topk_partial_merge(log, parent_secs, k)


def prune_sketch_stream(store: TableStore, closed_before) -> list:
    """Drop sketch-log days the batch pipeline has re-derived (its
    ``sketch_1m`` tier is exact for committed days, so the stream
    partials are redundant there). Day-partitioned → metadata-only
    deletes. Returns pruned days."""
    if not store.exists("sketch_1m_stream"):
        return []
    cb = _day(closed_before)
    days = [
        r["bucket_day"]
        for r in store.read("sketch_1m_stream")
        .select("bucket_day").distinct().collect()
        if r["bucket_day"] < cb
    ]
    if days:
        store.delete_where_partition(
            "sketch_1m_stream", "bucket_day", [str(d) for d in days]
        )
    return days


def merge_batch_edge(batch: DataFrame, edge: DataFrame, bucket_col: str) -> DataFrame:
    """Per-bucket batch-wins union — THE history+edge serving primitive
    under ``serve_frames`` (and driver-certified directly by the
    ``serve_*_merge_events`` contract queries): the batch side is
    authoritative for every bucket value it covers (a batch run
    re-derives a covered bucket in FULL), the edge serves every other
    bucket — ingest gaps below the batch high-water included, and an
    existing-but-empty batch table serves the whole edge. The covered
    set is one row per closed bucket inside the fine tier's retention
    horizon (~0.5M rows/year) — broadcastable, so the fact-sized edge
    never shuffles."""
    covered = batch.select(bucket_col).distinct()
    return batch.unionByName(
        edge.join(F.broadcast(covered), bucket_col, "left_anti").select(batch.columns)
    )


def serve_frames(store: TableStore, family: str) -> dict[str, DataFrame]:
    """``{tier: DataFrame}`` of every stored ``<family>_<tier>`` table
    (``family`` is a ``FAMILIES`` key), the router's input. When the
    family's stream log exists, the finest tier is served history+edge:
    the batch ``<family>_1m`` and the merged log, per-bucket batch-wins
    (``merge_batch_edge``) over the columns both carry — or the merged
    log alone when no batch table is stored. Empty when the warehouse
    holds none of the family's tables."""
    fam = FAMILIES[family]
    frames = {t: store.read(f"{family}_{t}") for t in TIER_ORDER
              if store.exists(f"{family}_{t}")}
    log = f"{family}_{EDGE_TIER}_stream"
    if store.exists(log):
        edge = fam.merge(store.read(log))
        batch = frames.get(EDGE_TIER)
        if batch is not None:
            shared = [c for c in batch.columns if c in edge.columns]
            edge = merge_batch_edge(batch.select(shared), edge, fam.bucket)
        frames[EDGE_TIER] = edge
    return frames


def compact_edge(store: TableStore, family: str, closed_before=None) -> list:
    """Fold the CLOSED days of ``<family>_1m_stream`` into the batch
    ``<family>_1m`` table, then drop them from the log — the standard
    continuous-aggregate handoff (streaming keeps the edge fresh, batch
    owns the history; coarser tiers re-derive from the compacted days
    on the next batch run). The day's merged log rows replace the batch
    rows sharing their compaction grain; the other batch rows of the
    day stay. Dynamic partition overwrite, so a re-run is a no-op.
    Returns the compacted days.

    ``closed_before`` (date / naive-UTC datetime): only log days
    strictly BEFORE it move — pass the stream's watermark day while the
    stream is live, so the still-open day is never compacted out from
    under it. ``None`` moves every day (safe only with the stream
    stopped)."""
    fam = FAMILIES[family]
    if fam.grain is None:
        raise ValueError(f"the {family} edge is pruned, not compacted")
    name = f"{family}_{EDGE_TIER}"
    log = f"{name}_stream"
    if not store.exists(log):
        return []
    rows = fam.merge(store.read(log))
    if closed_before is not None:
        rows = rows.where(F.col("bucket_day") < F.lit(_day(closed_before)))
    days = [r["bucket_day"] for r in rows.select("bucket_day").distinct().collect()]
    if not days:
        return []
    if store.exists(name):
        keep = store.read(name).where(F.col("bucket_day").isin(days)).join(
            rows.select(*fam.grain).distinct(), list(fam.grain), "left_anti",
        )
        rows = rows.unionByName(keep.select(rows.columns))
    store.overwrite_partitions(
        store.cluster_for_write_hash(rows, ["bucket_day"], secondary="url_hash"),
        name, ["bucket_day"],
    )
    store.delete_where_partition(log, "bucket_day", [str(d) for d in days])
    return days


def streaming_sessions(
    events_stream: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization via the native ``F.session_window``
    state store — the streaming twin of operators/sessions.py, which
    derives identical boundaries as a batch window plan (parity is
    asserted in tests/test_streaming_sessions.py).

    Boundary alignment: the batch rule starts a new session when
    ``diff > gap`` (a gap of exactly ``gap_seconds`` still merges);
    ``session_window`` merges when the next event's start lies within
    the CLOSED interval ``[start, prev + gap]`` — i.e. ``diff <= gap``,
    the identical inclusive boundary (asserted by the exact-gap case in
    tests/test_streaming_sessions.py).

    In append output mode a session row is emitted exactly once, when
    the event-time watermark passes its close — so downstream tables
    receive only finalized sessions (late rows inside the watermark
    re-open and re-merge state; rows beyond it are dropped, T3 policy,
    and the batch pipeline re-derives exact history on its next run).

    Scale: session state lives in the state store partitioned by key —
    the same keyed-state shape as the streaming fold; skewed keys cost
    one hot state partition, bounded by the per-key session count in
    the watermark horizon, not by history.
    """
    w = events_stream.withWatermark(ts, watermark)
    return (
        w.groupBy(
            F.session_window(F.col(ts), f"{gap_seconds} seconds").alias("sw"),
            F.col(key),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            F.col("n_events"),
        )
    )


def streaming_dedupe(
    events_stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event admission: drop re-deliveries of the same
    logical event key inside the watermark horizon —
    ``withWatermark().dropDuplicates()``, the native keyed-state dedup
    (the streaming twin of the batch last-wins dedupe P2 family).

    Semantics: FIRST arrival wins; duplicates arriving within
    ``watermark`` of the event time are dropped; a duplicate arriving
    later than the watermark may pass (state for its key was evicted) —
    the standard bounded-state trade; the batch pipeline's idempotent
    partition overwrite re-canonicalizes history on its next run (same
    contract as the T3 late-data policy).

    Scale: state is one entry per key inside the horizon, partitioned
    by key hash across the state store — bounded by arrival rate x
    horizon, not history.
    """
    return events_stream.withWatermark(ts_col, watermark).dropDuplicates(key_cols)
