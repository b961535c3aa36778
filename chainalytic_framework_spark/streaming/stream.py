"""Structured Streaming ingestion: the reference's realtime tail.

Reference analogue: the aggregator poll loop + RPC tail fetch
(``/root/reference/src/chainalytic/aggregator/__main__.py:80-142``,
``zones/.../upstream/data_feeder.py:101-111`` — "height not yet
available" ≡ no new files). Here: ``readStream`` over the pages
directory (or Iceberg/Kafka source on a cluster), event-time tumbling
windows with a watermark for late data (T3), and ``foreachBatch``
committing through the same TableStore + manifest path as the batch
pipeline — one code path for micro-batch and backfill.

The 1m tier is maintained streaming-side; coarser tiers remain batch
cascade jobs over committed 1m partitions (the standard continuous-
aggregate split: streaming keeps the edge fresh, batch re-derives
the heavy history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bucketing import url_bucket
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
    parquet append here). availableNow=True drains the backlog and
    stops — the batch-parity mode used by tests.

    ``with_sketches``: additionally append one HLL distinct-url partial
    per finalized (bucket, lang) — an APPEND-ONLY partial log (never a
    streaming read-modify-write): sketches are mergeable, so the read
    path unions the log (``stream_sketch_estimate``), and the batch
    cascade compacts it, exactly like the numeric-measure split."""
    stream = streaming_rollup_1m(read_pages_stream(spark, pages_path))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
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

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(commit_batch)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sketch_estimate(store: TableStore) -> DataFrame:
    """Merge-at-read over the streaming sketch partial log: distinct-url
    estimates per (bucket, lang) via hll_union_agg — correct however
    many micro-batches contributed partials for a bucket."""
    return (
        store.read("sketch_1m_stream")
        .groupBy("bucket_start", "lang")
        .agg(F.hll_union_agg("url_sketch").alias("url_sketch"))
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
    of the sketch partial log, closing the gap where the freshest edge
    could serve counts/sums and distinct estimates but not quantiles.

    A watermarked 1m tumbling aggregation over (window, lang,
    leading-decimal-digit bucket of length(text)) — the exact bucket
    layout of the batch ``hist_1m`` tier (operators/histogram.py), so
    partials are losslessly mergeable with the stored cascade. Append
    output mode emits each finalized (window, lang, hb_lo) count once;
    foreachBatch appends it to the ``hist_1m_stream`` partial log via
    the TableStore (same Iceberg/parquet unification as the tier rows).
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

    def commit_hist(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = batch_df.withColumn(
            "bucket_day", F.to_date(F.col("bucket_epoch").cast("timestamp"))
        )
        store.append(out, "hist_1m_stream", partition_by=["bucket_day"])

    writer = (
        hist.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(commit_hist)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_histogram_counts(store: TableStore) -> DataFrame:
    """Merge-at-read over the streaming histogram partial log: exact
    per (bucket_epoch, lang, hb_lo) counts — correct however many
    micro-batches contributed partials for a bucket. The ``distinct``
    guard makes the read REPLAY-SAFE: a crash between foreachBatch's
    append and the checkpoint commit re-appends a finalized window's
    rows, and finalized windows are deterministic, so replayed rows are
    byte-identical duplicates (the same argument
    ``compact_stream_into_batch`` uses for tier rows) — counts, unlike
    HLL unions, are NOT idempotent, so without this a crash would
    double the affected buckets. Feed the result straight to
    ``quantile_from_histogram`` for edge quantiles, or through
    ``serve_distribution`` for a seamless history+edge read."""
    return (
        store.read("hist_1m_stream")
        .distinct()
        .groupBy("bucket_epoch", "lang", "hb_lo")
        .agg(F.sum("hb_count").alias("hb_count"))
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

    def commit_hh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = topk_partial_from_counts(batch_df, k).withColumn(
            "bucket_day", F.to_date(F.col("bucket_epoch").cast("timestamp"))
        )
        store.append(out, "hh_1m_stream", partition_by=["bucket_day"])

    writer = (
        counts.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(commit_hh)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    cb = closed_before.date() if hasattr(closed_before, "date") else closed_before
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


def compact_hist_stream_into_batch(store: TableStore, closed_before=None) -> list:
    """Fold CLOSED days of the streaming histogram partial log into the
    batch ``hist_1m`` tier — the distribution twin of
    ``compact_stream_into_batch``: merge the day's partials (dedupe
    replay duplicates, sum per bucket), union with any existing batch
    rows for those days OUTSIDE the stream's buckets (batch re-derives
    win inside them), dynamic-partition-overwrite the days, then drop
    them from the log. Idempotent; returns the compacted day list."""
    if not store.exists("hist_1m_stream"):
        return []
    log = store.read("hist_1m_stream").distinct()
    if closed_before is not None:
        cb = closed_before.date() if hasattr(closed_before, "date") else closed_before
        log = log.where(F.col("bucket_day") < F.lit(cb))
    days = [r["bucket_day"] for r in log.select("bucket_day").distinct().collect()]
    if not days:
        return []
    merged = (
        log.groupBy("bucket_day", "bucket_epoch", "lang", "hb_lo")
        .agg(F.sum("hb_count").alias("hb_count"))
        .select("lang", "bucket_epoch", "hb_lo", "hb_count", "bucket_day")
    )
    if store.exists("hist_1m"):
        existing = store.read("hist_1m").where(F.col("bucket_day").isin(days))
        keep = existing.join(
            merged.select("bucket_epoch", "lang", "hb_lo").distinct(),
            ["bucket_epoch", "lang", "hb_lo"], "left_anti",
        )
        merged = merged.unionByName(keep.select(merged.columns))
    store.overwrite_partitions(merged, "hist_1m", ["bucket_day"])
    store.delete_where_partition("hist_1m_stream", "bucket_day", [str(d) for d in days])
    return days


def merge_batch_edge(batch: DataFrame, edge: DataFrame, bucket_col: str) -> DataFrame:
    """Per-bucket batch-wins union — THE history+edge serving primitive
    shared by ``serve_tier`` / ``serve_distribution`` / ``serve_distinct``
    (and driver-certified directly by the ``serve_*_merge_events``
    contract queries): the batch side is authoritative for every bucket
    value it covers (a batch run re-derives a covered bucket in FULL),
    the edge serves every other bucket. The covered set is one row per
    closed bucket inside the fine tier's retention horizon (~0.5M
    rows/year) — broadcastable, so the fact-sized edge never shuffles."""
    covered = batch.select(bucket_col).distinct()
    return batch.unionByName(
        edge.join(F.broadcast(covered), bucket_col, "left_anti").select(batch.columns)
    )


def serve_distribution(store: TableStore, series_cols=("lang",)) -> DataFrame:
    """Seamless history+edge distribution read: the stored batch
    ``hist_1m`` tier is authoritative for every bucket it COVERS (batch
    re-derives a covered bucket in full), and the streaming partial log
    serves every other bucket — batch-wins rides in as a broadcast
    anti-join on the batch's distinct bucket set, so overlap (a stream
    day later re-derived by the batch pipeline) can never double-count.
    ADVICE r3 fix: the previous single global-max cutoff silently
    dropped stream partials below the high-water that batch never
    covered (ingest gap), and an existing-but-empty ``hist_1m`` (null
    high-water) dropped the whole streaming edge; per-bucket coverage
    handles both. The covered set is one row per closed 1m bucket
    inside the fine tier's retention horizon (~0.5M rows/year —
    broadcastable; history beyond the horizon serves from coarser
    tiers via the router). Output: (series..., bucket_epoch, hb_lo,
    hb_count) — feed straight to ``quantile_from_histogram``.
    """
    cols = [*series_cols, "bucket_epoch", "hb_lo", "hb_count"]
    have_batch = store.exists("hist_1m")
    have_stream = store.exists("hist_1m_stream")
    if not have_batch and not have_stream:
        raise ValueError("no hist_1m or hist_1m_stream in store")
    if have_batch and not have_stream:
        return store.read("hist_1m").select(*cols)
    stream_part = stream_histogram_counts(store).select(*cols)
    if not have_batch:
        return stream_part
    batch = store.read("hist_1m").select(*cols)
    return merge_batch_edge(batch, stream_part, "bucket_epoch")


def serve_distinct(store: TableStore) -> DataFrame:
    """Seamless history+edge DISTINCT-count read — the sketch twin of
    ``serve_distribution``/``serve_tier``: the batch ``sketch_1m`` tier
    is authoritative for buckets it covers; the streaming sketch
    partial log serves the rest (per-bucket batch-wins anti-join).
    Output: (bucket_start, lang, url_sketch, distinct_urls_est) —
    partials stay MERGEABLE, so callers can keep unioning upward
    (``read_routed_distinct``) before estimating.

    The stream side unions its per-micro-batch partials per bucket
    first (hll_union_agg is idempotent over replayed byte-identical
    partials — stronger than the count logs, no distinct needed)."""
    have_b, have_s = store.exists("sketch_1m"), store.exists("sketch_1m_stream")
    if not have_b and not have_s:
        raise ValueError("no sketch_1m or sketch_1m_stream in store")
    cols = ["bucket_start", "lang", "url_sketch"]
    batch = store.read("sketch_1m").select(*cols) if have_b else None
    if not have_s:
        merged = batch
    else:
        edge = (
            store.read("sketch_1m_stream")
            .groupBy("bucket_start", "lang")
            .agg(F.hll_union_agg("url_sketch").alias("url_sketch"))
            .select(*cols)
        )
        if batch is None:
            merged = edge
        else:
            merged = merge_batch_edge(batch, edge, "bucket_start")
    return merged.withColumn(
        "distinct_urls_est", F.hll_sketch_estimate("url_sketch")
    )


def serve_tier(store: TableStore, tier: str = "1m") -> DataFrame:
    """Seamless history+edge NUMERIC tier read — the tier-table twin of
    ``serve_distribution``: the batch ``tier_<t>`` table is
    authoritative for every bucket it covers (a batch run re-derives a
    covered bucket in full), and the streaming log serves every other
    bucket via a broadcast anti-join on the batch's distinct bucket set
    (per-bucket batch-wins: ingest gaps below the batch high-water
    serve from the stream, an empty batch table serves the whole edge —
    the serve_distribution ADVICE-r3 semantics from day one).

    Stream rows are watermark-finalized windows, so replay duplicates
    after a crash are byte-identical — ``distinct`` makes the read
    replay-safe (same argument as ``compact_stream_into_batch``).
    Output schema = the batch tier's columns; feed it to ``read_routed``
    as the finest tier for a history+edge routed range."""
    name, sname = f"tier_{tier}", f"tier_{tier}_stream"
    have_b, have_s = store.exists(name), store.exists(sname)
    if not have_b and not have_s:
        raise ValueError(f"no {name} or {sname} in store")
    if have_b and not have_s:
        return store.read(name)
    stream = store.read(sname).distinct()
    if not have_b:
        return stream
    return merge_batch_edge(store.read(name), stream, "bucket_start")


def compact_stream_into_batch(store: TableStore, closed_before=None) -> list:
    """Fold the streaming edge into the batch history: move the stream
    table's CLOSED days into ``tier_1m`` (idempotent dynamic partition
    overwrite, deduped — a crash between foreachBatch's write and the
    checkpoint commit can double-append a finalized window, and
    finalized windows are deterministic so ``distinct`` is exact), then
    drop those days from the stream table. Coarser tiers re-derive from
    the compacted 1m partitions on the next batch run — the standard
    continuous-aggregate handoff (streaming keeps the edge fresh, batch
    owns the heavy history). Returns the compacted day list.

    ``closed_before`` (date / naive-UTC datetime): only stream days
    strictly BEFORE it move — pass the stream's watermark day while the
    stream is live, so the still-open day is never compacted out from
    under it. ``None`` moves every day (safe only with the stream
    stopped)."""
    if not store.exists("tier_1m_stream"):
        return []
    stream_rows = store.read("tier_1m_stream").distinct()
    if closed_before is not None:
        cb = closed_before.date() if hasattr(closed_before, "date") else closed_before
        stream_rows = stream_rows.where(F.col("bucket_day") < F.lit(cb))
    days = [r["bucket_day"] for r in stream_rows.select("bucket_day").distinct().collect()]
    if not days:
        return []
    merged = stream_rows
    if store.exists("tier_1m"):
        existing = store.read("tier_1m").where(F.col("bucket_day").isin(days))
        # stream rows win inside their days (freshest edge), but a
        # conflict is the FULL tier grain — (bucket_start, url_hash,
        # url, lang) — not just (bucket_start, url_hash): lang can flap
        # between crawls of one url, and anti-joining on the short key
        # would silently drop the batch row of the other lang variant
        grain = [c for c in ("bucket_start", "url_hash", "url", "lang")
                 if c in stream_rows.columns]
        keep = existing.join(
            stream_rows.select(*grain).distinct(), grain, "left_anti",
        )
        merged = stream_rows.unionByName(keep.select(stream_rows.columns))
    store.overwrite_partitions(
        store.cluster_for_write_hash(merged, ["bucket_day"], secondary="url_hash"),
        "tier_1m", ["bucket_day"],
    )
    store.delete_where_partition("tier_1m_stream", "bucket_day", [str(d) for d in days])
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
