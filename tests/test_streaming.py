"""Structured Streaming ingestion: availableNow drain produces the same
1m tier as the batch rollup (streaming/batch parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.fold import prepare_observations
from chainalytic_framework_spark.operators.registry import DEFAULT_SET, rollup_with_spec
from chainalytic_framework_spark.streaming.stream import start_stream_to_store, streaming_rollup_1m
from chainalytic_framework_spark.synth import generate_pages
from chainalytic_framework_spark.tables import TableStore


def test_stream_drain_matches_batch(spark, tmp_path):
    pages = generate_pages(spark, 2000)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))

    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"), trigger_available_now=True
    )
    q.awaitTermination(300)

    # append mode only emits CLOSED windows: buckets newer than
    # (max event time − watermark) legitimately stay pending at drain
    # end — compare the closed region only (T3 late-data policy).
    raw = spark.read.parquet(src)
    horizon = raw.agg(F.max("warc_ts")).first()[0] - __import__("datetime").timedelta(minutes=11)
    got = (
        store.read("tier_1m_stream").drop("bucket_day", "url_bucket")
        .where(F.col("bucket_start") < F.lit(horizon))
    )
    exp = rollup_with_spec(prepare_observations(raw), DEFAULT_SET, "1m").where(F.col("bucket_start") < F.lit(horizon))
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # restarting against the same checkpoint re-processes nothing
    n_before = store.read("tier_1m_stream").count()
    q2 = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"), trigger_available_now=True
    )
    q2.awaitTermination(300)
    assert store.read("tier_1m_stream").count() == n_before


def test_stream_measures_match_batch_types(spark, tmp_path):
    """The stream's 1m rows carry the batch tier's columns, in the batch
    order and with the batch types — the registry's DEFAULT_SET is the
    one definition of the measures both use."""
    pages = generate_pages(spark, 200)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    stream = streaming_rollup_1m(spark.readStream.schema(pages.schema).parquet(src))
    batch = rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1m")

    def typed(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert typed(stream) == typed(batch)


@pytest.mark.parametrize("first", ["pipeline", "stream"])
def test_stream_compacted_into_pipeline_tier_stays_readable(spark, tmp_path, first):
    """A warehouse fed by both run_pipeline and the stream, with stream
    rows compacted into the tier's EARLIEST day: ``tier_1m`` must stay
    readable in full (one parquet type per column across every day's
    files) and equal the batch rollup of both inputs. ``pipeline``
    builds the tier first; ``stream`` starts the tier from the stream
    and extends it with the pipeline's later days."""
    import datetime as dt

    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.streaming.stream import compact_edge

    pages = generate_pages(spark, 2000).cache()
    d0 = pages.agg(F.min(F.to_date("warc_ts"))).first()[0]
    batch_pages = pages if first == "pipeline" else pages.where(F.to_date("warc_ts") > d0)
    store = TableStore(spark, str(tmp_path / "wh"))
    if first == "pipeline":
        run_pipeline(spark, batch_pages, store, with_fold=False)

    # stream pages: fresh urls (no grain overlap with the batch rows) in
    # the first half of day d0, plus one late sentinel page that
    # advances the watermark past all of them; only the sentinel's own
    # window is still open when the drain ends
    t0 = dt.datetime.combine(d0, dt.time())
    edge = generate_pages(
        spark, 300, seed=7, t0=str(t0), t1=str(t0 + dt.timedelta(hours=12)),
    ).withColumn("url", F.concat(F.lit("stream:"), "url"))
    sentinel = edge.limit(1).select(
        F.lit("stream:sentinel").alias("url"),
        F.lit(t0 + dt.timedelta(hours=23, minutes=59)).alias("warc_ts"),
        "html", "text", "lang",
    )
    src = str(tmp_path / "edge_src")
    edge.unionByName(sentinel).write.mode("overwrite").parquet(src)
    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(300)
    assert compact_edge(store, "tier") == [d0]
    if first == "stream":
        run_pipeline(spark, batch_pages, store, with_fold=False)

    got = store.read("tier_1m").drop("bucket_day", "url_bucket")
    streamed = spark.read.parquet(src).where(F.col("url") != "stream:sentinel")
    exp = rollup_with_spec(
        prepare_observations(batch_pages.unionByName(streamed)), DEFAULT_SET, "1m",
    ).select(got.columns)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_stream_sketch_partials_match_exact(spark, tmp_path):
    """Streaming HLL partial log, merged at read, must estimate the
    exact per-bucket distinct-url counts within the sketch bound."""
    pages = generate_pages(spark, 2000)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))

    from chainalytic_framework_spark.streaming.stream import stream_sketch_estimate

    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True, with_sketches=True,
    )
    q.awaitTermination(300)

    est = stream_sketch_estimate(store)
    raw = spark.read.parquet(src)
    horizon = raw.agg(F.max("warc_ts")).first()[0] - __import__("datetime").timedelta(minutes=11)
    exact = (
        raw.select(
            F.timestamp_seconds((F.col("warc_ts").cast("long") / 60).cast("long") * 60)
            .alias("bucket_start"),
            "lang",
            "url",
        )
        .groupBy("bucket_start", "lang")
        .agg(F.count_distinct("url").alias("exact"))
        .where(F.col("bucket_start") < F.lit(horizon))
    )
    j = est.join(exact, ["bucket_start", "lang"])
    bad = j.where(
        (F.abs(F.col("distinct_urls_est") - F.col("exact")) > 5)
        & (F.abs(F.col("distinct_urls_est") - F.col("exact")) / F.col("exact") > 0.05)
    )
    assert j.count() > 0
    assert bad.count() == 0


def test_compact_stream_into_batch_matches_batch_rollup(spark, tmp_path):
    """Drain a stream, compact into tier_1m: the compacted region must
    equal the batch rollup of the same input, and the stream table must
    be empty afterwards (handoff complete)."""
    from chainalytic_framework_spark.streaming.stream import compact_edge

    pages = generate_pages(spark, 2000)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))
    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"), trigger_available_now=True
    )
    q.awaitTermination(300)

    days = compact_edge(store, "tier")
    assert days
    assert not store.exists("tier_1m_stream")  # partitions dropped

    raw = spark.read.parquet(src)
    horizon = raw.agg(F.max("warc_ts")).first()[0] - __import__("datetime").timedelta(minutes=11)
    got = (
        store.read("tier_1m").drop("bucket_day", "url_bucket", "tier", "gap_filled")
        .where(F.col("bucket_start") < F.lit(horizon))
    )
    exp = (
        rollup_with_spec(prepare_observations(raw), DEFAULT_SET, "1m").drop("tier", "gap_filled")
        .where(F.col("bucket_start") < F.lit(horizon))
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # idempotent: compacting again is a no-op
    assert compact_edge(store, "tier") == []


def test_stream_histogram_partials_match_batch(spark, tmp_path):
    """Streaming histogram partial log, merged at read, must equal the
    batch histogram_rollup over the finalized region exactly — counts
    are mergeable integers, so parity is equality, not an estimate
    bound. This is the quantile-serving edge (VERDICT r2 #7)."""
    import datetime as dt

    from chainalytic_framework_spark.operators.histogram import (
        histogram_rollup,
        quantile_from_histogram,
    )
    from chainalytic_framework_spark.streaming.stream import (
        start_histogram_stream_to_store,
        stream_histogram_counts,
    )

    pages = generate_pages(spark, 2000)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))

    q = start_histogram_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_hist"),
        trigger_available_now=True,
    )
    q.awaitTermination(300)

    raw = spark.read.parquet(src)
    horizon = (
        raw.agg(F.max("warc_ts")).first()[0] - dt.timedelta(minutes=11)
    ).timestamp()
    got = stream_histogram_counts(store).where(F.col("bucket_epoch") < F.lit(int(horizon)))
    be = (F.col("warc_ts").cast("long") / 60).cast("long") * 60
    exp = histogram_rollup(raw, be, ["lang"], F.length("text").cast("long")).where(
        F.col("bucket_epoch") < F.lit(int(horizon))
    ).select("bucket_epoch", "lang", "hb_lo", "hb_count")
    got = got.select("bucket_epoch", "lang", "hb_lo", "hb_count")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # and the merged partials serve a quantile read directly
    p90 = quantile_from_histogram(
        stream_histogram_counts(store), ["lang"], 90, out_col="p90_lo"
    )
    assert p90.count() > 0


def test_serve_distribution_history_plus_edge(spark, tmp_path):
    """Batch hist tier for the older days + streaming partials for the
    newest day must merge into exactly the full-corpus histogram over
    the finalized region, with no double count at the boundary."""
    import datetime as dt

    from chainalytic_framework_spark.operators.histogram import histogram_rollup
    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.streaming.stream import (
        serve_frames,
        start_histogram_stream_to_store,
    )

    pages = generate_pages(spark, 3000).cache()
    split_day = pages.agg(F.max(F.to_date("warc_ts"))).first()[0]
    hist_part = pages.where(F.to_date("warc_ts") < F.lit(split_day))
    edge_part = pages.where(F.to_date("warc_ts") >= F.lit(split_day))
    assert hist_part.count() > 0 and edge_part.count() > 0

    store = TableStore(spark, str(tmp_path / "wh"))
    run_pipeline(spark, hist_part, store, with_fold=False, with_histograms=True)
    src = str(tmp_path / "edge_src")
    edge_part.write.mode("overwrite").parquet(src)
    q = start_histogram_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(300)

    horizon = int(
        (pages.agg(F.max("warc_ts")).first()[0] - dt.timedelta(minutes=11)).timestamp()
    )
    got = (
        serve_frames(store, "hist")["1m"]
        .where(F.col("bucket_epoch") < horizon)
        .groupBy("lang", "bucket_epoch", "hb_lo")
        .agg(F.sum("hb_count").alias("hb_count"))
    )
    be = (F.col("warc_ts").cast("long") / 60).cast("long") * 60
    exp = histogram_rollup(pages, be, ["lang"], F.length("text").cast("long")).where(
        F.col("bucket_epoch") < horizon
    )
    cols = ["lang", "bucket_epoch", "hb_lo", "hb_count"]
    assert got.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(got.select(cols)).count() == 0


def test_throughput_report_and_eta(spark, tmp_path):
    """Monitoring path (§3.3): per-tier watermark + speed from the
    manifest; ETA = remaining bucket time / recent rate."""
    import datetime as dt

    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.queries import eta_to_target, throughput_report

    pages = generate_pages(spark, 2000)
    store = TableStore(spark, str(tmp_path / "wh"))
    run_pipeline(spark, pages, store, with_fold=True)
    rep = {r["tier"]: r for r in throughput_report(store.read("checkpoints")).collect()}
    assert "1m" in rep and rep["1m"]["total_rows_out"] > 0
    assert rep["1m"]["last_docs_per_sec"] > 0
    hw = rep["1m"]["high_water"]

    eta = eta_to_target(
        store.read("checkpoints"), "1m", hw + dt.timedelta(days=2)
    ).first()
    assert eta["bucket_seconds_remaining"] == 2 * 86400
    assert eta["eta_seconds"] > 0
    done = eta_to_target(store.read("checkpoints"), "1m", hw).first()
    assert done["bucket_seconds_remaining"] == 0 and done["eta_seconds"] == 0.0


def test_replay_double_append_is_deduped(spark, tmp_path):
    """Crash-replay simulation: re-appending a finalized micro-batch's
    rows must not change (a) compacted tier contents, (b) merged
    histogram counts — both reads dedupe deterministic duplicates."""
    from chainalytic_framework_spark.streaming.stream import (
        compact_edge,
        start_histogram_stream_to_store,
        stream_histogram_counts,
    )

    pages = generate_pages(spark, 1500)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))

    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_t"),
        trigger_available_now=True,
    )
    q.awaitTermination(300)
    qh = start_histogram_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt_h"),
        trigger_available_now=True,
    )
    qh.awaitTermination(300)

    hist_before = {
        (r["bucket_epoch"], r["lang"], r["hb_lo"]): r["hb_count"]
        for r in stream_histogram_counts(store).collect()
    }

    # replay: duplicate a slice of both logs (what a crash between the
    # sink write and the checkpoint commit produces)
    dup_tier = store.read("tier_1m_stream").limit(50)
    store.append(dup_tier, "tier_1m_stream", partition_by=["bucket_day"])
    dup_hist = store.read("hist_1m_stream").limit(50)
    store.append(dup_hist, "hist_1m_stream")

    hist_after = {
        (r["bucket_epoch"], r["lang"], r["hb_lo"]): r["hb_count"]
        for r in stream_histogram_counts(store).collect()
    }
    assert hist_after == hist_before

    days = compact_edge(store, "tier")
    assert days
    batch = store.read("tier_1m").drop("bucket_day", "url_bucket")
    # every (bucket, url, lang) appears exactly once after compaction
    dupes = (
        batch.groupBy("bucket_start", "url_hash", "url", "lang")
        .count().where(F.col("count") > 1)
    )
    assert dupes.count() == 0


def test_compact_hist_stream_into_batch(spark, tmp_path):
    """Closed stream-histogram days fold into hist_1m exactly (vs batch
    histogram_rollup), survive replay duplicates, and compaction is
    idempotent; the merged history+edge read keeps working afterward."""
    from chainalytic_framework_spark.operators.histogram import histogram_rollup
    from chainalytic_framework_spark.streaming.stream import (
        compact_edge,
        serve_frames,
        start_histogram_stream_to_store,
    )

    pages = generate_pages(spark, 2000).cache()
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))
    q = start_histogram_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(300)
    # replay-inject duplicates before compaction
    store.append(store.read("hist_1m_stream").limit(30), "hist_1m_stream",
                 partition_by=["bucket_day"])

    last_day = store.read("hist_1m_stream").agg(
        F.max("bucket_day")).first()[0]
    days = compact_edge(store, "hist", closed_before=last_day)
    assert days and last_day not in days

    be = (F.col("warc_ts").cast("long") / 60).cast("long") * 60
    exp = histogram_rollup(
        pages.where(F.to_date("warc_ts").isin(days)),
        be, ["lang"], F.length("text").cast("long"),
    )
    got = store.read("hist_1m").where(F.col("bucket_day").isin(days)).drop("bucket_day")
    cols = ["lang", "bucket_epoch", "hb_lo", "hb_count"]
    assert got.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(got.select(cols)).count() == 0

    # log no longer holds the compacted days; a second compaction of the
    # same horizon is a no-op; the merged read still serves
    assert store.read("hist_1m_stream").where(
        F.col("bucket_day").isin(days)).count() == 0
    assert compact_edge(store, "hist", closed_before=last_day) == []
    assert serve_frames(store, "hist")["1m"].count() > 0


def test_prune_sketch_stream(spark, tmp_path):
    from chainalytic_framework_spark.streaming.stream import (
        compact_edge,
        prune_sketch_stream,
        stream_sketch_estimate,
    )

    pages = generate_pages(spark, 1500)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))
    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True, with_sketches=True,
    )
    q.awaitTermination(300)
    all_days = sorted(
        r["bucket_day"] for r in
        store.read("sketch_1m_stream").select("bucket_day").distinct().collect()
    )
    assert len(all_days) >= 2
    pruned = prune_sketch_stream(store, closed_before=all_days[-1])
    assert sorted(pruned) == all_days[:-1]
    remaining = {r["bucket_day"] for r in
                 store.read("sketch_1m_stream").select("bucket_day").distinct().collect()}
    assert remaining == {all_days[-1]}
    assert stream_sketch_estimate(store).count() > 0  # still serves the edge
    with pytest.raises(ValueError, match="pruned"):  # sketches are not compacted
        compact_edge(store, "sketch")


def test_stream_heavy_hitters_match_batch(spark, tmp_path):
    """Drained streaming heavy-hitter partials, merged at 1h, must
    equal the batch partial rollup + merge over the finalized region
    (identical merge code → parity is exact rows), and survive
    replay-injected duplicates."""
    import datetime as dt

    from chainalytic_framework_spark.operators.heavyhitters import (
        topk_partial_merge,
        topk_partial_rollup,
    )
    from chainalytic_framework_spark.streaming.stream import (
        start_heavyhitter_stream_to_store,
        stream_heavy_hitters,
    )

    pages = generate_pages(spark, 2500).cache()
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "wh"))
    q = start_heavyhitter_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"), k=10,
        trigger_available_now=True,
    )
    q.awaitTermination(300)
    # replay injection
    store.append(store.read("hh_1m_stream").limit(20), "hh_1m_stream",
                 partition_by=["bucket_day"])

    horizon = int(
        (pages.agg(F.max("warc_ts")).first()[0] - dt.timedelta(minutes=11)).timestamp()
    )
    got = (
        stream_heavy_hitters(store, parent_secs=3600, k=10)
        .where(F.col("bucket_epoch") < (horizon // 3600) * 3600)
    )
    be = (F.col("warc_ts").cast("long") / 60).cast("long") * 60
    finalized = pages.where(F.col("warc_ts").cast("long") < F.lit(horizon))
    exp = topk_partial_merge(
        topk_partial_rollup(finalized, be, "url", 10), 3600, 10
    ).where(F.col("bucket_epoch") < (horizon // 3600) * 3600)
    cols = ["bucket_epoch", "key", "cnt_lb", "err", "exact"]
    assert got.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(got.select(cols)).count() == 0
    assert got.count() > 0


def test_serve_distribution_ingest_gap_and_empty_batch(spark, tmp_path):
    """ADVICE r3: stream partials for buckets BELOW the batch high-water
    that batch never covered (ingest gap) must serve from the stream;
    an existing-but-empty batch table must serve the full stream, not
    drop it on a null high-water."""
    import datetime as dt

    from chainalytic_framework_spark.streaming.stream import serve_frames

    schema = ("lang string, bucket_epoch long, hb_lo long, hb_count long, "
              "bucket_day date")
    day = dt.date(2026, 1, 1)
    # batch covers buckets 60 and 180; the stream has 120 (the gap,
    # below batch max) and 240 (the fresh edge) plus an overlap at 180
    batch_rows = [("en", 60, 0, 5, day), ("en", 180, 0, 7, day)]
    stream_rows = [("en", 120, 0, 3, day), ("en", 240, 0, 4, day),
                   ("en", 180, 0, 999, day)]
    store = TableStore(spark, str(tmp_path / "wh"))
    store.write(spark.createDataFrame(batch_rows, schema), "hist_1m",
                partition_by=["bucket_day"])
    store.append(spark.createDataFrame(stream_rows, schema), "hist_1m_stream",
                 partition_by=["bucket_day"])

    got = {(r["bucket_epoch"], r["hb_count"])
           for r in serve_frames(store, "hist")["1m"].collect()}
    # 60/180 from batch (overlap partial at 180 discarded), 120 and 240
    # from the stream
    assert got == {(60, 5), (180, 7), (120, 3), (240, 4)}

    # empty batch table present -> whole stream serves
    store2 = TableStore(spark, str(tmp_path / "wh2"))
    store2.write(spark.createDataFrame([], schema), "hist_1m",
                 partition_by=["bucket_day"])
    store2.append(spark.createDataFrame(stream_rows, schema), "hist_1m_stream",
                  partition_by=["bucket_day"])
    got2 = {(r["bucket_epoch"], r["hb_count"])
            for r in serve_frames(store2, "hist")["1m"].collect()}
    assert got2 == {(120, 3), (240, 4), (180, 999)}


def test_serve_tier_history_plus_edge(spark, tmp_path):
    """Numeric tier family through serve_frames: batch days + stream edge
    merge into the full-corpus 1m rollup over the finalized region, with
    per-bucket batch-wins (no double count, ingest gaps covered)."""
    import datetime as dt

    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.streaming.stream import (
        serve_frames,
        start_stream_to_store,
    )

    pages = generate_pages(spark, 3000).cache()
    split_day = pages.agg(F.max(F.to_date("warc_ts"))).first()[0]
    hist_part = pages.where(F.to_date("warc_ts") < F.lit(split_day))
    edge_part = pages.where(F.to_date("warc_ts") >= F.lit(split_day))

    store = TableStore(spark, str(tmp_path / "wh"))
    run_pipeline(spark, hist_part, store, with_fold=False)
    src = str(tmp_path / "edge_src")
    edge_part.write.mode("overwrite").parquet(src)
    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(300)

    horizon = int(
        (pages.agg(F.max("warc_ts")).first()[0] - dt.timedelta(minutes=11)).timestamp()
    )
    frames = serve_frames(store, "tier")
    assert set(frames) == {"1m", "1h", "1d", "30d"}  # every stored tier
    got = (
        frames["1m"]
        .where(F.col("bucket_start").cast("long") < horizon)
        .groupBy("url", "bucket_start")
        .agg(F.sum("point_count").alias("pc"), F.sum("byte_size").alias("bs"))
    )
    exp = (
        pages.where(F.col("warc_ts").cast("long") < horizon + 60)
        .groupBy(
            "url",
            ((F.col("warc_ts").cast("long") / 60).cast("long") * 60)
            .cast("timestamp").alias("bucket_start"),
        )
        .agg(F.count(F.lit(1)).alias("pc"),
             F.sum(F.octet_length("html")).alias("bs"))
        .where(F.col("bucket_start").cast("long") < horizon)
    )
    cols = ["url", "bucket_start", "pc", "bs"]
    assert got.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(got.select(cols)).count() == 0


def test_serve_distinct_history_plus_edge(spark, tmp_path):
    """Sketch family through serve_frames: batch sketch days + streaming sketch
    edge estimate the full-corpus per-bucket distinct urls within HLL
    error, with per-bucket batch-wins."""
    import datetime as dt

    from chainalytic_framework_spark.operators.sketches import with_estimate
    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.streaming.stream import (
        serve_frames,
        start_stream_to_store,
    )

    pages = generate_pages(spark, 3000).cache()
    split_day = pages.agg(F.max(F.to_date("warc_ts"))).first()[0]
    hist_part = pages.where(F.to_date("warc_ts") < F.lit(split_day))
    edge_part = pages.where(F.to_date("warc_ts") >= F.lit(split_day))

    store = TableStore(spark, str(tmp_path / "wh"))
    run_pipeline(spark, hist_part, store, with_fold=False, with_sketches=True)
    src = str(tmp_path / "edge_src")
    edge_part.write.mode("overwrite").parquet(src)
    q = start_stream_to_store(
        spark, src, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True, with_sketches=True,
    )
    q.awaitTermination(300)

    horizon = int(
        (pages.agg(F.max("warc_ts")).first()[0] - dt.timedelta(minutes=11)).timestamp()
    )
    got = {(r["bucket_start"], r["lang"]): r["distinct_urls_est"]
           for r in with_estimate(serve_frames(store, "sketch")["1m"])
           .where(F.col("bucket_start").cast("long") < horizon).collect()}
    exact = {(r["bucket_start"], r["lang"]): r["d"]
             for r in pages
             .groupBy(((F.col("warc_ts").cast("long") / 60).cast("long") * 60)
                      .cast("timestamp").alias("bucket_start"), "lang")
             .agg(F.countDistinct("url").alias("d"))
             .where(F.col("bucket_start").cast("long") < horizon).collect()}
    assert set(got) == set(exact) and len(got) > 0
    for k, d in exact.items():
        assert abs(got[k] - d) / max(d, 1) < 0.06, (k, got[k], d)
