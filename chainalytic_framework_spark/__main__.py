"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Cluster usage:

    zip -r cfs.zip chainalytic_framework_spark
    spark-submit --py-files cfs.zip \
        --conf spark.sql.shuffle.partitions=4096 \
        -m chainalytic_framework_spark run \
        --input s3://bucket/pages/ --warehouse s3://bucket/wh/ \
        --snapshot-id $SNAPSHOT --with-sketches

    python -m chainalytic_framework_spark synth --rows 1000000 --out /tmp/pages

The ``run`` subcommand is one idempotent pipeline increment: pending
days are derived from the manifest, tiers/fold/state commit via dynamic
partition overwrite + merge_upsert, so re-running after a failure is
safe. Environment knobs (SPARK_GRAFT_*) are documented in session.py,
bucketing.py and plans/pipeline.py.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys


def _cmd_run(args: argparse.Namespace) -> None:
    from .plans.pipeline import run_pipeline
    from .session import get_active_or_build
    from .tables import TableStore

    spark = get_active_or_build(app_name="cfs-run")
    pages = spark.read.parquet(args.input)
    store = TableStore(spark, args.warehouse)
    retention_now = (
        dt.datetime.fromisoformat(args.retention_now) if args.retention_now else None
    )
    result = run_pipeline(
        spark,
        pages,
        store,
        metric_set=args.metric_set,
        input_snapshot_id=args.snapshot_id,
        with_fold=not args.no_fold,
        with_sketches=args.with_sketches,
        with_histograms=args.with_histograms,
        with_cold_tier=args.with_cold_tier,
        enforce_retention_now=retention_now,
    )
    print(json.dumps(result, default=str))  # pending_range carries dates


def _cmd_synth(args: argparse.Namespace) -> None:
    from .session import get_active_or_build
    from .synth import generate_pages

    spark = get_active_or_build(app_name="cfs-synth")
    generate_pages(spark, args.rows, seed=args.seed).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": args.rows, "out": args.out}))


def _cmd_compact(args: argparse.Namespace) -> None:
    from .session import get_active_or_build
    from .tables import TableStore

    spark = get_active_or_build(app_name="cfs-compact")
    store = TableStore(spark, args.warehouse)
    n = store.compact_partitions(
        args.table,
        args.partition_by.split(","),
        max_files_per_partition=args.max_files,
        target_bytes=args.target_bytes,
    )
    print(json.dumps({"table": args.table, "partitions_rewritten": n}))


def _cmd_query(args: argparse.Namespace) -> None:
    from . import contract
    from .session import get_active_or_build

    qs = contract.queries()
    if args.name not in qs:
        print(json.dumps({"error": f"unknown query {args.name!r}",
                          "available": sorted(qs)}))
        raise SystemExit(2)
    spark = get_active_or_build(app_name=f"cfs-query-{args.name}")
    df = qs[args.name](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"query": args.name, "out": args.out}))
    else:
        _emit(args, df, None, query=args.name)


def _fail(msg: str) -> None:
    """Print ``{"error": msg}`` and exit 2."""
    print(json.dumps({"error": msg}))
    raise SystemExit(2)


_FAMILY_HINT = {
    "tier": "",
    "hist": " (run with --with-histograms)",
    "sketch": " (run with --with-sketches)",
}


def _frames(args: argparse.Namespace, family: str) -> dict:
    """The serve preamble: ``{tier: DataFrame}`` of ``family`` in
    ``--warehouse``, the live stream edge riding in as the finest tier
    (``streaming.stream.serve_frames``). A warehouse with none of the
    family's tables prints an error and exits 2."""
    from .session import get_active_or_build
    from .streaming.stream import serve_frames
    from .tables import TableStore

    spark = get_active_or_build(app_name=f"cfs-{args.cmd}")
    frames = serve_frames(TableStore(spark, args.warehouse), family)
    if not frames:
        _fail(f"no {family}_* tables in warehouse{_FAMILY_HINT[family]}")
    return frames


def _keys(args: argparse.Namespace) -> list:
    return args.keys.split(",")


def _retention(args: argparse.Namespace) -> dict:
    """Routed-read retention validation kwargs — shared by every serve
    command so none can silently read a range whose fine-tier segments
    were already expired (ADVICE r2/r4): a forecast, say, would
    otherwise fit expired buckets as zeros with no error."""
    if not args.retention_now:
        return {}
    from .operators.retention import DEFAULT_HORIZONS, _to_epoch

    return {"retention_horizons": DEFAULT_HORIZONS,
            "now_epoch": _to_epoch(dt.datetime.fromisoformat(args.retention_now))}


def _routed_series(args: argparse.Namespace, t0: int, t1: int):
    """The tier family's routed per-key series of ``--measure`` at
    ``--grain`` over [t0, t1): coarse tiers for deep history, fine ones
    at the ragged edges, as (keys..., t epoch seconds, v) longs."""
    from pyspark.sql import functions as F

    from .operators.router import read_routed_series

    keys = _keys(args)
    return read_routed_series(
        _frames(args, "tier"), t0, t1, args.grain, measure=args.measure,
        keys=keys, **_retention(args),
    ).select(*keys, F.col("bucket_start").cast("long").alias("t"),
             F.col(args.measure).cast("long").alias("v"))


def _emit(args: argparse.Namespace, df, order, **echo) -> None:
    """Print one JSON line: ``echo`` then ``rows``, the first
    ``--limit`` rows of ``df`` in ``order`` (None: as ``df`` yields
    them)."""
    if order is not None:
        df = df.orderBy(*order)
    if getattr(args, "limit", None) is not None:
        df = df.limit(args.limit)
    print(json.dumps({**echo, "rows": [r.asDict() for r in df.collect()]},
                     default=str))


def _cmd_serve_range(args: argparse.Namespace) -> None:
    """Tier-routed range read over a warehouse written by `run`; comma-
    separated measures read every tier segment ONCE."""
    from .operators.router import read_routed

    measures = tuple(args.measure.split(","))
    df = read_routed(_frames(args, "tier"), args.t0, args.t1,
                     measure=measures[0] if len(measures) == 1 else measures,
                     keys=_keys(args), **_retention(args))
    _emit(args, df, None, t0=args.t0, t1=args.t1, measure=args.measure)


def _cmd_serve_quantile(args: argparse.Namespace) -> None:
    """Routed quantile over the stored histogram tiers of a warehouse
    written by `run --with-histograms`."""
    from .operators.router import read_routed_quantile

    df = read_routed_quantile(
        _frames(args, "hist"), args.t0, args.t1, series_cols=_keys(args),
        q_x100=args.q, out_col="q_lo", **_retention(args),
    )
    _emit(args, df, None, t0=args.t0, t1=args.t1, q=args.q)


def _cmd_stream(args: argparse.Namespace) -> None:
    """Drain the pages stream into the warehouse (availableNow) and
    optionally fold closed days into the batch tiers — the operational
    form of the streaming edge: run it on a schedule between batch
    pipeline increments."""
    from .streaming.stream import (
        compact_edge,
        start_heavyhitter_stream_to_store,
        start_histogram_stream_to_store,
        start_stream_to_store,
    )
    from .session import get_active_or_build
    from .tables import TableStore

    spark = get_active_or_build(app_name="cfs-stream")
    store = TableStore(spark, args.warehouse)
    start_stream_to_store(
        spark, args.input, store, checkpoint_dir=args.checkpoint + "/tier",
        trigger_available_now=True, with_sketches=args.with_sketches,
    ).awaitTermination()
    if args.with_histograms:
        start_histogram_stream_to_store(
            spark, args.input, store, checkpoint_dir=args.checkpoint + "/hist",
            trigger_available_now=True,
        ).awaitTermination()
    if args.with_heavyhitters:
        start_heavyhitter_stream_to_store(
            spark, args.input, store, checkpoint_dir=args.checkpoint + "/hh",
            trigger_available_now=True,
        ).awaitTermination()
    result = {"drained": True}
    if args.compact_closed:
        import pyspark.sql.functions as F

        wm = store.read("tier_1m_stream").agg(F.max("bucket_day")).first()[0] \
            if store.exists("tier_1m_stream") else None
        result["compacted_tier_days"] = [
            str(d) for d in compact_edge(store, "tier", closed_before=wm)
        ]
        if args.with_histograms and store.exists("hist_1m_stream"):
            result["compacted_hist_days"] = [
                str(d) for d in compact_edge(store, "hist", closed_before=wm)
            ]
    print(json.dumps(result))


def _zero_fill_spine(tier, keys, measure, grain):
    """Dense per-key spine for additive count measures: an empty bucket
    IS zero (unlike LOCF state carry) — missing buckets -> 0."""
    from pyspark.sql import functions as F

    from .operators.bucketing import SECONDS

    secs = SECONDS[grain]
    bounds = tier.groupBy(*keys).agg(
        F.min("bucket_start").alias("_b0"), F.max("bucket_start").alias("_b1")
    )
    spine = bounds.select(
        *keys,
        F.explode(
            F.expr(f"sequence(_b0, _b1, interval {secs} seconds)")
        ).alias("bucket_start"),
    )
    return spine.join(tier, [*keys, "bucket_start"], "left").fillna({measure: 0})


def _cmd_forecast(args: argparse.Namespace) -> None:
    """Per-key Holt(-Winters) forecast over a stored tier (gap-fill the
    tier first for url grain; lang grain is dense already)."""
    from .operators.forecast import holt_forecast
    from .session import get_active_or_build
    from .tables import TableStore

    from pyspark.sql import functions as F

    spark = get_active_or_build(app_name="cfs-forecast")
    store = TableStore(spark, args.warehouse)
    tier = store.read(f"tier_{args.tier}")
    if args.gapfill:
        from .operators.gapfill import gapfill_locf

        tier = gapfill_locf(tier, args.tier)
    keys = _keys(args)
    # collapse to the requested key grain (tier tables are url grain):
    # one row per (keys, bucket)
    tier = tier.groupBy(*keys, "bucket_start").agg(
        F.sum(args.measure).alias(args.measure)
    )
    if args.zero_fill:
        tier = _zero_fill_spine(tier, keys, args.measure, args.tier)
    df = holt_forecast(
        tier, key_cols=tuple(keys), value_col=args.measure,
        alpha=args.alpha, beta=args.beta,
        gamma=args.gamma, period=args.period, horizon=args.horizon,
    )
    _emit(args, df, [*keys, "step"], tier=args.tier, measure=args.measure,
          horizon=args.horizon)


def _cmd_serve_forecast(args: argparse.Namespace) -> None:
    """Long-horizon forecast whose INPUT series routes through the tier
    router (VERDICT r3 next-item #8): history far from the edge reads
    coarse tiers, ragged edges read fine ones, everything rebucketed to
    the forecast grain — same fit as the direct-tier ``forecast``
    command on identical data (parity-tested), radically fewer rows
    scanned over long windows."""
    from pyspark.sql import functions as F

    from .operators.forecast import holt_forecast

    keys = _keys(args)
    series = _routed_series(args, args.t0, args.t1).select(
        *keys, F.col("t").cast("timestamp").alias("bucket_start"),
        F.col("v").alias(args.measure),
    )
    if args.zero_fill:
        series = _zero_fill_spine(series, keys, args.measure, args.grain)
    df = holt_forecast(
        series, key_cols=keys, value_col=args.measure,
        alpha=args.alpha, beta=args.beta,
        gamma=args.gamma, period=args.period, horizon=args.horizon,
    )
    _emit(args, df, [*keys, "step"], grain=args.grain, measure=args.measure,
          t0=args.t0, t1=args.t1, horizon=args.horizon)


def _cmd_cold(args: argparse.Namespace) -> None:
    """Compress-after-age policy: move fully-closed tier days older than
    --before into Gorilla blob cold storage; `serve-range`-style reads
    keep working transparently via read_tier_with_cold."""
    from .operators.cold_store import enforce_cold_policy
    from .operators.retention import _to_epoch
    from .session import get_active_or_build
    from .tables import TableStore

    spark = get_active_or_build(app_name="cfs-cold")
    store = TableStore(spark, args.warehouse)
    moved = enforce_cold_policy(
        store, args.tier, colder_than_epoch=_to_epoch(dt.datetime.fromisoformat(args.before))
    )
    print(json.dumps({"tier": args.tier, "before": args.before,
                      "days_moved": moved}))


def _cmd_serve_chart(args: argparse.Namespace) -> None:
    """Chart-serving path: routed regular series over [t0, t1) at the
    requested grain, decimated to ``--npoints`` per key. Two methods
    (operators/lttb.py), both deterministic across cluster sizes:
    ``lttb`` (default) — exact-integer shape-preserving selection;
    ``m4`` — first/last/min/max per pixel bucket (error-free min/max
    envelope; ≤4 points per bucket, bucket width = range/(npoints/4)
    clamped to the grain). A 2-year dashboard pane reads coarse tiers
    for deep history and ships ~npoints rows per series to the client,
    never 10⁶ buckets."""
    from .operators.bucketing import SECONDS
    from .operators.lttb import lttb_downsample_exact, m4_downsample

    keys = _keys(args)
    series = _routed_series(args, args.t0, args.t1)
    if args.method == "m4":
        # pixel width: the range split across npoints/4 buckets (M4 emits
        # ≤4 points per bucket), never finer than the routed grain
        n_buckets = max(1, args.npoints // 4)
        bsecs = max(SECONDS[args.grain],
                    -(-(args.t1 - args.t0) // n_buckets))
        # t is unique per key in a routed regular series — valid tie id
        out = m4_downsample(series, keys, "t", "v", bsecs, id_col="t",
                            origin=args.t0)
    else:
        out = lttb_downsample_exact(series, keys, "t", "v", args.npoints)
    _emit(args, out, [*keys, "t"], grain=args.grain, measure=args.measure,
          t0=args.t0, t1=args.t1, npoints=args.npoints, method=args.method)


def _cmd_crawl_plan(args: argparse.Namespace) -> None:
    """Crawl planner over the fold history: per-url change-rate recrawl
    schedule (operators/recrawl.py, Cho/Garcia-Molina ratio estimator
    on the fold's text_hash visit history) serialized onto each host's
    politeness grid (running-max closed form of the greedy fetch
    recurrence) — the engine's 'what do we fetch next, and when'
    endpoint. Emits the earliest --limit fetches plus plan totals."""
    from pyspark.sql import functions as F

    from .functions.urls import url_host
    from .operators.recrawl import politeness_schedule, recrawl_schedule
    from .plans.pipeline import FOLD_TABLE
    from .session import get_active_or_build
    from .tables import TableStore

    spark = get_active_or_build(app_name="cfs-crawl-plan")
    store = TableStore(spark, args.warehouse)
    if not store.exists(FOLD_TABLE):
        _fail(f"no {FOLD_TABLE} table in warehouse (run without --no-fold first)")
    ev = store.read(FOLD_TABLE).select(
        "url",
        F.col("warc_ts").cast("timestamp").cast("long").alias("t"),
        F.col("text_hash").alias("fp"),
    )
    due = recrawl_schedule(
        ev, ["url"], "t", "fp",
        min_interval=args.min_interval, max_interval=args.max_interval,
    ).select(
        "url", url_host(F.col("url")).alias("host"),
        F.col("next_due_epoch").alias("due"),
    )
    plan = politeness_schedule(due, "host", "due", ["url"], args.gap)
    n_deferred = 0
    if args.budget is not None:
        # third planner stage: ration --budget fetch slots across hosts
        # by due-url share (largest-remainder, exact integer quotas);
        # each host keeps its politeness-ordered first `quota` fetches,
        # the rest defer to the next cycle
        from .operators.recrawl import apportion_budget

        quotas = apportion_budget(
            due.groupBy("host").agg(F.count(F.lit(1)).alias("n_due")),
            ["host"], "n_due", budget=args.budget,
        )
        plan = plan.join(quotas.select("host", "quota"), "host")
        deferred = plan.where(F.col("fetch_rank") > F.col("quota"))
        plan = plan.where(F.col("fetch_rank") <= F.col("quota")).drop("quota")
        n_deferred = deferred.count()
    plan = plan.persist()
    try:
        totals = plan.agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.max("delay_seconds").alias("max_delay_seconds"),
            F.sum((F.col("delay_seconds") > 0).cast("long")).alias("n_delayed"),
        ).collect()[0]
        _emit(args, plan, ["fetch_epoch", "url"], gap_seconds=args.gap,
              n_urls=totals["n_urls"], n_delayed=totals["n_delayed"],
              n_deferred=n_deferred, budget=args.budget,
              max_delay_seconds=totals["max_delay_seconds"])
    finally:
        plan.unpersist()


def _cmd_serve_trending(args: argparse.Namespace) -> None:
    """Recency-weighted top-k over the tier store: per-key half-life-
    decayed activity (operators/decay.py) with the INPUT routed through
    the tiers — long history aggregates from coarse buckets, the ragged
    edge from fine ones, every bucket's measure decayed by its bucket
    start against T = --t1. A stored bucket is one decay term, so the
    score is computed from tier rows without touching raw history; the
    plan is the routed read + one hash agg + TakeOrderedAndProject."""
    from pyspark.sql import functions as F

    from .operators.decay import trending_topk

    df = trending_topk(
        _routed_series(args, args.t0, args.t1), _keys(args), F.col("t"),
        t_ref=args.t1, half_life_s=args.half_life, k=args.k,
        weight=F.col("v").cast("double"),
    )
    _emit(args, df, None, grain=args.grain, measure=args.measure,
          t0=args.t0, t1=args.t1, half_life=args.half_life)


def _cmd_serve_sax(args: argparse.Namespace) -> None:
    """Shape-search endpoint: SAX word per key over the routed series
    (operators/sax.py), optionally filtered to keys whose word matches
    ``--like <key>``'s word — "find series shaped like this one". The
    words are exact-integer shape signatures, so the same query on a
    1000-executor cluster returns byte-identical words; matching is a
    word-keyed join, never an all-pairs scan."""
    from pyspark.sql import functions as F

    from .operators.sax import paa_segments, sax_words

    keys = _keys(args)
    paa = paa_segments(_routed_series(args, args.t0, args.t1), keys, "t", "v",
                       n_segments=args.segments)
    words = sax_words(paa, keys, alphabet=args.alphabet)
    if args.like is not None:
        # resolve the reference word(s) driver-side: one persisted plan
        # feeds both the lookup and the match (don't recompute the
        # routed read + windows twice), a missing/typo'd key fails
        # loudly instead of masquerading as "unique shape", and a
        # multi-column key (same keys[0] under several secondary keys)
        # matches ANY of its words without duplicating output rows
        words = words.persist()
        ref_words = [
            r["word"]
            for r in words.where(F.col(keys[0]) == args.like)
            .select("word").distinct().collect()
        ]
        if not ref_words:
            _fail(f"--like key {args.like!r} has no series in [t0, t1)")
        words = words.where(F.col("word").isin(ref_words))
    _emit(args, words, ["word", *keys], grain=args.grain, measure=args.measure,
          t0=args.t0, t1=args.t1, segments=args.segments,
          alphabet=args.alphabet, like=args.like)


def _cmd_serve_trend(args: argparse.Namespace) -> None:
    """Series-health summary over a routed range: exact-integer linear
    fit (slope per grain step + signed r²), batch changepoint, and max
    drawdown per key — the monitoring endpoint's "is this metric
    trending / when did it turn / how bad was the worst slide" answer,
    computed from the SAME routed read every other serve command uses
    (coarse tiers for deep history, fine near the edges). x is the
    bucket index rebased to t0, so the sufficient-statistic products
    stay far inside decimal(38,0) at any range length."""
    from pyspark.sql import functions as F

    from .operators.bucketing import SECONDS
    from .operators.trend import changepoint, linfit, max_drawdown, theil_sen

    keys = _keys(args)
    # one routed read feeds all three aggregates (don't re-scan per stat)
    series = _routed_series(args, args.t0, args.t1).persist()
    try:
        pts = series.withColumn(
            "x", ((F.col("t") - F.lit(args.t0)) / SECONDS[args.grain]).cast("long")
        )
        fit = linfit(pts, keys, "x", "v")
        if args.robust:
            # Theil-Sen median slope + Mann-Kendall S: one outlier bucket
            # moves the estimate one rank where least squares chases it;
            # pair frame is quadratic in the ROUTED series length (already
            # bounded by the range/grain), keyed, never cartesian
            rob = theil_sen(pts, keys, "x", "v").withColumnRenamed(
                "slope_x1e4", "robust_slope_x1e4"
            )
            fit = fit.join(rob, keys, "left")
        cp = changepoint(series, keys, "t", "v")
        dd = max_drawdown(series, keys, "t", "v")
        # LEFT joins: a single-bucket series has a fit row but no
        # changepoint row (its k<n filter is empty) — the sparse/new
        # series a monitor most needs must still appear
        out = fit.join(cp, keys, "left").join(dd.drop("n_buckets"), keys, "left")
        # --movers: steepest |slope| first (TakeOrderedAndProject; key
        # tiebreak keeps the cut deterministic)
        order = [F.abs(F.col("slope_x1e4")).desc(), *keys] if args.movers else keys
        _emit(args, out, order, grain=args.grain, measure=args.measure,
              t0=args.t0, t1=args.t1)
    finally:
        series.unpersist()


def _cmd_serve_alerts(args: argparse.Namespace) -> None:
    """Hysteresis alert episodes over a routed range: value ≥ --hi
    opens an episode, ≤ --lo closes it, the dead band extends it
    (operators/states.py::alert_episodes) — the alert-rule endpoint
    over the SAME routed read every other serve command uses, so deep
    history evaluates from coarse tiers and the ragged edge from fine
    ones. Integer thresholds on integer measures: the episode set is
    byte-identical at any parallelism."""
    from .operators.states import alert_episodes

    keys = _keys(args)
    eps = alert_episodes(_routed_series(args, args.t0, args.t1), keys, "t", "v",
                         hi=args.hi, lo=args.lo)
    _emit(args, eps, [*keys, "episode"], grain=args.grain, measure=args.measure,
          t0=args.t0, t1=args.t1, hi=args.hi, lo=args.lo)


def _cmd_serve_coverage(args: argparse.Namespace) -> None:
    """Tier-completeness SLA endpoint: per (key, day), how much of the
    chosen tier's expected bucket grid is actually present in the
    warehouse, and the worst contiguous missing run — the freshness
    surface the monitoring console and gap-fill key off
    (operators/states.py::tier_coverage over the STORED tier frame:
    tier rows ARE the grid observations, so coverage is read straight
    off the tier, no raw-event scan). The streaming edge rides in as
    the finest tier (``_frames``, as for every other serve command),
    so 'present' includes not-yet-compacted buckets."""
    from pyspark.sql import functions as F

    from .operators.bucketing import SECONDS
    from .operators.states import tier_coverage

    frames = _frames(args, "tier")
    if args.grain not in frames:
        _fail(f"no tier_{args.grain} in warehouse")
    keys = _keys(args)
    tier = frames[args.grain]
    tier_secs = SECONDS[args.grain]
    # SLA period: the day grid for sub-day tiers; one bucket for
    # coarser tiers (presence/absence per window — tier_coverage
    # rejects a tier coarser than its period)
    period = max(86400, tier_secs)
    # snap the range OUT to whole periods: a mid-period cut would score
    # the filtered-out buckets as warehouse holes (fabricated "worst
    # days" at every window edge)
    if args.t0 is not None:
        t0 = (args.t0 // period) * period
        tier = tier.where(F.col("bucket_start").cast("timestamp")
                          .cast("long") >= t0)
    if args.t1 is not None:
        t1 = -(-args.t1 // period) * period
        tier = tier.where(F.col("bucket_start").cast("timestamp")
                          .cast("long") < t1)
    cov = tier_coverage(tier.select(*keys, "bucket_start"), keys,
                        "bucket_start", tier_secs=tier_secs,
                        day_secs=period)
    # worst days first: the SLA reader wants the holes, not the 100%s
    _emit(args, cov, [F.col("coverage_x1e4").asc(), F.col("day_epoch").asc(), *keys],
          grain=args.grain, keys=args.keys)


def _cmd_serve_drift(args: argparse.Namespace) -> None:
    """Distribution-drift endpoint: PSI between two routed ranges,
    answered from the stored hist_* tiers (counts are additive, so no
    raw scan); the streaming histogram edge rides in as the finest
    tier when present."""
    from .operators.router import read_routed_drift

    keys = _keys(args)
    out = read_routed_drift(
        _frames(args, "hist"), args.a0, args.a1, args.b0, args.b1,
        series_cols=keys, **_retention(args),
    )
    _emit(args, out, keys, a=[args.a0, args.a1], b=[args.b0, args.b1])


def _cmd_serve_contribution(args: argparse.Namespace) -> None:
    """Root-cause endpoint: which keys drove the metric change between
    two routed ranges (operators/contribution.py). Each range reads
    through the tier router (coarse tiers for deep history, fine at
    the edges); per-key range totals, signed delta, and exact-integer
    share of the total move, ranked by |delta| — the "explain the
    move" companion to serve-drift's "did the distribution move"."""
    from pyspark.sql import functions as F

    from .operators.contribution import contribution

    if max(args.a0, args.b0) < min(args.a1, args.b1):
        # each routed read returns exactly its requested range; with
        # overlapping ranges the union would carry shared buckets twice
        # and both conditional sums would double-count them
        raise SystemExit("serve-contribution: ranges A and B must be "
                         "disjoint")
    keys = _keys(args)
    both = _routed_series(args, args.a0, args.a1).unionByName(
        _routed_series(args, args.b0, args.b1))
    out = contribution(both, keys, "t", "v", args.a0, args.a1, args.b0, args.b1)
    _emit(args, out, [F.abs(F.col("delta")).desc(), *keys],
          a=[args.a0, args.a1], b=[args.b0, args.b1],
          grain=args.grain, measure=args.measure)


def _cmd_serve_distinct(args: argparse.Namespace) -> None:
    """Routed distinct-count estimates from the stored HLL sketch tiers
    (history + streaming sketch edge as the finest tier when present)."""
    from .operators.router import read_routed_distinct

    df = read_routed_distinct(_frames(args, "sketch"), args.t0, args.t1,
                              keys=_keys(args), **_retention(args))
    _emit(args, df, None, t0=args.t0, t1=args.t1)


# The flags serve commands share, each defined once; a command names the
# ones it takes (``_serve_parser``), and one whose default differs sets
# it with ``set_defaults`` on its own parser.
_SERVE_FLAGS = {
    "warehouse": dict(required=True, help="warehouse root written by `run`"),
    "t0": dict(type=int, required=True, help="range start, epoch secs, grain-aligned"),
    "t1": dict(type=int, required=True, help="range end (exclusive), epoch secs"),
    "a0": dict(type=int, required=True, help="range A start, epoch secs"),
    "a1": dict(type=int, required=True, help="range A end (exclusive)"),
    "b0": dict(type=int, required=True, help="range B start, epoch secs"),
    "b1": dict(type=int, required=True, help="range B end (exclusive)"),
    "grain": dict(default="1h", help="routed series grain (tier name)"),
    "measure": dict(default="point_count"),
    "keys": dict(default="lang", help="comma-separated key cols"),
    "retention-now": dict(default=None,
                          help="ISO datetime (UTC); fail loudly if a routed "
                               "cover needs expired fine-tier segments"),
    "limit": dict(type=int, default=100, help="max rows printed"),
}
_ROUTED = "warehouse t0 t1 grain measure keys retention-now limit"


def _serve_parser(sub, name: str, fn, help: str, flags: str = _ROUTED,
                  **defaults) -> argparse.ArgumentParser:
    sp = sub.add_parser(name, help=help)
    for f in flags.split():
        sp.add_argument(f"--{f}", **_SERVE_FLAGS[f])
    sp.set_defaults(fn=fn, **defaults)
    return sp


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="chainalytic_framework_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="one idempotent pipeline increment")
    r.add_argument("--input", required=True, help="pages parquet/Iceberg path")
    r.add_argument("--warehouse", required=True, help="tier/state warehouse root")
    r.add_argument("--metric-set", default="default")
    r.add_argument("--snapshot-id", default="", help="input snapshot lineage id")
    r.add_argument("--no-fold", action="store_true")
    r.add_argument("--with-sketches", action="store_true")
    r.add_argument("--with-histograms", action="store_true")
    r.add_argument("--with-cold-tier", action="store_true")
    r.add_argument("--retention-now", default=None,
                   help="ISO datetime (UTC) to enforce retention against")
    r.set_defaults(fn=_cmd_run)

    s = sub.add_parser("synth", help="generate deterministic synthetic pages")
    s.add_argument("--rows", type=int, required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--seed", type=int, default=42)
    s.set_defaults(fn=_cmd_synth)

    c = sub.add_parser("compact", help="bin-pack small files in oversized partitions")
    c.add_argument("--warehouse", required=True)
    c.add_argument("--table", required=True)
    c.add_argument("--partition-by", default="bucket_day", help="comma-separated")
    c.add_argument("--max-files", type=int, default=4)
    c.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    c.set_defaults(fn=_cmd_compact)

    q = sub.add_parser("query", help="run a named catalog query")
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--out", default=None, help="write parquet instead of printing")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=_cmd_query)

    _serve_parser(sub, "serve-range", _cmd_serve_range,
                  "tier-routed range read from a warehouse",
                  "warehouse t0 t1 measure keys retention-now limit",
                  keys="url", limit=50)

    sq = _serve_parser(sub, "serve-quantile", _cmd_serve_quantile,
                       "tier-routed quantile from stored histogram tiers",
                       "warehouse t0 t1 keys retention-now limit", limit=50)
    sq.add_argument("--q", type=int, default=90, help="percentile (integer)")

    sm = sub.add_parser("stream", help="drain the pages stream into the warehouse")
    sm.add_argument("--input", required=True, help="pages parquet dir (file stream)")
    sm.add_argument("--warehouse", required=True)
    sm.add_argument("--checkpoint", required=True)
    sm.add_argument("--with-sketches", action="store_true")
    sm.add_argument("--with-histograms", action="store_true")
    sm.add_argument("--with-heavyhitters", action="store_true")
    sm.add_argument("--compact-closed", action="store_true",
                    help="fold closed stream days into the batch tiers")
    sm.set_defaults(fn=_cmd_stream)

    fc = sub.add_parser("forecast", help="Holt(-Winters) forecast over a stored tier")
    fc.add_argument("--warehouse", required=True)
    fc.add_argument("--tier", default="1h")
    fc.add_argument("--measure", default="point_count")
    fc.add_argument("--keys", default="lang", help="comma-separated key cols")
    fc.add_argument("--gapfill", action="store_true",
                    help="LOCF gap-fill the tier before fitting (url grain)")
    fc.add_argument("--limit", type=int, default=50)
    sfc = _serve_parser(sub, "serve-forecast", _cmd_serve_forecast,
                        "router-fed Holt(-Winters) forecast: long history "
                        "aggregates from coarse tiers", limit=50)
    for f in (fc, sfc):
        f.add_argument("--horizon", type=int, default=12)
        f.add_argument("--alpha", type=float, default=0.5)
        f.add_argument("--beta", type=float, default=0.1)
        f.add_argument("--gamma", type=float, default=None)
        f.add_argument("--period", type=int, default=None)
        f.add_argument("--zero-fill", action="store_true",
                       help="dense per-key spine, missing buckets = 0 "
                            "(additive count measures)")
    fc.set_defaults(fn=_cmd_forecast)

    cd = sub.add_parser("cold", help="compress-after-age: move closed tier "
                                     "days into Gorilla blob cold storage")
    cd.add_argument("--warehouse", required=True)
    cd.add_argument("--tier", default="1d")
    cd.add_argument("--before", required=True,
                    help="ISO datetime; days fully closed before this move")
    cd.set_defaults(fn=_cmd_cold)

    sch = _serve_parser(sub, "serve-chart", _cmd_serve_chart,
                        "routed series decimated to n shape-preserving "
                        "points per key (LTTB) — the dashboard pane path",
                        limit=1000)
    sch.add_argument("--npoints", type=int, default=200)
    sch.add_argument("--method", choices=["lttb", "m4"], default="lttb",
                     help="lttb: shape-preserving selection; m4: exact "
                          "min/max envelope per pixel bucket")

    cp = sub.add_parser("crawl-plan",
                        help="recrawl schedule + per-host politeness grid "
                             "from the fold history: what to fetch, when")
    cp.add_argument("--warehouse", required=True)
    cp.add_argument("--gap", type=int, default=600,
                    help="politeness: min seconds between a host's fetches")
    cp.add_argument("--min-interval", type=int, default=3600)
    cp.add_argument("--max-interval", type=int, default=30 * 86400)
    cp.add_argument("--budget", type=int, default=None,
                    help="total fetch slots this cycle, rationed across "
                         "hosts by due-url share (exact largest-remainder "
                         "quotas); over-quota fetches defer")
    cp.add_argument("--limit", type=int, default=100)
    cp.set_defaults(fn=_cmd_crawl_plan)

    str_ = _serve_parser(sub, "serve-trending", _cmd_serve_trending,
                         "recency-weighted top-k keys: half-life-decayed "
                         "activity over the routed tiers (--t1 is also the "
                         "decay reference time)",
                         "warehouse t0 t1 grain measure keys retention-now")
    str_.add_argument("--half-life", type=int, default=86400,
                      help="decay half-life in seconds")
    str_.add_argument("--k", type=int, default=20)

    sx = _serve_parser(sub, "serve-sax", _cmd_serve_sax,
                       "SAX shape words per key over a routed range; "
                       "--like <key> filters to same-shaped series", keys="url")
    sx.add_argument("--segments", type=int, default=8)
    sx.add_argument("--alphabet", type=int, default=4)
    sx.add_argument("--like", default=None,
                    help="key value; return only keys sharing its word")

    st_ = _serve_parser(sub, "serve-trend", _cmd_serve_trend,
                        "series health over a routed range: exact "
                        "slope/r2, changepoint, max drawdown per key")
    st_.add_argument("--movers", action="store_true",
                     help="rank by |slope| desc (top movers) instead of key")
    st_.add_argument("--robust", action="store_true",
                     help="add Theil-Sen median slope + Mann-Kendall S "
                          "(outlier-resistant trend) per key")

    sal = _serve_parser(sub, "serve-alerts", _cmd_serve_alerts,
                        "hysteresis alert episodes over a routed range: "
                        "opens at >=hi, closes at <=lo, dead band extends",
                        limit=1000)
    sal.add_argument("--hi", type=int, required=True)
    sal.add_argument("--lo", type=int, required=True)

    scov = _serve_parser(sub, "serve-coverage", _cmd_serve_coverage,
                         "tier-completeness SLA per (key, day): present vs "
                         "expected buckets + worst missing run, worst days "
                         "first", "warehouse grain keys limit", grain="1m")
    scov.add_argument("--t0", type=int, default=None)
    scov.add_argument("--t1", type=int, default=None)

    _serve_parser(sub, "serve-drift", _cmd_serve_drift,
                  "PSI distribution drift between two routed ranges, from "
                  "the stored histogram tiers",
                  "warehouse a0 a1 b0 b1 keys retention-now limit")

    _serve_parser(sub, "serve-contribution", _cmd_serve_contribution,
                  "which keys drove the metric change between two routed "
                  "ranges (delta + share of move)",
                  "warehouse a0 a1 b0 b1 grain measure keys retention-now limit")

    _serve_parser(sub, "serve-distinct", _cmd_serve_distinct,
                  "routed distinct-count estimates from the HLL sketch "
                  "tiers (history+edge)",
                  "warehouse t0 t1 keys retention-now limit")

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
