"""Resumable driver pipeline: pending buckets → rollup → cascade →
fold/state → checkpoint.

Work unit: ``bucket_day``. A run:

1. fingerprints the input (lineage snapshot id),
2. computes pending days = input days ∖ committed days (manifest
   anti-join — reference T2 poll loop made deterministic),
3. builds the 1m tier for pending days only and commits it via dynamic
   partition overwrite (idempotent re-runs — T1 semantics without the
   reference's cursor rewind),
4. re-derives each coarser tier's affected partitions FROM THE STORED
   parent tier (continuous-aggregate maintenance: a coarse bucket is
   recomputed from child partials, never from raw pages),
5. updates the per-url fold state table INCREMENTALLY: change events
   commit to FOLD_TABLE, then the state delta merges into only the
   hash-bucket partitions it touches (TableStore.merge_upsert — Iceberg
   MERGE INTO on a cluster, staged dynamic partition overwrite on
   parquet). Out-of-order backfills re-fold ONLY the urls present in
   the backfilled days (semi-joined history scan) and surgically
   replace their fold rows and state rows,
6. appends manifest rows with metrics.

At 10^12 docs each step is one Spark job whose scan is partition-pruned
to the pending days; nothing loops per-bucket on the driver.
"""

from __future__ import annotations

import calendar
import datetime as dt
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bucketing import SECONDS
from ..operators.fold import (
    extract_state,
    fold_observations,
    fold_with_state,
    prepare_observations,
)
from ..operators.registry import (
    downsample_with_spec_clustered,
    get_metric_set,
    rollup_with_spec_clustered,
)
from ..tables import TableStore
from .checkpoint import append_entries, committed_days

COLD_TIER = "1d"  # the tier the optional cold-store blobs encode
STATE_TABLE = "fold_state"
FOLD_TABLE = "fold_events"

# Hash-bucket partitioning of the state table: state commits touch only
# the buckets a run's urls land in (merge_upsert), never the full table.
# Size to the cluster: 64 buckets bound sandbox small-file counts; at
# 10^12 urls export SPARK_GRAFT_STATE_BUCKETS=4096+ so one bucket stays
# executor-sized. Changing N on an existing store requires one full
# state rewrite (the partition layout is a function of N).
import os as _os

N_STATE_BUCKETS = int(_os.environ.get("SPARK_GRAFT_STATE_BUCKETS", "64"))


def _tier_family(metric_set: str) -> str:
    """Tier table prefix, NAMESPACED by metric set: two sets have
    different column sets, and dynamic partition overwrite into a
    shared path would leave a table whose partitions disagree on
    schema (parquet infers from one footer — later reads fail or
    silently null). The default set keeps the bare ``tier`` prefix for
    compatibility with the query layer and stored warehouses."""
    return "tier" if metric_set == "default" else f"tier_{metric_set}"


def _tier_table(name: str, metric_set: str = "default") -> str:
    return f"{_tier_family(metric_set)}_{name}"


def pending_days(spark: SparkSession, pages: DataFrame, store: TableStore,
                 snapshot_id: str, finest: str = "1m") -> list:
    """Candidate days = [min, max] of the input time range (a cheap
    single-column probe), minus committed manifest days. Days inside
    the range with zero rows cost one empty manifest row; never a wrong
    result.

    Timezone-safe: bounds come back as SESSION-timezone (UTC) date
    strings via date_format — never driver-local datetime rendering,
    which would shift day boundaries on a non-UTC driver and silently
    orphan boundary rows. If ``snapshot_id`` is non-empty, only days
    committed against THAT snapshot count as done, so a day re-delivered
    under a new input snapshot is reprocessed (idempotent overwrite)."""
    import datetime as _dt

    r = pages.agg(
        F.date_format(F.min("warc_ts"), "yyyy-MM-dd").alias("lo"),
        F.date_format(F.max("warc_ts"), "yyyy-MM-dd").alias("hi"),
    ).first()
    if r["lo"] is None:
        return []
    lo = _dt.date.fromisoformat(r["lo"])
    hi = _dt.date.fromisoformat(r["hi"])
    all_days = [lo + _dt.timedelta(days=i) for i in range((hi - lo).days + 1)]
    committed = committed_days(store, finest, snapshot_id=snapshot_id or None)
    if committed is None:
        return all_days
    done = {row["day"] for row in committed.collect()}
    return [d for d in all_days if d not in done]


def _child_window(pend: list, csecs: int) -> tuple[int, int]:
    """[lo, hi) of the multi-day child windows covering the pending
    days, in UTC epochs, never driver-local time. Callers compare in
    EPOCH space: a naive-datetime literal is interpreted in the
    driver's LOCAL timezone by TimestampType.toInternal, which on a
    non-UTC driver shifts the window and silently drops edge parent
    rows."""
    starts = [(calendar.timegm(d.timetuple()) // csecs) * csecs for d in pend]
    return min(starts), max(starts) + csecs


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    store: TableStore,
    metric_set: str = "default",
    input_snapshot_id: str = "",
    with_fold: bool = True,
    with_cold_tier: bool = False,
    with_sketches: bool = False,
    with_histograms: bool = False,
    enforce_retention_now=None,
) -> dict:
    t_run = time.perf_counter()
    ms = get_metric_set(metric_set)
    finest = ms.finest()
    pend = pending_days(spark, pages, store, input_snapshot_id, finest=finest)
    if not pend:
        return {"pending_days": 0, "docs": 0, "wall_seconds": 0.0}

    psel = pages.where(F.to_date("warc_ts").isin(pend))
    entries = []
    n_parts = spark.sparkContext.defaultParallelism

    # ---- ONE raw scan: narrow pages to observations (blobs → lengths
    # in the scan projection), persist; both the 1m tier and the fold
    # read this. At 10^12 docs persist() spills to local disk — still
    # far cheaper than a second pass over the html column.
    # NOTE (r06, measured and rejected): persisting this frame
    # repartition(url) makes HashPartitioning(url) satisfy both the
    # fold window's and the finest rollup's required distributions
    # (0 exchanges above the cache scan, verified), but the bench
    # got SLOWER — the saved exchanges ran inside the CONCURRENT
    # chains where they overlap, while the url repartition pays on
    # the serial materialization path before any chain starts.
    obs = prepare_observations(psel).persist(StorageLevel.MEMORY_AND_DISK)
    # materialize ONCE before the concurrent chains launch: without
    # this, the tier chain and the fold chain would race to compute
    # the same cached partitions and duplicate the raw html scan —
    # the single most expensive pass of the whole run
    obs.count()

    # n_in (input docs) is produced inside the tier chain (Σ point_count
    # of the written 1m rows — no second raw scan); every manifest row
    # gets it at the join point below, when all chains are done.
    n_in = 0

    def _entry(tier: str, wall: float, day=None, rows_out: int = 0) -> dict:
        """Manifest row for ``day``, or for the whole pending range."""
        start = dt.datetime.combine(day or pend[0], dt.time())
        end = dt.datetime.combine(day or pend[-1], dt.time()) + dt.timedelta(days=1)
        return dict(tier=tier, bucket_range_start=start, bucket_range_end=end,
                    input_snapshot_id=input_snapshot_id, rows_out=rows_out,
                    wall_seconds=wall)

    def _cascade(family: str, finest_df: DataFrame, epoch, derive) -> dict:
        """Commit ``finest_df`` to ``<family>_<finest>``, then re-derive
        each coarser tier's affected partitions FROM THE STORED parent
        table (continuous-aggregate maintenance). A child whose buckets
        fit inside single days reads the parent's pending days; a
        multi-day child (30d windows reach beyond the pending days)
        reads the parent rows of every child window covering them,
        pruned on the family's ``epoch`` column — otherwise every
        incremental run would re-derive the ENTIRE history and rewrite
        every coarse partition. ``derive(parent_rows, child)`` builds
        the child frame. Returns each tier's wall seconds."""
        t0 = time.perf_counter()
        store.overwrite_partitions(finest_df, f"{family}_{finest}", ["bucket_day"])
        walls = {finest: time.perf_counter() - t0}
        for child, parent in ms.cascade_pairs():
            t0 = time.perf_counter()
            csecs = SECONDS[child]
            src = store.read(f"{family}_{parent}")
            if csecs <= 86400:
                src = src.where(F.col("bucket_day").isin(pend))
            else:
                lo_e, hi_e = _child_window(pend, csecs)
                src = src.where((epoch >= F.lit(lo_e)) & (epoch < F.lit(hi_e)))
            out = derive(src.drop("bucket_day", "url_bucket"), child)
            store.overwrite_partitions(out, f"{family}_{child}", ["bucket_day"])
            walls[child] = time.perf_counter() - t0
        return walls

    def _tier_chain():
        # ---- finest tier + downsample cascade + cold tier ----
        # FUSED rollup+layout+clustering (r06): repartition the SOURCE
        # rows on (bucket_day, url_hash group) and lead the grouping key
        # with those columns — the aggregate's distribution is then
        # already satisfied AND already the write layout, so each tier
        # pays one exchange where the round-5 plan paid two (agg
        # shuffle + cluster shuffle).
        nonlocal n_in
        # persisted so the per-day stats below reuse the written rows
        # instead of re-running the rollup
        m1 = rollup_with_spec_clustered(obs, ms, finest, n_parts).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        walls = _cascade(
            _tier_family(ms.name), m1, F.col("bucket_start").cast("long"),
            lambda src, child: downsample_with_spec_clustered(src, ms, child, n_parts),
        )
        # one manifest row PER DAY — the resume anti-join's work unit.
        day_stats = (
            m1.groupBy("bucket_day")
            .agg(F.count(F.lit(1)).alias("rows_out"), F.sum("point_count").alias("docs"))
            .collect()
        )
        m1.unpersist()
        day_counts = {r["bucket_day"]: r["rows_out"] for r in day_stats}
        n_in = int(sum(r["docs"] for r in day_stats))
        wall = walls.pop(finest)
        ents = [_entry(finest, wall, d, int(day_counts.get(d, 0))) for d in pend]
        ents += [_entry(child, wall) for child, wall in walls.items()]

        if with_cold_tier:
            # ---- optional: cold-tier blobs for the coarse tier ----
            from ..operators.cold_store import encode_cold

            t0 = time.perf_counter()
            cold = encode_cold(store.read(_tier_table(COLD_TIER, ms.name)))
            store.write(cold, f"cold_{COLD_TIER}")
            ents.append(_entry(f"cold_{COLD_TIER}", time.perf_counter() - t0))
        return ents

    def _sketch_chain():
        # ---- optional: HLL distinct-url sketch tiers ----
        # Mergeable partials (operators/sketches.py): the finest sketch tier
        # reads the persisted obs (urls seen once), coarser tiers union the
        # stored child sketches — distinct counts at any grain without ever
        # re-shuffling the url key space.
        from ..operators.sketches import url_sketch_downsample, url_sketch_rollup

        def with_day(df):
            return df.withColumn("bucket_day", F.to_date("bucket_start"))

        t0 = time.perf_counter()
        _cascade(
            "sketch", with_day(url_sketch_rollup(obs, finest)),
            F.col("bucket_start").cast("long"),
            lambda src, child: with_day(url_sketch_downsample(src, child)),
        )
        return [_entry("sketches", time.perf_counter() - t0)]

    def _hist_chain():
        # ---- optional: text-length histogram tiers ----
        # Distribution partials (operators/histogram.py): data-independent
        # leading-decimal-digit buckets, so coarser tiers merge stored child
        # counts losslessly — quantile dashboards never touch raw.
        from ..operators.histogram import histogram_downsample, histogram_rollup

        def with_day(df):
            return df.withColumn("bucket_day", F.to_date(F.col("bucket_epoch").cast("timestamp")))

        t0 = time.perf_counter()
        fsecs = SECONDS[finest]
        be = (F.col("warc_ts").cast("long") / fsecs).cast("long") * fsecs
        _cascade(
            "hist", with_day(histogram_rollup(obs, be, ["lang"], F.col("text_len"))),
            F.col("bucket_epoch"),
            lambda src, child: with_day(histogram_downsample(src, ["lang"], SECONDS[child])),
        )
        return [_entry("histograms", time.perf_counter() - t0)]

    def _fold_chain():
        # ---- stateful fold: change-event stream + state table ----
        # The fold runs ONCE: its per-observation change events (is_new /
        # text_changed / gap / expiry) are committed to FOLD_TABLE first
        # (idempotent by day), then the state update is derived from the
        # WRITTEN rows — no recomputation of the pandas stage.
        t0 = time.perf_counter()
        state = store.read(STATE_TABLE) if store.exists(STATE_TABLE) else None
        rebuild = False
        if state is not None:
            watermark = state.agg(F.max(F.to_date("last_ts"))).first()[0]
            rebuild = watermark is not None and min(pend) <= watermark

        sb = F.pmod(F.col("url_hash"), F.lit(N_STATE_BUCKETS)).cast("int")
        if rebuild:
            # TARGETED backfill re-fold: an out-of-order day only
            # perturbs the fold state of urls PRESENT in that day — so
            # re-fold exactly those urls over their full history (one
            # semi-joined scan + a pandas fold sized to the touched
            # urls), then surgically replace their rows in FOLD_TABLE
            # (within the day partitions they appear in) and their state
            # rows (within the hash buckets they land in). Untouched
            # urls' fold rows, day partitions, and state buckets are
            # never read or rewritten. The previous design re-folded the
            # ENTIRE raw history on any backfill.
            touched = obs.select("url").distinct()
            hist = prepare_observations(pages).join(touched, "url", "left_semi")
            restated = fold_observations(hist).withColumn(
                "bucket_day", F.to_date("warc_ts")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            store.merge_upsert(
                restated, FOLD_TABLE, key="url", partition_col="bucket_day",
                single_row_per_key=False,
            )
            delta_state = extract_state(restated).withColumn("state_bucket", sb)
            store.merge_upsert(delta_state, STATE_TABLE, key="url",
                               partition_col="state_bucket")
            restated.unpersist()
        else:
            # Forward (in-order) run: fold pending days on top of the
            # carried state; change events committed to FOLD_TABLE
            # first, then the state delta is derived from the WRITTEN
            # rows (no recomputation of the pandas stage) and merged
            # into only the touched state buckets.
            if state is not None:
                fold_out = fold_with_state(obs, state)
            else:
                fold_out = fold_observations(obs)
            # persist the fold at the WINDOW's url partitioning (r06):
            # the day-clustered table write re-shuffles anyway, but the
            # state delta's groupBy(url, url_hash) is satisfied by the
            # cached url partitioning — deriving state from the
            # day-clustered frame (round 5) paid a second full-fold
            # shuffle just to undo the day layout. Two consumers run
            # sequentially, so the first (the commit) materializes the
            # cache; no concurrent first-reader duplication.
            fold_out = fold_out.withColumn(
                "bucket_day", F.to_date("warc_ts")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            # hash clustering, NOT range: repartitionByRange's sampling
            # job would recompute the entire fold a second time
            fold_days = store.cluster_for_write_hash(
                fold_out, ["bucket_day"], secondary="url_hash",
            )
            store.overwrite_partitions(fold_days, FOLD_TABLE, ["bucket_day"])
            delta_state = extract_state(fold_out).withColumn("state_bucket", sb)
            store.merge_upsert(delta_state, STATE_TABLE, key="url",
                               partition_col="state_bucket")
            fold_out.unpersist()
        return [_entry("fold", time.perf_counter() - t0)]

    def _user_fold_chain():
        # ---- user metric-set fold (the registry's Transform hook) ----
        # Contract: ms.fold(obs) returns a DataFrame carrying warc_ts; the
        # pipeline derives bucket_day and commits it with the same
        # idempotent dynamic-partition-overwrite as the built-in fold.
        t0 = time.perf_counter()
        user_out = ms.fold(obs).withColumn("bucket_day", F.to_date("warc_ts"))
        store.overwrite_partitions(
            store.cluster_for_write_hash(user_out, ["bucket_day"]),
            f"fold_{ms.name}", ["bucket_day"],
        )
        return [_entry(f"fold_{ms.name}", time.perf_counter() - t0)]

    # ---- independent chains run CONCURRENTLY ----
    # After the finest tier commits, the numeric cascade (+cold tier),
    # sketch, histogram, and fold chains share no tables, so their jobs
    # are submitted from separate driver threads and the Spark scheduler
    # overlaps them — none of these stages saturates the executors on
    # its own, so pipeline wall drops from sum-of-chains toward
    # max-of-chains. Within a chain, commit order (and therefore resume
    # semantics) is unchanged; parquet dynamic overwrite uses per-write
    # options, so threads share no session conf.
    chains = [_tier_chain]
    if with_sketches:
        chains.append(_sketch_chain)
    if with_histograms:
        chains.append(_hist_chain)
    if with_fold:
        chains.append(_fold_chain)
    if ms.fold is not None:
        chains.append(_user_fold_chain)
    if len(chains) == 1:
        entries.extend(chains[0]())
    else:
        from concurrent.futures import ThreadPoolExecutor

        # One scheduler POOL per chain (ADVICE r4): spark.scheduler.mode
        # =FAIR alone round-robins across POOLS, but every job lands in
        # the single 'default' pool (internally FIFO) unless its thread
        # names one. setLocalProperty is thread-local (pinned-thread
        # mode), so tagging here gives each chain its own pool; pools
        # need no allocation file — unconfigured pools get weight 1 and
        # the FAIR root shares tasks evenly across them. Within a pool
        # FIFO is right: a chain's jobs are sequential anyway.
        #
        # Pools only when slots outnumber one chain's useful width
        # (VERDICT r4 item 4): on a narrow cluster (< 16 slots)
        # round-robining 4-5 chains across cores a single chain could
        # saturate just breaks cache locality and stretches every
        # chain's tail — there, all jobs stay in 'default' (FIFO) and
        # chains overlap only in each other's shuffle gaps, which is
        # the narrow side's best case.
        sc = spark.sparkContext
        use_pools = sc.defaultParallelism >= 16

        def _in_pool(fn):
            def run():
                if use_pools:
                    sc.setLocalProperty("spark.scheduler.pool", fn.__name__)
                try:
                    return fn()
                finally:
                    if use_pools:
                        sc.setLocalProperty("spark.scheduler.pool", None)
            return run

        with ThreadPoolExecutor(max_workers=len(chains)) as ex:
            for fut in [ex.submit(_in_pool(c)) for c in chains]:
                entries.extend(fut.result())  # re-raises chain errors

    # the input-doc count exists only once the tier chain's day_stats
    # ran; chains that ran concurrently with it could not know it
    for e in entries:
        w = e["wall_seconds"]
        e["rows_in"] = n_in
        e["docs_per_sec"] = n_in / w if w > 0 else 0.0

    # ---- optional: retention enforcement (after coarser covers commit) ----
    if enforce_retention_now is not None:
        from ..operators.retention import enforce_retention

        # each scheduled tier's ACTUAL coarser cover comes from the
        # metric set's schedule (sets may skip tiers, e.g. 1m → 1d
        # directly) — the global TIER_ORDER chain would name a tier
        # that never exists, the clamp would never engage, and fine
        # buckets could be dropped with no committed cover
        cover = {parent: child for child, parent in ms.cascade_pairs()}
        for tname, cov in cover.items():
            pmax = None
            if store.exists(_tier_table(cov, ms.name)):
                # collect as EPOCH — collecting a TimestampType renders a
                # driver-local naive datetime (fromInternal), which would
                # shift retention math off-UTC on a non-UTC driver
                pmax = (
                    store.read(_tier_table(cov, ms.name))
                    .agg(F.max(F.col("bucket_start").cast("long")))
                    .first()[0]
                )
            enforce_retention(
                store, _tier_table(tname, ms.name), tname, enforce_retention_now,
                parent_committed_max=pmax, parent_name=cov,
            )

    obs.unpersist()
    append_entries(spark, store, entries)
    total = time.perf_counter() - t_run
    return {
        "pending_days": len(pend),
        # inclusive day range this run touched — callers bound follow-up
        # reads (e.g. gap-fill spine) to it instead of all history
        "pending_range": (pend[0], pend[-1]),
        "docs": n_in,
        "wall_seconds": round(total, 3),
        "docs_per_sec": round(n_in / total, 1) if total > 0 else 0.0,
    }
