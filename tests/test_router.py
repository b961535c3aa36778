"""Tier router (operators/router.py): exact segment covers, routed
reads equal to finest-tier truth, and the row-scan reduction that is
the router's entire point."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.bucketing import SECONDS
from chainalytic_framework_spark.operators.fold import prepare_observations
from chainalytic_framework_spark.operators.registry import (
    DEFAULT_SET,
    downsample_with_spec,
    rollup_with_spec,
)
from chainalytic_framework_spark.operators.router import read_routed, route_range


def test_route_range_exact_cover_properties():
    rng = random.Random(11)
    widths = [SECONDS[t] for t in ("1m", "1h", "1d", "30d")]
    for _ in range(200):
        lo = rng.randrange(0, 10**9 // 60) * 60
        hi = lo + rng.randrange(1, 100000) * 60
        segs = route_range(lo, hi)
        # disjoint, ordered, exact cover
        assert segs[0][1] == lo and segs[-1][2] == hi
        for (t, a, b), (t2, a2, b2) in zip(segs, segs[1:]):
            assert b == a2
        for t, a, b in segs:
            w = SECONDS[t]
            assert a % w == 0 and b % w == 0 and a < b
        # coarsest-fit: a segment of tier t must never contain a whole
        # aligned bucket of the next coarser tier
        order = ["1m", "1h", "1d", "30d"]
        for t, a, b in segs:
            i = order.index(t)
            if i + 1 < len(order):
                wc = SECONDS[order[i + 1]]
                assert (b // wc) * wc <= -(-a // wc) * wc  # no full coarse bucket inside


def test_route_range_rejects_unaligned():
    with pytest.raises(ValueError):
        route_range(30, 3600)


def test_routed_read_without_frames_raises_value_error():
    """A family with no stored tier is a ValueError for every routed
    read, not a KeyError on a tier the cover assumed (Spark-free: the
    cover fails before any frame is touched)."""
    from chainalytic_framework_spark.operators.router import (
        _routed,
        read_routed_distinct,
        read_routed_quantile,
    )

    with pytest.raises(ValueError, match="no stored tier"):
        _routed({}, 0, 86400, lambda df: df, None, None)
    for read in (read_routed, read_routed_distinct, read_routed_quantile):
        with pytest.raises(ValueError, match="no stored tier"):
            read({}, 0, 86400)


@pytest.fixture(scope="module")
def tiers(spark, pages):
    # lang grain: DENSE series (few keys, every bucket populated) — the
    # regime where coarse tiers collapse rows and routing pays off; the
    # url-grain sparse regime routes identically (exactness test covers
    # any grain) but saves I/O only via partition pruning, not row count
    lang = ("lang",)
    t = {"1m": rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1m", keys=lang)}
    for child, parent in DEFAULT_SET.cascade_pairs():
        t[child] = downsample_with_spec(t[parent], DEFAULT_SET, child, keys=lang)
    return {k: v.cache() for k, v in t.items()}


def test_read_routed_equals_finest(tiers):
    lo = tiers["1m"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = tiers["1m"].agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    rng = random.Random(5)
    for _ in range(4):
        a = lo + rng.randrange(0, max(1, (hi - lo) // 60)) * 60
        b = min(hi, a + rng.randrange(1, (hi - lo) // 60 + 1) * 60)
        if a >= b:
            continue
        routed = {
            r["lang"]: r["point_count"]
            for r in read_routed(tiers, a, b, "point_count", keys=("lang",)).collect()
        }
        direct = {
            r["lang"]: r["pc"]
            for r in tiers["1m"]
            .where(
                (F.col("bucket_start").cast("long") >= a)
                & (F.col("bucket_start").cast("long") < b)
            )
            .groupBy("lang")
            .agg(F.sum("point_count").alias("pc"))
            .collect()
        }
        assert routed == direct


def test_routed_scans_fewer_rows(tiers):
    # a month-long aligned range must be served almost entirely from
    # coarse tiers: count the rows each plan touches
    lo = tiers["1d"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    b0 = -(-lo // 86400) * 86400
    a, b = b0, b0 + 20 * 86400
    segs = route_range(a, b)
    tiers_used = {t for t, _, _ in segs}
    assert ("1d" in tiers_used) and ("1m" not in tiers_used)
    n_routed = 0
    for t, s0, s1 in segs:
        n_routed += (
            tiers[t]
            .where(
                (F.col("bucket_start").cast("long") >= s0)
                & (F.col("bucket_start").cast("long") < s1)
            )
            .count()
        )
    n_direct = (
        tiers["1m"]
        .where(
            (F.col("bucket_start").cast("long") >= a)
            & (F.col("bucket_start").cast("long") < b)
        )
        .count()
    )
    assert n_routed < n_direct / 5  # at least 5x fewer rows touched


def test_check_routable_rejects_expired_segments():
    from chainalytic_framework_spark.operators.router import check_routable

    now = 1706313600  # 2024-01-27
    segs = route_range(now - 10 * 86400, now)  # 10-day range
    # 1m horizon of 3 days: the ragged day-edge minute segments are fine
    # (they sit at the range ends, newest/oldest); a 2-day 1m horizon
    # with a 10-day-old minute segment must raise
    horizons = {"1m": 86400, "1h": None, "1d": None, "30d": None}
    fine_old = [s for s in segs if s[0] == "1m" and s[1] < now - 86400]
    import pytest as _pytest

    if fine_old:
        with _pytest.raises(ValueError, match="retention horizon"):
            check_routable(segs, horizons, now)
    # generous horizons: everything passes
    check_routable(segs, {t: None for t in ("1m", "1h", "1d", "30d")}, now)
    check_routable(segs, {"1m": 30 * 86400, "1h": 30 * 86400,
                          "1d": None, "30d": None}, now)


def test_read_routed_validates_retention(tiers):
    from chainalytic_framework_spark.operators.router import read_routed

    lo = tiers["1m"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = tiers["1m"].agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a = (lo // 60) * 60 + 60
    with pytest.raises(ValueError, match="retention horizon"):
        read_routed(
            tiers, a, hi, "point_count", keys=("lang",),
            retention_horizons={"1m": 60, "1h": 60, "1d": 60, "30d": None},
            now_epoch=hi + 30 * 86400,
        )
    with pytest.raises(ValueError, match="now_epoch"):
        read_routed(tiers, a, hi, "point_count", keys=("lang",),
                    retention_horizons={"1m": None})


def test_read_routed_quantile_equals_direct_and_reduces_rows(tiers, spark):
    """Routed p90 over a ragged multi-tier range must equal the p90
    computed from the finest histogram tier directly, while touching
    >5x fewer histogram rows (VERDICT r2 item 4 acceptance)."""
    from chainalytic_framework_spark.operators.histogram import (
        histogram_downsample,
        histogram_rollup,
    )
    from chainalytic_framework_spark.operators.router import (
        read_routed_quantile,
        route_range,
    )

    lo = tiers["1m"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = tiers["1m"].agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    # ragged: push the ends off day/hour alignment by odd minutes
    a = lo + 7 * 3600 + 23 * 60
    b = hi - (2 * 3600 + 41 * 60)
    assert a < b

    h1m = histogram_rollup(
        tiers["1m"].withColumn("be", F.col("bucket_start").cast("long")),
        F.col("be"),
        ["lang"],
        F.col("point_count"),
    ).cache()
    h1h = histogram_downsample(h1m, ["lang"], 3600).cache()
    h1d = histogram_downsample(h1h, ["lang"], 86400).cache()
    hist = {"1m": h1m, "1h": h1h, "1d": h1d}

    routed = {
        r["lang"]: r["p90_lo"]
        for r in read_routed_quantile(hist, a, b, ("lang",), 90, "p90_lo").collect()
    }
    # direct truth from the finest tier only
    from pyspark.sql import Window

    fine = h1m.where((F.col("bucket_epoch") >= a) & (F.col("bucket_epoch") < b))
    merged = fine.groupBy("lang", "hb_lo").agg(F.sum("hb_count").alias("hb_count"))
    w = Window.partitionBy("lang").orderBy("hb_lo")
    wall = Window.partitionBy("lang")
    cum = merged.select(
        "lang", "hb_lo",
        F.sum("hb_count").over(w).alias("cum"),
        F.sum("hb_count").over(wall).alias("total"),
    )
    need = F.expr("(total * 90 + 99) DIV 100")
    direct = {
        r["lang"]: r["p90_lo"]
        for r in cum.where(F.col("cum") >= need)
        .groupBy("lang").agg(F.min("hb_lo").alias("p90_lo")).collect()
    }
    assert routed == direct and len(routed) > 0

    # row reduction: routed segments touch >5x fewer histogram rows
    segs = route_range(a, b, ["1m", "1h", "1d"])
    n_routed = sum(
        hist[t].where((F.col("bucket_epoch") >= s0) & (F.col("bucket_epoch") < s1)).count()
        for t, s0, s1 in segs
    )
    n_direct = fine.count()
    assert n_routed * 5 < n_direct


def test_read_routed_series_equals_direct_rebucket(tiers, spark):
    """serve-forecast input parity: the routed series at a grain must
    equal rebucketing the finest tier directly — per key AND per bucket
    (the reduction property read_routed has, extended to series), and a
    forecast fit on either input is identical."""
    from chainalytic_framework_spark.operators.forecast import holt_forecast
    from chainalytic_framework_spark.operators.router import read_routed_series

    lo = tiers["1m"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = tiers["1m"].agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a = -(-lo // 3600) * 3600
    b = (hi // 3600) * 3600
    assert b - a >= 5 * 3600

    series = read_routed_series(tiers, a, b, "1h", keys=("lang",))
    routed = {(r["lang"], r["bucket_start"]): r["point_count"]
              for r in series.collect()}
    direct_df = (
        tiers["1m"]
        .where((F.col("bucket_start").cast("long") >= a)
               & (F.col("bucket_start").cast("long") < b))
        .groupBy(
            "lang",
            ((F.col("bucket_start").cast("long") / 3600).cast("long") * 3600)
            .cast("timestamp").alias("bucket_start"),
        )
        .agg(F.sum("point_count").alias("point_count"))
    )
    direct = {(r["lang"], r["bucket_start"]): r["point_count"]
              for r in direct_df.collect()}
    assert routed == direct and len(routed) > 0

    # sparse keys have holes -> zero-fill (the CLI's --zero-fill path)
    from chainalytic_framework_spark.__main__ import _zero_fill_spine

    fc_routed = {(r["lang"], r["step"]): round(r["yhat"], 9)
                 for r in holt_forecast(
                     _zero_fill_spine(series, ["lang"], "point_count", "1h"),
                     key_cols=("lang",), horizon=3).collect()}
    fc_direct = {(r["lang"], r["step"]): round(r["yhat"], 9)
                 for r in holt_forecast(
                     _zero_fill_spine(direct_df, ["lang"], "point_count", "1h"),
                     key_cols=("lang",), horizon=3).collect()}
    assert fc_routed == fc_direct and len(fc_routed) > 0


def test_read_routed_series_rejects_coarse_grain_misalignment():
    import pytest as _p

    from chainalytic_framework_spark.operators.router import read_routed_series

    with _p.raises(ValueError, match="align"):
        read_routed_series({"1m": None}, 30, 7200, "1h")
    with _p.raises(ValueError, match="no stored tier"):
        read_routed_series({"1d": None}, 0, 7200, "1h")


def test_read_routed_distinct_matches_exact_within_error(tiers, spark, pages):
    """Routed HLL union across tiers must estimate the exact per-lang
    distinct-url count within the sketch's error bound, and equal the
    single whole-range union exactly (register-exact merge)."""
    from chainalytic_framework_spark.operators.router import read_routed_distinct
    from chainalytic_framework_spark.operators.sketches import (
        url_sketch_downsample,
        url_sketch_rollup,
    )

    obs = pages.select("url", "warc_ts", "lang")
    sk = {"1m": url_sketch_rollup(obs, "1m").cache()}
    for child, parent in (("1h", "1m"), ("1d", "1h"), ("30d", "1d")):
        sk[child] = url_sketch_downsample(sk[parent], child).cache()

    lo = sk["1m"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = sk["1m"].agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    est = {r["lang"]: r["distinct_est"]
           for r in read_routed_distinct(sk, lo, hi).collect()}
    exact = {r["lang"]: r["d"]
             for r in pages.where((F.col("warc_ts").cast("long") >= lo)
                                  & (F.col("warc_ts").cast("long") < hi))
             .groupBy("lang").agg(F.countDistinct("url").alias("d")).collect()}
    assert set(est) == set(exact)
    for lang, d in exact.items():
        assert abs(est[lang] - d) / max(d, 1) < 0.06, (lang, est[lang], d)

    # register-exact: routed union == one union over the finest tier
    one = {r["lang"]: r["distinct_est"] for r in
           sk["1m"].where((F.col("bucket_start").cast("long") >= lo)
                          & (F.col("bucket_start").cast("long") < hi))
           .groupBy("lang").agg(F.hll_union_agg("url_sketch").alias("_s"))
           .select("lang", F.hll_sketch_estimate("_s").alias("distinct_est"))
           .collect()}
    assert est == one


def test_read_routed_kll_equals_whole_range_merge(spark, pages):
    """Routed KLL merge across tiers == one whole-range merge (lossless
    sketch-state union), and the p50 estimate sits within the KLL rank
    bound of the exact median."""
    from chainalytic_framework_spark.operators.router import read_routed_kll
    from chainalytic_framework_spark.operators.sketches import (
        quantile_sketch_downsample,
        quantile_sketch_rollup,
    )

    obs = pages.select("warc_ts", "lang", F.length("text").alias("text_len"))
    sk = {"1m": quantile_sketch_rollup(obs, "1m").cache()}
    for child, parent in (("1h", "1m"), ("1d", "1h"), ("30d", "1d")):
        sk[child] = quantile_sketch_downsample(sk[parent], child).cache()

    lo = sk["1m"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = sk["1m"].agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    routed = {r["lang"]: (r["q50"], r["q95"])
              for r in read_routed_kll(sk, lo, hi).collect()}
    assert len(routed) > 0
    # KLL merge state is order-dependent (unlike HLL registers) — the
    # guarantee that survives routing is the RANK bound, per quantile
    for lang, (q50, q95) in routed.items():
        sub = obs.where(F.col("lang") == lang)
        n = sub.count()
        for q, est in ((0.5, q50), (0.95, q95)):
            # integer values tie heavily: the CDF jumps at est, so the
            # bound brackets the jump (below-rank < q+eps, at-rank > q-eps)
            below = sub.where(F.col("text_len") < est).count() / n
            at = sub.where(F.col("text_len") <= est).count() / n
            assert below < q + 0.03 and at > q - 0.03, (lang, q, est, below, at)


def test_read_routed_multi_measure_single_plan(tiers):
    """A measure TUPLE returns the same numbers as per-measure calls,
    from one unioned plan (each tier segment scanned once — the extra
    sum column rides the same shuffle)."""
    lo = tiers["1m"].agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = tiers["1m"].agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a, b = lo + 5 * 60, hi - 7 * 60
    multi = {
        r["lang"]: (r["point_count"], r["byte_size"])
        for r in read_routed(
            tiers, a, b, ("point_count", "byte_size"), keys=("lang",)
        ).collect()
    }
    pc = {r["lang"]: r["point_count"]
          for r in read_routed(tiers, a, b, "point_count", keys=("lang",)).collect()}
    bs = {r["lang"]: r["byte_size"]
          for r in read_routed(tiers, a, b, "byte_size", keys=("lang",)).collect()}
    assert multi == {k: (pc[k], bs[k]) for k in pc}


def test_read_routed_drift_equals_raw_psi_and_self_is_zero(spark):
    """PSI between two routed ranges == PSI recomputed from raw rows
    (bucket counts additive across every tier segment); comparing a
    range against itself is exactly zero drift."""
    from pyspark.sql import functions as F

    from chainalytic_framework_spark.operators.histogram import (
        decade_digit_bucket,
        histogram_downsample,
        histogram_rollup,
        psi_drift,
    )
    from chainalytic_framework_spark.operators.router import read_routed_drift

    ev = spark.createDataFrame(
        [(i % 7, 3600 * i + 60 * (i % 13), 1 + (i * i) % 997)
         for i in range(4000)],
        "k long, epoch long, v long",
    ).withColumn("ts", F.timestamp_seconds(F.col("epoch")))
    h1m = histogram_rollup(
        ev, ((F.col("epoch") / 60).cast("long") * 60).alias("bucket_epoch"),
        ["k"], F.col("v"),
    )
    h1h = histogram_downsample(h1m, ["k"], 3600)
    h1d = histogram_downsample(h1h, ["k"], 86400)
    tiers = {"1m": h1m, "1h": h1h, "1d": h1d}

    a0, a1 = 5 * 3600, 2 * 86400 + 1800  # ragged edges on purpose
    b0, b1 = 2 * 86400 + 1800, 4000 * 3600 + 3600
    routed = read_routed_drift(tiers, a0, a1, b0, b1, series_cols=("k",))

    raw = ev.where((F.col("epoch") >= a0) & (F.col("epoch") < b1)).select(
        "k",
        F.when(F.col("epoch") >= b0, 1).otherwise(0).alias("w"),
        decade_digit_bucket(F.col("v")).alias("bin"),
    )
    direct = psi_drift(raw, ["k"], "w", "bin")
    got = sorted(map(tuple, routed.collect()))
    exp = sorted(map(tuple, direct.collect()))
    assert got == exp

    self_cmp = read_routed_drift(tiers, a0, a1, a0, a1, series_cols=("k",))
    for r in self_cmp.collect():
        assert r.psi_x1e8 == 0
        assert r.n_bins_a_only == 0 and r.n_bins_b_only == 0


def _file_scans(df):
    """(PartitionFilters, PushedFilters) of every parquet scan in the
    physical plan, untruncated."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.nodeName().startswith("Scan parquet"):
            md = node.metadata()
            out.append((md.apply("PartitionFilters"), md.apply("PushedFilters")))
    return out


def test_routed_read_of_stored_tiers_scans_each_tier_once_pruned(spark, tiers, tmp_path):
    """Over stored tier tables a ragged range is read with ONE scan per
    routed tier (its segments OR-ed), each pruning bucket_day
    partitions and pushing a bucket_start range to parquet, and the
    answer equals the finest tier's."""
    import re

    from chainalytic_framework_spark.tables import TableStore

    store = TableStore(spark, str(tmp_path))
    for t, df in tiers.items():
        store.write(df.withColumn("bucket_day", F.to_date("bucket_start")),
                    f"tier_{t}", partition_by=["bucket_day"])
    stored = {t: store.read(f"tier_{t}") for t in tiers}
    a = 1704085020  # 2024-01-01 04:57 UTC
    b = 1704548580  # 2024-01-06 13:43 UTC
    segs = route_range(a, b)
    routed_tiers = {t for t, _, _ in segs}
    assert len(segs) > len(routed_tiers) >= 3  # ragged: tiers with several segments

    df = read_routed(stored, a, b, "point_count", keys=("lang",))
    got = {r["lang"]: r["point_count"] for r in df.collect()}
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("FileScan parquet") == len(routed_tiers)
    scans = _file_scans(df)
    assert len(scans) == len(routed_tiers)
    for part_filters, pushed in scans:
        assert "bucket_day" in part_filters
        assert re.search(r"GreaterThanOrEqual\(bucket_start,", pushed), pushed
        assert re.search(r"LessThan\(bucket_start,", pushed), pushed

    b_ = F.col("bucket_start").cast("long")
    want = {
        r["lang"]: r["pc"]
        for r in tiers["1m"].where((b_ >= a) & (b_ < b))
        .groupBy("lang").agg(F.sum("point_count").alias("pc")).collect()
    }
    assert got == want
