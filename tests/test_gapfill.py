"""LOCF gap-fill semantics: carry, no-fabrication, boundary carry-in."""

from __future__ import annotations

from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.gapfill import gapfill_locf, last_observation_state
from chainalytic_framework_spark.operators.fold import prepare_observations
from chainalytic_framework_spark.operators.registry import DEFAULT_SET, rollup_with_spec


def _tier(spark, pages):
    return rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1h")


def test_no_gaps_remain_inside_span(spark, pages):
    t = _tier(spark, pages)
    gf = gapfill_locf(t, "1h")
    spans = gf.groupBy("url").agg(
        F.min("bucket_start").alias("b0"),
        F.max("bucket_start").alias("b1"),
        F.count(F.lit(1)).alias("n"),
    )
    bad = spans.where(
        F.col("n") != (F.col("b1").cast("long") - F.col("b0").cast("long")) / 3600 + 1
    )
    assert bad.count() == 0


def test_filled_rows_carry_last_observation(spark, pages):
    t = _tier(spark, pages)
    gf = gapfill_locf(t, "1h").cache()
    # every gap-filled row: point_count==0 and measures non-null
    filled = gf.where("gap_filled")
    assert filled.count() > 0
    assert filled.where("point_count != 0").count() == 0
    assert filled.where("byte_size IS NULL OR text_len_sum IS NULL").count() == 0
    # observed rows unchanged vs input tier
    obs = gf.where(~F.col("gap_filled")).select(
        "bucket_start", "url_hash", "url", "lang", "point_count",
        "byte_size", "text_len_sum", "text_len_min", "text_len_max",
    )
    orig = t.select(
        "bucket_start", "url_hash", "url", "lang", "point_count",
        "byte_size", "text_len_sum", "text_len_min", "text_len_max",
    )
    assert obs.exceptAll(orig).count() == 0
    assert orig.exceptAll(obs).count() == 0


def test_no_fabrication_before_first_observation(spark, pages):
    t = _tier(spark, pages)
    gf = gapfill_locf(t, "1h")
    firsts = t.groupBy("url").agg(F.min("bucket_start").alias("first_obs"))
    early = gf.join(firsts, "url").where(F.col("bucket_start") < F.col("first_obs"))
    assert early.count() == 0


def test_boundary_carry_in_across_runs(spark, pages):
    """Split the time range in two 'runs'; run 2 with boundary state from
    run 1 must equal the single-run gap-fill on the full range."""
    t = _tier(spark, pages).cache()
    mid = t.agg(F.min("bucket_start")).first()[0]
    import datetime

    split = mid + datetime.timedelta(days=3)
    t1 = t.where(F.col("bucket_start") < F.lit(split))
    t2 = t.where(F.col("bucket_start") >= F.lit(split))
    state = last_observation_state(t1)
    run2 = gapfill_locf(t2, "1h", boundary_state=state, range_start=split)
    full = gapfill_locf(t, "1h").where(F.col("bucket_start") >= F.lit(split))
    # compare only urls present in run 2's output (urls that ended before
    # the split have no buckets after it in either computation)
    cols = ["bucket_start", "url", "lang", "point_count", "byte_size",
            "text_len_sum", "text_len_max", "gap_filled"]
    a = run2.select(*cols)
    b = full.select(*cols)
    # run2 only covers urls with activity/state; full covers spans within
    # [first,last] — restrict both to urls observed in t2 or carried state
    keys = t2.select("url").union(state.select("url")).distinct()
    b = b.join(keys, "url", "left_semi").select(*cols)
    a = a.join(keys, "url", "left_semi").select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_bounded_spine_equals_unbounded_filtered(spark):
    """A url whose previous observation is YEARS old must gap-fill only
    the requested window — and produce output identical to the unbounded
    spine filtered to the window (spine clamp, not semantics change)."""
    import datetime

    rows = [
        # url 'a': one observation in 2024, then again in 2026 (the trap)
        ("a", "2024-01-01 00:00:00", 10),
        ("a", "2026-01-01 02:00:00", 20),
        ("a", "2026-01-01 05:00:00", 30),
        # url 'b': only ancient history — no output in the window
        ("b", "2024-06-01 00:00:00", 40),
        # url 'c': lives entirely inside the window
        ("c", "2026-01-01 01:00:00", 50),
        ("c", "2026-01-01 03:00:00", 60),
    ]
    t = spark.createDataFrame(rows, "url string, ts string, v long").selectExpr(
        "cast(ts as timestamp) as bucket_start",
        "xxhash64(url) as url_hash",
        "url",
        "'en' as lang",
        "1L as point_count",
        "v as byte_size",
        "v as text_len_sum",
        "v as text_len_min",
        "v as text_len_max",
    )
    rs = datetime.datetime(2026, 1, 1)
    bounded = gapfill_locf(t, "1h", range_start=rs).cache()
    unbounded = gapfill_locf(t, "1h").where(F.col("bucket_start") >= F.lit(rs))

    cols = ["bucket_start", "url", "lang", "point_count", "byte_size",
            "text_len_sum", "text_len_max", "gap_filled"]
    a, b = bounded.select(*cols), unbounded.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # the spine is BOUNDED: url 'a' contributes only window buckets
    # (00:00–05:00 → 6 rows at 1h), not 2 years (~17.5k rows)
    assert bounded.where("url = 'a'").count() == 6
    assert bounded.where("url = 'b'").count() == 0
    # carry-in from the pre-window observation reaches the window's gap rows
    first_a = bounded.where("url = 'a'").orderBy("bucket_start").first()
    assert first_a["gap_filled"] and first_a["byte_size"] == 10


def test_bounded_spine_with_boundary_state(spark, pages):
    """range_start + boundary_state together (the pipeline's cross-run
    shape): bounded output still equals the full-range recompute."""
    t = _tier(spark, pages).cache()
    mid = t.agg(F.min("bucket_start")).first()[0]
    import datetime

    split = mid + datetime.timedelta(days=3)
    t1 = t.where(F.col("bucket_start") < F.lit(split))
    t2 = t.where(F.col("bucket_start") >= F.lit(split))
    state = last_observation_state(t1)
    run2 = gapfill_locf(t2, "1h", boundary_state=state, range_start=split)
    full = gapfill_locf(t, "1h").where(F.col("bucket_start") >= F.lit(split))
    keys = t2.select("url").union(state.select("url")).distinct()
    cols = ["bucket_start", "url", "lang", "point_count", "byte_size",
            "text_len_sum", "text_len_max", "gap_filled"]
    a = run2.join(keys, "url", "left_semi").select(*cols)
    b = full.join(keys, "url", "left_semi").select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_pandas_variant_equals_jvm_plan(spark, pages):
    from chainalytic_framework_spark.operators.gapfill import gapfill_locf_pandas

    t = _tier(spark, pages)
    cols = ["bucket_start", "url_hash", "url", "lang", "point_count",
            "byte_size", "text_len_sum", "text_len_min", "text_len_max", "gap_filled"]
    a = gapfill_locf(t, "1h").select(*cols)
    b = gapfill_locf_pandas(t, "1h").select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_interpolate_midpoints_and_passthrough(spark):
    from chainalytic_framework_spark.operators.gapfill import gapfill_interpolate_epoch

    # key 1: observations at t=0 (v=100) and t=300 (v=130); 60s buckets
    obs = spark.createDataFrame(
        [(1, 0, 100), (1, 300, 130), (2, 0, 7)],
        "k long, bucket_epoch long, v long",
    )
    out = gapfill_interpolate_epoch(obs, ["k"], "bucket_epoch", "v", 60)
    got = {(r["k"], r["bucket_epoch"]): (r["v_x1e4"], r["gap_filled"]) for r in out.collect()}
    # exact linear ramp: 100, 106, 112, 118, 124, 130 (x1e4)
    assert got[(1, 0)] == (1_000_000, False)
    assert got[(1, 60)] == (1_060_000, True)
    assert got[(1, 120)] == (1_120_000, True)
    assert got[(1, 180)] == (1_180_000, True)
    assert got[(1, 240)] == (1_240_000, True)
    assert got[(1, 300)] == (1_300_000, False)
    # single-observation key: no gaps, passthrough only
    assert got[(2, 0)] == (70_000, False)
    assert len([k for k in got if k[0] == 2]) == 1


def test_interpolate_no_gaps_is_identity(spark):
    from chainalytic_framework_spark.operators.gapfill import gapfill_interpolate_epoch

    obs = spark.createDataFrame(
        [(1, 0, 10), (1, 60, 20), (1, 120, 15)],
        "k long, bucket_epoch long, v long",
    )
    out = gapfill_interpolate_epoch(obs, ["k"], "bucket_epoch", "v", 60).collect()
    assert all(not r["gap_filled"] for r in out)
    assert {r["v_x1e4"] for r in out} == {100_000, 200_000, 150_000}


# --------------------------------------------------------------------------
# interp_at_points: arbitrary-timestamp interpolated serving
# --------------------------------------------------------------------------


def _interp(spark, obs_rows, point_rows):
    from chainalytic_framework_spark.operators.gapfill import interp_at_points

    obs = spark.createDataFrame(obs_rows, "k string, t long, v long")
    pts = spark.createDataFrame(point_rows, "k string, t long")
    out = interp_at_points(obs, ["k"], "t", "v", pts)
    return {(r.k, r.t_q): (r.v_interp_x1e4, r.bracketed) for r in out.collect()}


def test_interp_at_exact_observation_and_midpoint(spark):
    obs = [("a", 0, 100), ("a", 1000, 300)]
    got = _interp(spark, obs, [("a", 0), ("a", 500), ("a", 1000)])
    assert got[("a", 0)] == (100 * 10000, True)
    assert got[("a", 500)] == (200 * 10000, True)  # exact midpoint
    assert got[("a", 1000)] == (300 * 10000, True)


def test_interp_at_no_extrapolation(spark):
    obs = [("a", 100, 7), ("a", 200, 9)]
    got = _interp(spark, obs, [("a", 50), ("a", 250), ("a", 150)])
    assert got[("a", 50)] == (None, False)
    assert got[("a", 250)] == (None, False)
    assert got[("a", 150)] == (8 * 10000, True)


def test_interp_at_floor_division_and_negatives(spark):
    # v drops 100 -> -50 over 3 seconds; at t=1: 100 + floor(-150e4/3) = 50e4
    obs = [("a", 0, 100), ("a", 3, -50)]
    got = _interp(spark, obs, [("a", 1), ("a", 2)])
    assert got[("a", 1)] == (50 * 10000, True)
    assert got[("a", 2)] == (0, True)


def test_interp_at_keys_are_independent(spark):
    obs = [("a", 0, 10), ("a", 100, 20), ("b", 50, 1000)]
    got = _interp(spark, obs, [("a", 50), ("b", 50), ("b", 60)])
    assert got[("a", 50)] == (15 * 10000, True)
    assert got[("b", 50)] == (1000 * 10000, True)  # on the only obs
    assert got[("b", 60)] == (None, False)  # beyond single-point series
