"""Regression tests for code-review findings (round 2 review)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from chainalytic_framework_spark.tables import TableStore


def _store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


def test_merge_upsert_empty_delta_is_noop(spark, tmp_path):
    """Zero-row pending days produce an empty state delta; merging it
    must neither crash (UNABLE_TO_INFER_SCHEMA on a zero-file staged
    table) nor touch the stored table."""
    store = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [("u1", 0, 1), ("u2", 1, 2)], "url string, state_bucket int, v long"
    )
    store.write(df, "st", partition_by=["state_bucket"])
    before = store.snapshot_id("st")
    empty = df.where("v < 0")
    store.merge_upsert(empty, "st", key="url", partition_col="state_bucket")
    assert store.snapshot_id("st") == before
    # empty delta against a NONEXISTENT table is also a no-op
    store.merge_upsert(empty, "st_new", key="url", partition_col="state_bucket")
    assert not store.exists("st_new")


def test_merge_upsert_cleans_staging_dir(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [("u1", 0, 1), ("u2", 1, 2)], "url string, state_bucket int, v long"
    )
    store.write(df, "st", partition_by=["state_bucket"])
    delta = spark.createDataFrame([("u1", 0, 9)], "url string, state_bucket int, v long")
    store.merge_upsert(delta, "st", key="url", partition_col="state_bucket")
    assert not os.path.isdir(store.path("st__staged"))
    got = {(r["url"], r["v"]) for r in store.read("st").collect()}
    assert got == {("u1", 9), ("u2", 2)}


def test_safe_horizon_missing_cover_deletes_nothing(spark):
    """A tier WITH a designated coarser cover whose table is missing or
    empty must clamp its deletion horizon to epoch 0 (delete nothing) —
    not fall through to the raw horizon."""
    from chainalytic_framework_spark.operators.retention import safe_horizon

    req = dt.datetime(2024, 3, 1)
    # no cover designated (coarsest tier): unclamped
    assert safe_horizon(req, None, None) == req
    # cover designated but not committed yet: clamp to epoch 0
    assert safe_horizon(req, None, "1d") == dt.datetime(1970, 1, 1)


def test_retention_respects_schedule_skipped_tiers(spark, tmp_path):
    """metric sets may skip tiers (1m -> 1d directly): retention of 1m
    must clamp on the tier_<ms>_1d cover, not the nonexistent 1h."""
    from chainalytic_framework_spark.operators.registry import (
        MetricSet, MetricSpec, register,
    )
    from chainalytic_framework_spark.plans.pipeline import run_pipeline

    register(
        MetricSet(
            name="skip_ret",
            metrics=(
                MetricSpec("point_count", lambda: F.count(F.lit(1)),
                           lambda: F.sum("point_count")),
            ),
            tiers=("1m", "1d"),
        ),
        replace=True,
    )
    pages = spark.createDataFrame(
        [("u1", dt.datetime(2024, 1, 1 + i, 8), b"h", "t", "en") for i in range(3)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    store = _store(spark, tmp_path)
    # enforce retention far in the future: every 1m day is past horizon,
    # but the clamp must hold deletes to what tier_skip_ret_1d covers
    run_pipeline(spark, pages, store, metric_set="skip_ret", with_fold=False,
                 enforce_retention_now=dt.datetime(2034, 1, 1))
    kept_1m_days = {
        str(r["bucket_day"])
        for r in store.read("tier_skip_ret_1m").select("bucket_day").distinct().collect()
    }
    # 1d cover committed through 2024-01-03's bucket: its bucket START
    # (2024-01-03) is the covered-until point, so days 1-2 may drop and
    # day 3 MUST survive
    assert "2024-01-03" in kept_1m_days


def test_metric_sets_use_namespaced_tier_tables(spark, tmp_path):
    """Two metric sets against one warehouse must not mix schemas in a
    shared tier path."""
    from chainalytic_framework_spark.plans.pipeline import _tier_table

    assert _tier_table("1m") == "tier_1m"
    assert _tier_table("1m", "default") == "tier_1m"
    assert _tier_table("1m", "textstats") == "tier_textstats_1m"


def test_compact_stream_preserves_lang_variants(spark, tmp_path):
    """Stream/batch conflict is the FULL tier grain: a batch row with a
    different lang for the same (bucket, url_hash) must survive."""
    from chainalytic_framework_spark.streaming.stream import compact_edge

    store = _store(spark, tmp_path)
    cols = "bucket_start timestamp, url_hash long, url string, lang string, point_count long, bucket_day date"
    b = dt.datetime(2024, 1, 1, 8, 0)
    batch = spark.createDataFrame(
        [(b, 7, "u1", "fr", 3, dt.date(2024, 1, 1))], cols
    )
    stream = spark.createDataFrame(
        [(b, 7, "u1", "en", 5, dt.date(2024, 1, 1))], cols
    )
    store.write(batch, "tier_1m", partition_by=["bucket_day"])
    store.write(stream, "tier_1m_stream", partition_by=["bucket_day"])
    days = compact_edge(store, "tier")
    assert days and str(days[0]) == "2024-01-01"
    got = {(r["lang"], r["point_count"]) for r in store.read("tier_1m").collect()}
    assert got == {("fr", 3), ("en", 5)}


def test_compact_stream_closed_before_keeps_open_day(spark, tmp_path):
    from chainalytic_framework_spark.streaming.stream import compact_edge

    store = _store(spark, tmp_path)
    cols = "bucket_start timestamp, url_hash long, url string, lang string, point_count long, bucket_day date"
    rows = [
        (dt.datetime(2024, 1, 1, 8), 1, "u1", "en", 1, dt.date(2024, 1, 1)),
        (dt.datetime(2024, 1, 2, 8), 2, "u2", "en", 1, dt.date(2024, 1, 2)),
    ]
    store.write(spark.createDataFrame(rows, cols), "tier_1m_stream",
                partition_by=["bucket_day"])
    days = compact_edge(store, "tier", closed_before=dt.date(2024, 1, 2))
    assert [str(d) for d in days] == ["2024-01-01"]
    left = {str(r["bucket_day"]) for r in store.read("tier_1m_stream").collect()}
    assert left == {"2024-01-02"}  # the open day stayed


def test_series_points_sums_lang_variants_deterministically(spark):
    from chainalytic_framework_spark.queries import series_points

    cols = "url string, url_hash long, bucket_start timestamp, point_count long, lang string"
    b = dt.datetime(2024, 1, 1, 8)
    hot = spark.createDataFrame(
        [("u1", 7, b, 3, "fr"), ("u1", 7, b, 5, "en")], cols
    )
    out = series_points(hot, None, measure="point_count").collect()
    assert len(out) == 1 and out[0]["value"] == 8


def test_incremental_lsh_finds_same_day_duplicates(spark):
    """Two near-duplicates arriving in the SAME new batch pair up even
    when the corpus does not contain them yet (probe-before-upsert)."""
    from chainalytic_framework_spark.operators.dedup import (
        band_table, incremental_lsh_pairs, minhash_signatures,
    )

    old = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new = spark.createDataFrame(
        [(100, twin), (101, twin)], "doc_id long, text string"
    )
    inc = incremental_lsh_pairs(minhash_signatures(new), band_table(minhash_signatures(old)))
    got = {(r["id_a"], r["id_b"]) for r in inc.collect()}
    assert (100, 101) in got
