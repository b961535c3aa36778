"""Regression tests for code-review findings (round 1 review)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.fold import (
    extract_state,
    fold_observations,
    fold_with_state,
)


def _obs(spark, rows):
    # rows: (url, t_seconds, lang, text_hash)
    df = spark.createDataFrame(rows, "url string, t long, lang string, text_hash long")
    return df.selectExpr(
        "pmod(xxhash64(url), 16) as url_bucket",
        "url",
        "timestamp_seconds(t) as warc_ts",
        "xxhash64(url) as url_hash",
        "lang",
        "text_hash",
        "100 as text_len",
        "200 as html_len",
    ).selectExpr("url_bucket", "url", "warc_ts", "url_hash", "lang",
                 "text_hash", "cast(text_len as long) text_len", "cast(html_len as long) html_len")


def test_fold_state_with_lang_flapping_url(spark):
    """A url crawled under two langs must not crash the incremental fold
    (state was keyed per-(url,lang) → duplicate index in Series.map)."""
    run1 = _obs(spark, [("u1", 100, "en", 7), ("u1", 200, "de", 7), ("u2", 150, "fr", 9)])
    state = extract_state(fold_observations(run1))
    assert state.where("url = 'u1'").count() == 1  # one state row per url
    run2 = _obs(spark, [("u1", 300, "en", 8)])
    out = fold_with_state(run2, state).collect()
    r = [x for x in out if x["url"] == "u1"][0]
    assert r["text_changed"] is True and r["cum_points"] == 3 and r["content_rev"] == 1


def test_fold_hash_comparison_is_exact(spark):
    """Adjacent 64-bit hashes differing only below float53 precision must
    still register as changed (int64→float64 coercion bug)."""
    h1, h2 = 2**62 + 1, 2**62 + 2
    run = _obs(spark, [("u1", 100, "en", h1), ("u1", 200, "en", h2)])
    out = {r["warc_ts"]: r for r in fold_observations(run).collect()}
    changed = [r["text_changed"] for r in out.values()]
    assert sorted(changed) == [False, True]
    # and across the state splice too
    s = extract_state(fold_observations(_obs(spark, [("u1", 100, "en", h1)])))
    out2 = fold_with_state(_obs(spark, [("u1", 200, "en", h2)]), s).first()
    assert out2["text_changed"] is True


def test_recently_active_on_empty_tier(spark):
    from chainalytic_framework_spark.queries import recently_active_urls

    empty = spark.createDataFrame(
        [], "bucket_start timestamp, url string, point_count long"
    )
    assert recently_active_urls(empty).count() == 0


def test_snapshot_change_reprocesses_day(spark, tmp_path):
    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.synth import generate_pages
    from chainalytic_framework_spark.tables import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    pages_v1 = generate_pages(spark, 800)
    r1 = run_pipeline(spark, pages_v1, store, with_fold=False, input_snapshot_id="snap1")
    assert r1["pending_days"] > 0
    # same snapshot → no-op
    r2 = run_pipeline(spark, pages_v1, store, with_fold=False, input_snapshot_id="snap1")
    assert r2["pending_days"] == 0
    # new snapshot with more rows for the same days → reprocessed
    pages_v2 = generate_pages(spark, 1600)
    r3 = run_pipeline(spark, pages_v2, store, with_fold=False, input_snapshot_id="snap2")
    assert r3["pending_days"] > 0
    total = store.read("tier_1d").agg(F.sum("point_count")).first()[0]
    assert total == 1600
