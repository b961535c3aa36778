"""§2.10 metric-spec registry: the default set matches a pandas oracle
and stores integer measures; custom sets cascade losslessly, drive the
pipeline end-to-end (including the fold hook), and honor their tier
schedule."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.fold import prepare_observations
from chainalytic_framework_spark.operators.registry import (
    DEFAULT_SET,
    MetricSet,
    MetricSpec,
    downsample_with_spec,
    get_metric_set,
    metric_sets,
    register,
    rollup_with_spec,
)
from chainalytic_framework_spark.plans.pipeline import run_pipeline
from chainalytic_framework_spark.synth import generate_pages
from chainalytic_framework_spark.tables import TableStore


def _df_equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


MEASURES = ("point_count", "byte_size", "text_len_sum", "text_len_min", "text_len_max")


def _pandas_oracle_url_grain(pdf: pd.DataFrame, secs: int) -> pd.DataFrame:
    """Single-process re-implementation of the default measures (SURVEY.md
    §5 test strategy item 1): what the reference's per-height loop would
    produce, re-keyed to (url, bucket)."""
    df = pdf.copy()
    df["bucket_start"] = pd.to_datetime(
        (df["warc_ts"].astype("int64") // 1_000_000_000 // secs) * secs, unit="s"
    )
    df["text_len"] = df["text"].str.len()
    df["html_len"] = df["html"].map(len)
    g = df.groupby(["bucket_start", "url", "lang"], as_index=False).agg(
        point_count=("url", "size"),
        byte_size=("html_len", "sum"),
        text_len_sum=("text_len", "sum"),
        text_len_min=("text_len", "min"),
        text_len_max=("text_len", "max"),
    )
    return g.sort_values(["bucket_start", "url"], ignore_index=True)


def test_rollup_1h_matches_pandas_oracle(spark, pages):
    got = (
        rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1h")
        .select("bucket_start", "url", "lang", *MEASURES)
        .toPandas()
        .sort_values(["bucket_start", "url"], ignore_index=True)
    )
    exp = _pandas_oracle_url_grain(pages.toPandas(), 3600)
    got["bucket_start"] = got["bucket_start"].astype("datetime64[ns]")
    exp = exp[got.columns]
    for c in MEASURES:
        got[c] = got[c].astype("int64")
        exp[c] = exp[c].astype("int64")
    pd.testing.assert_frame_equal(got, exp)


def test_measures_are_integer_types(spark, pages):
    """Every default measure is stored as bigint, whatever tier builds it."""
    fine = rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1m")
    for df in (fine, downsample_with_spec(fine, DEFAULT_SET, "1h")):
        kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        for c in MEASURES:
            assert kinds[c] == "bigint", (c, kinds[c])


def test_cascade_lang_grain(spark, pages):
    """The cascade is lossless at a non-url grain too."""
    obs = prepare_observations(pages)
    lang = ("lang",)
    stepped = rollup_with_spec(obs, DEFAULT_SET, "1m", keys=lang)
    for child in ("1h", "1d"):
        stepped = downsample_with_spec(stepped, DEFAULT_SET, child, keys=lang)
    direct = rollup_with_spec(obs, DEFAULT_SET, "1d", keys=lang)
    assert stepped.columns == direct.columns == ["bucket_start", "lang", *MEASURES,
                                                 "tier", "gap_filled"]
    assert _df_equal(stepped, direct)


def test_parallelism_invariance(spark, pages):
    """Integer measures ⇒ exact equality across partition layouts
    (the local stand-in for N vs 4N executors)."""
    a = rollup_with_spec(prepare_observations(pages.repartition(2)), DEFAULT_SET, "1h")
    b = rollup_with_spec(prepare_observations(pages.repartition(16)), DEFAULT_SET, "1h")
    assert _df_equal(a, b)


def test_registry_validation():
    with pytest.raises(ValueError, match="point_count"):
        register(MetricSet("nocount", (MetricSpec("x", lambda: F.count(F.lit(1)), lambda: F.sum("x")),)))
    with pytest.raises(ValueError, match="already registered"):
        register(MetricSet("default", get_metric_set("default").metrics))
    with pytest.raises(ValueError, match="unknown tiers"):
        register(MetricSet("badtier", get_metric_set("default").metrics, tiers=("5m",)))
    with pytest.raises(KeyError):
        get_metric_set("nope")
    assert {"default", "textstats"} <= set(metric_sets())


def test_custom_set_cascade_lossless(spark, pages):
    """Mergeability invariant for every registered set: cascading the
    fine tier through the schedule == direct rollup at the coarse tier."""
    obs = prepare_observations(pages)
    for name in metric_sets():
        ms = get_metric_set(name)
        fine = rollup_with_spec(obs, ms, ms.finest())
        stepped = fine
        for child, _parent in ms.cascade_pairs():
            stepped = downsample_with_spec(stepped, ms, child)
            direct = rollup_with_spec(obs, ms, child)
            assert _df_equal(stepped, direct), (name, child)


def test_pipeline_with_custom_metric_set(spark, tmp_path, pages):
    """The reference's drop-in-a-Transform contract: register a set with
    a custom metric + fold fn, run the pipeline, find both in output."""

    def change_fold(obs):
        # toy Transform: one row per (url, day) with the day's max text_len
        return (
            obs.groupBy("url", F.to_date("warc_ts").alias("d"))
            .agg(F.max("warc_ts").alias("warc_ts"), F.max("text_len").alias("max_text_len"))
            .drop("d")
        )

    ms = register(
        MetricSet(
            name="test_custom",
            metrics=(
                MetricSpec("point_count", lambda: F.count(F.lit(1)), lambda: F.sum("point_count")),
                MetricSpec(
                    "text_len_sq_sum",
                    lambda: F.sum(F.col("text_len") * F.col("text_len")),
                    lambda: F.sum("text_len_sq_sum"),
                ),
            ),
            tiers=("1m", "1d"),  # schedule skips 1h and 30d
            fold=change_fold,
        ),
        replace=True,
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    r = run_pipeline(spark, pages, store, metric_set="test_custom", with_fold=False)
    assert r["pending_days"] > 0

    # non-default sets write NAMESPACED tier tables (schema isolation
    # from the default set's warehouse)
    t1d = store.read("tier_test_custom_1d")
    assert "text_len_sq_sum" in t1d.columns
    assert not store.exists("tier_1d")  # default tables untouched
    assert not store.exists("tier_test_custom_1h")  # schedule skipped it
    assert not store.exists("tier_test_custom_30d")

    obs = prepare_observations(pages)
    direct = rollup_with_spec(obs, ms, "1d")
    stored = t1d.select(direct.columns)
    assert _df_equal(stored, direct)

    # fold hook committed, and is idempotent under re-run semantics
    fold_tbl = store.read("fold_test_custom")
    assert fold_tbl.count() > 0
    assert "max_text_len" in fold_tbl.columns


def test_textstats_variance_non_negative(spark, pages):
    obs = prepare_observations(pages)
    ms = get_metric_set("textstats")
    t = rollup_with_spec(obs, ms, "1d")
    neg = t.where(
        F.col("point_count") * F.col("text_len_sq_sum")
        < F.col("text_len_sum") * F.col("text_len_sum")
    ).count()
    assert neg == 0


def test_derived_key_set_histogram_tier(spark):
    """A histogram tier registered purely through the §2.10 plugin
    surface (derived_keys) must equal the standalone histogram
    operator's rollup AND cascade output — proving the extension model
    is expressive enough for distribution tiers, not just scalar
    measures."""
    from pyspark.sql import functions as F

    from chainalytic_framework_spark.operators.histogram import (
        decade_digit_bucket,
        histogram_downsample,
        histogram_rollup,
    )
    from chainalytic_framework_spark.operators.registry import (
        MetricSet,
        MetricSpec,
        downsample_with_spec,
        register,
        rollup_with_spec,
    )
    from chainalytic_framework_spark.synth import generate_pages

    ms = register(
        MetricSet(
            name="hist_text_len",
            metrics=(
                MetricSpec("point_count", lambda: F.count(F.lit(1)),
                           lambda: F.sum("point_count")),
            ),
            tiers=("1m", "1h"),
            derived_keys=(("hb_lo", lambda: decade_digit_bucket(F.col("text_len"))),),
        ),
        replace=True,
    )
    pages = generate_pages(spark, 3000).withColumn("text_len", F.length("text"))
    t1m = rollup_with_spec(pages, ms, "1m", keys=("lang",))
    t1h = downsample_with_spec(t1m, ms, "1h", keys=("lang",))

    be = (F.col("warc_ts").cast("long") / 60).cast("long") * 60
    ref_1m = histogram_rollup(pages, be, ["lang"], F.col("text_len"))
    ref_1h = histogram_downsample(ref_1m, ["lang"], 3600)

    got = t1h.select(
        "lang",
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        "hb_lo", F.col("point_count").alias("hb_count"),
    )
    ref = ref_1h.select("lang", "bucket_epoch", "hb_lo", "hb_count")
    assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty()


def test_candles_pipeline_end_to_end(spark, tmp_path, pages):
    """The shipped 'candles' set drives run_pipeline: candle tiers are
    materialized + cascaded, the stored 1d tier equals a direct rollup
    from raw observations, and the opening value of every day candle is
    <= its high and >= its low (struct-partial flattening sanity)."""
    ms = get_metric_set("candles")
    store = TableStore(spark, str(tmp_path / "wh"))
    r = run_pipeline(spark, pages, store, metric_set="candles", with_fold=False)
    assert r["pending_days"] > 0

    t1d = store.read("tier_candles_1d")
    assert {"len_open_k", "len_close_k", "len_high", "len_low"} <= set(t1d.columns)

    obs = prepare_observations(pages)
    direct = rollup_with_spec(obs, ms, "1d")
    stored = t1d.select(direct.columns)
    assert _df_equal(stored, direct)

    bad = t1d.where(
        (F.col("len_open_k.val") > F.col("len_high"))
        | (F.col("len_open_k.val") < F.col("len_low"))
        | (F.col("len_close_k.val") > F.col("len_high"))
        | (F.col("len_close_k.val") < F.col("len_low"))
        | (F.col("len_open_k.ts") > F.col("len_close_k.ts"))
    )
    assert bad.isEmpty()
