"""Cold-tier blobs: Spark-side encode/decode round-trip + compression."""

from __future__ import annotations

from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.cold_store import decode_cold, encode_cold
from chainalytic_framework_spark.operators.fold import prepare_observations
from chainalytic_framework_spark.operators.registry import DEFAULT_SET, rollup_with_spec

MEASURES = ["point_count", "byte_size", "text_len_sum"]


def test_cold_roundtrip(spark, pages):
    tier = rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1h").cache()
    cold = encode_cold(tier, MEASURES, n_buckets=16).cache()
    back = decode_cold(cold)

    # long-form original points
    orig = None
    for m in MEASURES:
        part = tier.select(
            "url", "url_hash", F.lit(m).alias("measure"), "bucket_start",
            F.col(m).cast("long").alias("value"),
        )
        orig = part if orig is None else orig.unionByName(part)

    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def test_cold_metadata_and_compression(spark, pages):
    tier = rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1h")
    cold = encode_cold(tier, MEASURES, n_buckets=16).cache()
    bad = cold.where(
        (F.col("n_points") <= 0) | (F.col("t1") < F.col("t0")) | (F.col("blob_bytes") <= 0)
    )
    assert bad.count() == 0
    # compression beats raw 16B/point on real series (header overhead
    # dominates below ~4 points — cold tiers only pack mature series)
    dense = cold.where(F.col("n_points") >= 16)
    assert dense.count() > 0
    tot = dense.agg(F.sum("raw_bytes").alias("raw"), F.sum("blob_bytes").alias("enc")).first()
    assert tot["enc"] < tot["raw"]


def test_series_points_unified_hot_cold(spark, pages):
    """Cold-migrating a tier then retention-dropping the old hot buckets
    must not change what series_points serves."""
    import datetime as dt

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.operators.cold_store import encode_cold
    from chainalytic_framework_spark.queries import series_points

    tier = rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1d").cache()
    baseline = series_points(tier, None, measure="byte_size")

    cold = encode_cold(tier, measures=["byte_size"]).cache()
    cut = tier.agg(F.min("bucket_start")).first()[0] + dt.timedelta(days=3)
    hot_recent = tier.where(F.col("bucket_start") >= F.lit(cut))  # retention dropped the rest
    unified = series_points(hot_recent, cold, measure="byte_size")

    assert unified.exceptAll(baseline).count() == 0
    assert baseline.exceptAll(unified).count() == 0

    # single-url + window path (blob pruning on metadata)
    u = tier.select("url").first()["url"]
    t0 = dt.datetime(2024, 1, 2)
    a = series_points(tier, None, measure="byte_size", url=u, t0=t0)
    b = series_points(hot_recent, cold, measure="byte_size", url=u, t0=t0)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_cold_policy_roundtrip_and_crash_safety(spark, tmp_path):
    """enforce_cold_policy moves fully-closed days into blobs and drops
    the hot partitions; read_tier_with_cold reproduces the original
    tier exactly — including after a simulated crash (double blob
    append) and a policy re-run."""
    from chainalytic_framework_spark.operators.cold_store import (
        encode_cold,
        enforce_cold_policy,
        read_tier_with_cold,
    )
    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.synth import generate_pages
    from chainalytic_framework_spark.tables import TableStore

    pages = generate_pages(spark, 4000)
    store = TableStore(spark, str(tmp_path / "wh"))
    run_pipeline(spark, pages, store, with_fold=False)

    measures = ["point_count", "byte_size", "text_len_sum"]
    cols = ["url", "url_hash", "bucket_start", *measures]
    original = store.read("tier_1d").select(*cols).collect()
    days = sorted(r["bucket_day"] for r in
                  store.read("tier_1d").select("bucket_day").distinct().collect())
    import calendar
    cutoff = calendar.timegm(days[len(days) // 2].timetuple()) + 86400

    moved = enforce_cold_policy(store, "1d", colder_than_epoch=cutoff)
    assert moved > 0
    remaining = {r["bucket_day"] for r in
                 store.read("tier_1d").select("bucket_day").distinct().collect()}
    assert all(calendar.timegm(d.timetuple()) + 86400 > cutoff for d in remaining)

    got = sorted(map(tuple, read_tier_with_cold(store, "1d").select(*cols).collect()))
    assert got == sorted(map(tuple, original))

    # idempotent re-run: nothing else moves, read unchanged
    assert enforce_cold_policy(store, "1d", colder_than_epoch=cutoff) == 0
    # crash simulation: the blob append happened twice -> distinct saves it
    # re-append the EXISTING blobs verbatim (worst-case replay)
    store.append(store.read("cold_1d"), "cold_1d")
    got2 = sorted(map(tuple, read_tier_with_cold(store, "1d").select(*cols).collect()))
    assert got2 == sorted(map(tuple, original))


def test_cold_policy_rederivation_single_generation(spark, tmp_path):
    """ADVICE r4 (medium): a day that went cold, was re-delivered HOT
    with different values (new input snapshot via pending_days), and
    then re-moved must leave exactly ONE blob generation — the policy
    deletes the stale day-keyed cold rows before appending — and the
    unified read must serve the NEW values, deterministically."""
    import calendar

    from chainalytic_framework_spark.operators.cold_store import (
        decode_cold,
        enforce_cold_policy,
        read_tier_with_cold,
    )
    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.synth import generate_pages
    from chainalytic_framework_spark.tables import TableStore
    from pyspark.sql import functions as F

    measures = ["point_count", "byte_size", "text_len_sum"]
    pages = generate_pages(spark, 4000)
    store = TableStore(spark, str(tmp_path / "wh"))
    run_pipeline(spark, pages, store, with_fold=False)

    days = sorted(r["bucket_day"] for r in
                  store.read("tier_1d").select("bucket_day").distinct().collect())
    victim = days[0]
    cutoff = calendar.timegm(days[len(days) // 2].timetuple()) + 86400
    # materialize the victim day BEFORE the policy deletes its hot copy
    tier_schema = store.read("tier_1d").schema
    victim_rows = store.read("tier_1d").where(
        F.col("bucket_day") == victim
    ).collect()
    assert enforce_cold_policy(store, "1d", colder_than_epoch=cutoff) > 0

    # re-deliver the victim day hot, re-derived under a "new snapshot":
    # every measure shifted by +5 (values differ from the cold blobs)
    redelivered = spark.createDataFrame(victim_rows, tier_schema)
    for m in measures:
        redelivered = redelivered.withColumn(m, F.col(m) + F.lit(5))
    store.append(redelivered, "tier_1d", partition_by=["bucket_day"])

    # second policy run: the victim day is again fully closed -> moves
    # again; stale generation must be replaced, not joined
    assert enforce_cold_policy(store, "1d", colder_than_epoch=cutoff) >= 1

    # exactly one generation per (url, measure) for the victim day
    blobs = store.read("cold_1d").where(F.col("bucket_day") == victim)
    per_key = blobs.groupBy("url", "measure").count()
    assert per_key.where(F.col("count") > 1).count() == 0

    # the unified read serves the re-derived (+5) values for the day
    got = {
        (r["url"],): r["point_count"]
        for r in read_tier_with_cold(store, "1d")
        .where(F.col("bucket_start").cast("date") == victim)
        .collect()
    }
    want = {(r["url"],): r["point_count"] + 5 for r in victim_rows}
    assert got == want

    # and the decoded cold points agree (no conflicting blob survived)
    dec = decode_cold(blobs).where(F.col("measure") == "point_count")
    dec_vals = {(r["url"],): r["value"] for r in dec.collect()}
    assert dec_vals == want


def test_cold_encode_bulk_vs_day_keyed_same_points(spark, pages):
    """day_keyed=False (bulk-export shape: one blob per url×measure)
    decodes to exactly the same point set as the day-keyed policy
    shape — the key granularity changes the blob layout, never the
    data; bulk blobs must also be strictly fewer rows."""
    tier = rollup_with_spec(prepare_observations(pages), DEFAULT_SET, "1h").cache()
    day = encode_cold(tier, MEASURES, n_buckets=16).cache()
    bulk = encode_cold(tier, MEASURES, n_buckets=16, day_keyed=False).cache()
    assert bulk.count() < day.count()
    cols = ["url", "url_hash", "measure", "bucket_start", "value"]
    a = decode_cold(day).select(*cols)
    b = decode_cold(bulk).select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
