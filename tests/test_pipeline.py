"""Pipeline resumability (T1 semantics): incremental runs equal one full
run; re-running committed work is a no-op; retention drops partitions
only when safely covered."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.retention import (
    DEFAULT_HORIZONS,
    enforce_retention,
    safe_horizon,
)
from chainalytic_framework_spark.plans.checkpoint import read_manifest
from chainalytic_framework_spark.plans.pipeline import run_pipeline
from chainalytic_framework_spark.synth import generate_pages
from chainalytic_framework_spark.tables import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


def test_incremental_equals_full(spark, tmp_path):
    pages = generate_pages(spark, 4000).cache()
    cut = dt.datetime(2024, 1, 4)
    flags = dict(with_fold=False, with_sketches=True, with_histograms=True)

    full_store = TableStore(spark, str(tmp_path / "full"))
    run_pipeline(spark, pages, full_store, **flags)

    inc_store = TableStore(spark, str(tmp_path / "inc"))
    run_pipeline(spark, pages.where(F.col("warc_ts") < F.lit(cut)), inc_store, **flags)
    r2 = run_pipeline(spark, pages, inc_store, **flags)
    assert r2["pending_days"] > 0

    # HLL sketches are compared by their estimate, not their bytes
    sketch_cols = ["bucket_start", "lang", "point_count",
                   F.hll_sketch_estimate("url_sketch").alias("est")]
    for tier in ("1m", "1h", "1d", "30d"):
        for table, cols in ((f"tier_{tier}", ["*"]), (f"hist_{tier}", ["*"]),
                            (f"sketch_{tier}", sketch_cols)):
            a = full_store.read(table).select(*cols)
            b = inc_store.read(table).select(*cols)
            assert a.exceptAll(b).count() == 0, table
            assert b.exceptAll(a).count() == 0, table


def test_rerun_is_noop(spark, store):
    pages = generate_pages(spark, 2000).cache()
    r1 = run_pipeline(spark, pages, store, with_fold=False)
    assert r1["pending_days"] > 0
    r2 = run_pipeline(spark, pages, store, with_fold=False)
    assert r2["pending_days"] == 0
    m = read_manifest(store)
    days = store.read("tier_1m").select("bucket_day").distinct().count()
    assert m.where("tier = '1m'").count() == days  # one row per committed day


def test_manifest_metrics(spark, store):
    pages = generate_pages(spark, 2000).cache()
    run_pipeline(spark, pages, store, with_fold=True, with_sketches=True,
                 with_histograms=True, with_cold_tier=True)
    m = read_manifest(store).toPandas()
    chains = {"sketches", "histograms", "fold", "cold_1d"}
    assert set(m["tier"]) == {"1m", "1h", "1d", "30d"} | chains
    assert (m["wall_seconds"] > 0).all()
    assert (m[m["tier"] == "1m"]["docs_per_sec"] > 0).all()
    # chains that ran beside the tier chain get the input-doc count too
    docs = store.read("tier_1m").agg(F.sum("point_count")).first()[0]
    for tier in chains:
        rows = m[m["tier"] == tier]
        assert len(rows) == 1, tier
        assert (rows["rows_in"] == docs).all(), tier
        assert (rows["docs_per_sec"] > 0).all(), tier


def test_fold_state_incremental(spark, store):
    pages = generate_pages(spark, 3000).cache()
    cut = dt.datetime(2024, 1, 4)
    run_pipeline(spark, pages.where(F.col("warc_ts") < F.lit(cut)), store, with_fold=True)
    run_pipeline(spark, pages, store, with_fold=True)
    state_inc = store.read("fold_state").drop("state_bucket")

    from chainalytic_framework_spark.operators.fold import extract_state, fold_observations, prepare_observations

    expect = extract_state(fold_observations(prepare_observations(pages)))
    assert state_inc.exceptAll(expect).count() == 0
    assert expect.exceptAll(state_inc).count() == 0


def _mk_pages(spark, rows):
    """rows: (url, ts_str, text) → pages frame."""
    return spark.createDataFrame(
        [(u, t, bytearray(f"<html>{txt}</html>", "utf8"), txt, "en") for u, t, txt in rows],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))


def _file_listing(store, table):
    import os

    base = store.path(table)
    out = {}
    for dirpath, _, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, base)] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def test_state_merge_touches_only_affected_buckets(spark, tmp_path):
    """State commits are bucket-surgical: a run that touches 2 urls must
    leave every other state bucket's files byte-identical on disk."""
    store = TableStore(spark, str(tmp_path / "wh"))
    day1 = [(u, "2024-01-01 08:00:00", f"t1 {u}") for u in ("uA", "uB", "uC", "uD", "uE")]
    run_pipeline(spark, _mk_pages(spark, day1), store, with_fold=True)
    before = _file_listing(store, "fold_state")

    day2 = [("uA", "2024-01-02 08:00:00", "t2 uA"), ("uD", "2024-01-02 09:00:00", "t2 uD")]
    run_pipeline(spark, _mk_pages(spark, day1 + day2), store, with_fold=True)
    after = _file_listing(store, "fold_state")

    # buckets (xxhash64 pmod 64): uA=60 uB=24 uC=10 uD=56 uE=22
    touched = {"state_bucket=60", "state_bucket=56"}
    for rel, meta in before.items():
        bucket = rel.split("/")[0]
        if bucket not in touched:
            assert after.get(rel) == meta, f"untouched {rel} was rewritten"
    for b in touched:
        assert {r for r in after if r.startswith(b)} != {
            r for r in before if r.startswith(b)
        }, f"{b} should have been rewritten"

    # and the merged state equals a from-scratch fold of everything
    from chainalytic_framework_spark.operators.fold import (
        extract_state, fold_observations, prepare_observations,
    )

    expect = extract_state(fold_observations(prepare_observations(_mk_pages(spark, day1 + day2))))
    got = store.read("fold_state").drop("state_bucket")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_targeted_backfill_equals_full_rebuild(spark, tmp_path):
    """An out-of-order backfill day re-folds ONLY urls present in that
    day: result equals a from-scratch rebuild bit-for-bit, and day
    partitions / state buckets of untouched urls are never rewritten."""
    store = TableStore(spark, str(tmp_path / "wh"))
    v1 = [
        ("uA", "2024-01-01 08:00:00", "a1"), ("uB", "2024-01-01 09:00:00", "b1"),
        ("uD", "2024-01-02 08:00:00", "d1"),
        ("uA", "2024-01-03 08:00:00", "a3"), ("uC", "2024-01-03 09:00:00", "c3"),
        ("uE", "2024-01-04 08:00:00", "e4"),
    ]
    run_pipeline(spark, _mk_pages(spark, v1), store, with_fold=True, input_snapshot_id="s1")
    fold_before = _file_listing(store, "fold_events")
    state_before = _file_listing(store, "fold_state")

    # day 2 is re-delivered with a previously-missed uA crawl: the
    # orchestrator invalidates that day's manifest rows (re-delivery)
    backfill_row = ("uA", "2024-01-02 12:00:00", "a2-late")
    m = store.read("checkpoints")
    keep = m.where("NOT (tier = '1m' AND to_date(bucket_range_start) = date'2024-01-02')")
    keep.write.mode("overwrite").parquet(store.path("checkpoints_new"))
    store.write(store.read("checkpoints_new"), "checkpoints")

    v2 = v1 + [backfill_row]
    r = run_pipeline(spark, _mk_pages(spark, v2), store, with_fold=True, input_snapshot_id="s1")
    assert r["pending_days"] == 1  # only the invalidated day

    # bit-for-bit equality with a from-scratch rebuild on v2
    fresh = TableStore(spark, str(tmp_path / "fresh"))
    run_pipeline(spark, _mk_pages(spark, v2), fresh, with_fold=True, input_snapshot_id="s1")
    for tbl in ("fold_events", "fold_state"):
        a, b = store.read(tbl), fresh.read(tbl)
        assert a.exceptAll(b).count() == 0, tbl
        assert b.exceptAll(a).count() == 0, tbl

    # surgical scope: touched urls = {uA, uD} (present in day 2).
    # uE lives alone in day 4 / bucket 22 — its fold partition and state
    # bucket files must be byte-identical.
    fold_after = _file_listing(store, "fold_events")
    state_after = _file_listing(store, "fold_state")
    for rel, meta in fold_before.items():
        if rel.startswith("bucket_day=2024-01-04"):
            assert fold_after.get(rel) == meta, f"day-4 fold partition rewritten: {rel}"
    for rel, meta in state_before.items():
        if rel.split("/")[0] in ("state_bucket=22", "state_bucket=10", "state_bucket=24"):
            assert state_after.get(rel) == meta, f"untouched state bucket rewritten: {rel}"

    # staging scratch is cleaned up after the merge commits (it held a
    # full copy of the touched partitions); the surgical-scope claims it
    # used to witness are covered by the byte-identical file listings
    # above (day-4 partition and uE's state bucket never rewritten)
    import os

    assert not os.path.isdir(store.path("fold_events__staged"))
    assert not os.path.isdir(store.path("fold_state__staged"))


def test_retention_drops_only_covered(spark, store):
    pages = generate_pages(spark, 2000).cache()
    run_pipeline(spark, pages, store, with_fold=False)
    now = dt.datetime(2024, 3, 1)
    # 1m horizon is 7 days → all Jan buckets expired; 1h tier committed
    # through Jan 8 so cover allows the drop
    parent_max = store.read("tier_1h").agg(F.max("bucket_start")).first()[0]
    dropped = enforce_retention(store, "tier_1m", "1m", now, parent_committed_max=parent_max)
    assert dropped > 0
    # but if parent had no coverage, nothing can be dropped
    h = safe_horizon(now - dt.timedelta(seconds=DEFAULT_HORIZONS["1m"]), dt.datetime(2023, 12, 1), "1h")
    assert h == dt.datetime(2023, 12, 1)


def test_safe_horizon_epoch_space():
    """Horizon math is done in UTC epoch space: tz-aware, naive-UTC and
    raw-epoch inputs all agree regardless of the driver's local zone."""
    naive = dt.datetime(2024, 2, 1, 12, 30)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    import calendar

    epoch = calendar.timegm(naive.timetuple())
    req = dt.datetime(2024, 3, 1)
    for pmax in (naive, aware, epoch):
        h = safe_horizon(req, pmax, "1h")
        assert h == dt.datetime(2024, 2, 1, 12, 0)  # floored to the 1h cover


def test_pipeline_cold_and_retention_stages(spark, store):
    import datetime as dt2

    pages = generate_pages(spark, 2000).cache()
    r = run_pipeline(
        spark, pages, store, with_fold=False, with_cold_tier=True,
        enforce_retention_now=dt2.datetime(2024, 3, 1),
    )
    assert r["pending_days"] > 0
    cold = store.read("cold_1d")
    assert cold.count() > 0
    assert {"blob", "n_points", "t0", "t1"} <= set(cold.columns)
    # 1m horizon (7d) passed for Jan data and 1h cover exists → dropped
    assert not store.exists("tier_1m") or \
        store.read("tier_1m").count() < store.read("tier_1h").count() * 100
    m = read_manifest(store)
    assert m.where("tier = 'cold_1d'").count() == 1


def test_cli_run_idempotent(spark, tmp_path):
    """python -m chainalytic_framework_spark: synth -> run -> no-op re-run
    (the spark-submit entry point; reuses the active test session)."""
    import json

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    store = TableStore(spark, wh)
    assert store.exists("tier_30d") and store.exists("fold_state")

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["pending_days"] == 0

    # serve-forecast: router-fed Holt fit over the stored tiers
    from pyspark.sql import functions as F

    t1m = store.read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a, b = -(-lo // 3600) * 3600, (hi // 3600) * 3600
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-forecast", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "lang", "--zero-fill", "--horizon", "4"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["grain"] == "1h" and len(out["rows"]) > 0
    assert {r["step"] for r in out["rows"] if r["lang"] == out["rows"][0]["lang"]} == {1, 2, 3, 4}

    # serve-chart: routed series decimated to <= npoints per key (LTTB)
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-chart", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "lang", "--npoints", "10"])
    ch = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert len(ch["rows"]) > 0
    by_lang: dict = {}
    for r in ch["rows"]:
        by_lang.setdefault(r["lang"], []).append(r["t"])
    full = {r["lang"]: r["n"] for r in store.read("tier_1h")
            .groupBy("lang").agg(F.countDistinct("bucket_start").alias("n")).collect()}
    for lang, ts in by_lang.items():
        assert len(ts) <= 10
        if full.get(lang, 0) > 10:  # decimation actually triggered
            assert len(ts) == 10

    # serve-chart --method m4: exact min/max envelope, ≤4 points per
    # pixel bucket, bounded by npoints per key
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-chart", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "lang", "--npoints", "12",
              "--method", "m4"])
    m4 = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert m4["method"] == "m4" and len(m4["rows"]) > 0
    per_bucket: dict = {}
    per_lang: dict = {}
    for r in m4["rows"]:
        assert a <= r["t"] < b
        per_bucket.setdefault((r["lang"], r["bucket_epoch"]), []).append(r["v"])
        per_lang.setdefault(r["lang"], []).append(r["v"])
    assert all(len(v) <= 4 for v in per_bucket.values())
    assert all(len(v) <= 12 for v in per_lang.values())

    # cold: move all fully-closed 1d days into blob storage
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["cold", "--warehouse", wh, "--tier", "1d",
              "--before", "2030-01-01T00:00:00"])
    cold_out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert cold_out["days_moved"] > 0
    from chainalytic_framework_spark.operators.cold_store import read_tier_with_cold

    assert read_tier_with_cold(store, "1d").count() > 0
    assert not store.exists("tier_1d") or store.read("tier_1d").isEmpty()

    # serve-distinct over the sketch tiers written by run --with-sketches
    main(["run", "--input", pages_out, "--warehouse", wh,
          "--snapshot-id", "s2", "--with-sketches"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-distinct", "--warehouse", wh, "--t0", str(a), "--t1", str(b)])
    d_out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert len(d_out["rows"]) > 0
    assert all(r["distinct_est"] > 0 for r in d_out["rows"])


def test_histogram_tiers_incremental_equals_direct(spark, tmp_path):
    """with_histograms: the pipeline's incrementally-maintained hist_1d
    must equal a direct histogram of all raw pages — including after a
    second incremental run appends new days."""
    from pyspark.sql import functions as F

    from chainalytic_framework_spark.operators.histogram import histogram_rollup
    from chainalytic_framework_spark.plans.pipeline import run_pipeline
    from chainalytic_framework_spark.synth import generate_pages
    from chainalytic_framework_spark.tables import TableStore

    pages = generate_pages(spark, 4000).cache()
    days = sorted(r["d"] for r in
                  pages.select(F.to_date("warc_ts").alias("d")).distinct().collect())
    split = days[len(days) // 2]
    store = TableStore(spark, str(tmp_path / "wh"))

    first = pages.where(F.to_date("warc_ts") <= F.lit(split))
    run_pipeline(spark, first, store, with_fold=False, with_histograms=True,
                 input_snapshot_id="s1")
    run_pipeline(spark, pages, store, with_fold=False, with_histograms=True,
                 input_snapshot_id="s2")

    got = store.read("hist_1d").select("lang", "bucket_epoch", "hb_lo", "hb_count")
    be = (F.col("warc_ts").cast("long") / 86400).cast("long") * 86400
    want = histogram_rollup(
        pages.select("lang", "warc_ts", F.length("text").cast("long").alias("text_len")),
        be, ["lang"], F.col("text_len"),
    ).select("lang", "bucket_epoch", "hb_lo", F.col("hb_count").cast("long"))
    got = got.select("lang", "bucket_epoch", "hb_lo", F.col("hb_count").cast("long"))
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_cli_serve_trend(spark, tmp_path):
    """serve-trend: routed series -> exact linfit + changepoint +
    drawdown per key, one JSON line."""
    import io
    import json
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    store = TableStore(spark, wh)
    t1m = store.read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a, b = -(-lo // 3600) * 3600, (hi // 3600) * 3600
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-trend", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "lang"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["rows"], "expected at least one lang row"
    for r in out["rows"]:
        assert {"n_points", "slope_x1e4", "r2_signed_x1e4", "change_epoch",
                "abs_dev", "max_drawdown", "trough_epoch"} <= set(r)
        assert -10000 <= r["r2_signed_x1e4"] <= 10000
        assert r["max_drawdown"] >= 0
        if r["n_points"] > 1:  # 1-bucket series: changepoint is NULL, row kept
            assert a <= r["change_epoch"] < b
        else:
            assert r["change_epoch"] is None


def test_cli_serve_drift(spark, tmp_path):
    """serve-drift: PSI between two routed ranges from the stored hist
    tiers; self-comparison is exactly zero drift."""
    import io
    import json
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh,
          "--snapshot-id", "s1", "--with-histograms"])
    store = TableStore(spark, wh)
    h = store.read("hist_1d")
    lo = h.agg(F.min("bucket_epoch")).first()[0]
    hi = h.agg(F.max("bucket_epoch")).first()[0] + 86400
    mid = lo + ((hi - lo) // (2 * 86400)) * 86400

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-drift", "--warehouse", wh,
              "--a0", str(lo), "--a1", str(mid),
              "--b0", str(mid), "--b1", str(hi), "--keys", "lang"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["rows"], "expected per-lang drift rows"
    for r in out["rows"]:
        assert r["psi_x1e8"] >= 0 and r["n_bins_both"] >= 0

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-drift", "--warehouse", wh,
              "--a0", str(lo), "--a1", str(hi),
              "--b0", str(lo), "--b1", str(hi), "--keys", "lang"])
    self_cmp = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert self_cmp["rows"]
    for r in self_cmp["rows"]:
        assert r["psi_x1e8"] == 0
        assert r["n_bins_a_only"] == 0 and r["n_bins_b_only"] == 0


def test_cli_serve_trend_movers(spark, tmp_path):
    """serve-trend --movers: rows ranked by |slope| desc, limit applied."""
    import io
    import json
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    store = TableStore(spark, wh)
    t1m = store.read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a, b = -(-lo // 3600) * 3600, (hi // 3600) * 3600
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-trend", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "url", "--movers", "--limit", "5"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    rows = out["rows"]
    assert 0 < len(rows) <= 5
    slopes = [abs(r["slope_x1e4"]) for r in rows]
    assert slopes == sorted(slopes, reverse=True)


def test_cli_serve_sax(spark, tmp_path):
    """serve-sax: shape words over the routed read; --like returns the
    reference key itself plus only same-word keys."""
    import io
    import json
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    store = TableStore(spark, wh)
    t1m = store.read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a, b = -(-lo // 3600) * 3600, (hi // 3600) * 3600
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-sax", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "lang", "--segments", "4",
              "--alphabet", "2"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    rows = out["rows"]
    assert rows and all(set(r["word"]) <= {"a", "b"} for r in rows)
    ref = rows[0]["lang"]
    ref_word = rows[0]["word"]
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-sax", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "lang", "--segments", "4",
              "--alphabet", "2", "--like", ref])
    like = json.loads(buf.getvalue().strip().splitlines()[-1])["rows"]
    assert any(r["lang"] == ref for r in like)
    assert all(r["word"] == ref_word for r in like)


def test_cli_crawl_plan(spark, tmp_path):
    """crawl-plan: fold history -> recrawl due times -> per-host
    politeness grid; gap invariant holds within every host."""
    import io
    import json
    from collections import defaultdict
    from contextlib import redirect_stdout

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["crawl-plan", "--warehouse", wh, "--gap", "300",
              "--limit", "500"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["n_urls"] > 0
    rows = out["rows"]
    assert rows
    byhost = defaultdict(list)
    for r in rows:
        assert r["fetch_epoch"] >= r["due_epoch"]
        byhost[r["host"]].append(r["fetch_epoch"])
    for fetches in byhost.values():
        fetches.sort()
        assert all(b - a >= 300 for a, b in zip(fetches, fetches[1:]))


def test_cli_serve_trend_robust(spark, tmp_path):
    """serve-trend --robust: adds Theil-Sen median slope + Mann-Kendall S
    columns; the robust slope agrees in SIGN with |S| direction."""
    import io
    import json
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    store = TableStore(spark, wh)
    t1m = store.read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a, b = -(-lo // 3600) * 3600, (hi // 3600) * 3600
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-trend", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
              "--grain", "1h", "--keys", "lang", "--robust"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["rows"]
    for r in out["rows"]:
        assert {"robust_slope_x1e4", "mk_s", "n_pairs"} <= set(r)
        if r["n_pairs"]:
            assert r["n_pairs"] == r["n_points"] * (r["n_points"] - 1) // 2
            # monotone-direction consistency: a strictly positive robust
            # slope cannot coexist with a strongly negative S, and v.v.
            if r["robust_slope_x1e4"] and r["robust_slope_x1e4"] > 0:
                assert r["mk_s"] >= -r["n_pairs"] // 2
            if r["robust_slope_x1e4"] and r["robust_slope_x1e4"] < 0:
                assert r["mk_s"] <= r["n_pairs"] // 2


def test_cli_serve_alerts(spark, tmp_path):
    """serve-alerts: hysteresis episodes over the routed read. With
    hi=1/lo=0 every key fires at its first bucket and (point_count
    never reaching 0) stays open to the end — exactly one episode per
    key spanning its series; with an unreachable hi, zero episodes."""
    import io
    import json
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    store = TableStore(spark, wh)
    t1m = store.read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a, b = -(-lo // 3600) * 3600, (hi // 3600) * 3600
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-alerts", "--warehouse", wh, "--t0", str(a),
              "--t1", str(b), "--grain", "1h", "--keys", "lang",
              "--hi", "1", "--lo", "0"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["rows"], "hi=1 must fire for every lang with any bucket"
    langs = {r["lang"] for r in out["rows"]}
    for r in out["rows"]:
        # one never-closing episode per key, spanning its whole series
        assert r["episode"] == 1
        assert a <= r["episode_start"] <= r["episode_end"] < b
        assert r["n_buckets"] >= 1 and r["peak_value"] >= 1
    assert len(out["rows"]) == len(langs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-alerts", "--warehouse", wh, "--t0", str(a),
              "--t1", str(b), "--grain", "1h", "--keys", "lang",
              "--hi", str(10**9), "--lo", "0"])
    out2 = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out2["rows"] == []


def test_cli_serve_contribution(spark, tmp_path):
    """serve-contribution: per-key delta + share of the total move
    between two disjoint routed ranges, ranked by |delta|."""
    import io
    import json
    from contextlib import redirect_stdout

    import pytest
    from pyspark.sql import functions as F

    from chainalytic_framework_spark.__main__ import main

    pages_out = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1"])
    store = TableStore(spark, wh)
    t1m = store.read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    a = -(-lo // 3600) * 3600
    b = (hi // 3600) * 3600
    mid = a + ((b - a) // 2 // 3600) * 3600
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["serve-contribution", "--warehouse", wh,
              "--a0", str(a), "--a1", str(mid),
              "--b0", str(mid), "--b1", str(b),
              "--grain", "1h", "--keys", "lang"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["rows"], "expected at least one lang row"
    total = out["rows"][0]["total_delta"]
    assert sum(r["delta"] for r in out["rows"]) == total
    deltas = [abs(r["delta"]) for r in out["rows"]]
    assert deltas == sorted(deltas, reverse=True)  # ranked by |delta|
    for r in out["rows"]:
        assert r["v_a"] + r["delta"] == r["v_b"]
        assert r["total_delta"] == total
    if total != 0:
        s = sum(r["share_x1e4"] for r in out["rows"])
        assert abs(s - 10000) <= len(out["rows"])
    # overlapping ranges must be rejected before any Spark work
    with pytest.raises(SystemExit):
        main(["serve-contribution", "--warehouse", wh,
              "--a0", str(a), "--a1", str(b),
              "--b0", str(mid), "--b1", str(b),
              "--grain", "1h", "--keys", "lang"])
