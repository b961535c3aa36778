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


def _cli(argv):
    """Run one CLI command; its last stdout line, parsed as JSON."""
    import io
    import json
    from contextlib import redirect_stdout

    from chainalytic_framework_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(argv)
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _json_rows(rows):
    """Rows as the CLI prints them: ``asDict`` through ``json`` with
    ``default=str``."""
    import json

    return json.loads(json.dumps([r.asDict() for r in rows], default=str))


@pytest.fixture(scope="module")
def cli_wh(spark, tmp_path_factory):
    """One read-only warehouse for the CLI serve tests: ``synth --rows
    2000`` then ``run --with-histograms --with-sketches`` (the tier
    tables do not depend on those flags). ``a``/``b`` bound the 1m
    tier's whole hours."""
    from types import SimpleNamespace

    from chainalytic_framework_spark.__main__ import main

    base = tmp_path_factory.mktemp("cli_wh")
    pages_out = str(base / "pages")
    wh = str(base / "wh")
    main(["synth", "--rows", "2000", "--out", pages_out])
    main(["run", "--input", pages_out, "--warehouse", wh, "--snapshot-id", "s1",
          "--with-histograms", "--with-sketches"])
    t1m = TableStore(spark, wh).read("tier_1m")
    lo = t1m.agg(F.min(F.col("bucket_start").cast("long"))).first()[0]
    hi = t1m.agg(F.max(F.col("bucket_start").cast("long"))).first()[0] + 60
    return SimpleNamespace(wh=wh, a=-(-lo // 3600) * 3600, b=(hi // 3600) * 3600)


def test_cli_serve_trend(spark, cli_wh):
    """serve-trend: routed series -> exact linfit + changepoint +
    drawdown per key, one JSON line."""
    wh, a, b = cli_wh.wh, cli_wh.a, cli_wh.b
    out = _cli(["serve-trend", "--warehouse", wh, "--t0", str(a), "--t1", str(b),
                "--grain", "1h", "--keys", "lang"])
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


def test_cli_serve_drift(spark, cli_wh):
    """serve-drift: PSI between two routed ranges from the stored hist
    tiers; self-comparison is exactly zero drift."""
    wh = cli_wh.wh
    h = TableStore(spark, wh).read("hist_1d")
    lo = h.agg(F.min("bucket_epoch")).first()[0]
    hi = h.agg(F.max("bucket_epoch")).first()[0] + 86400
    mid = lo + ((hi - lo) // (2 * 86400)) * 86400

    out = _cli(["serve-drift", "--warehouse", wh,
                "--a0", str(lo), "--a1", str(mid),
                "--b0", str(mid), "--b1", str(hi), "--keys", "lang"])
    assert out["rows"], "expected per-lang drift rows"
    for r in out["rows"]:
        assert r["psi_x1e8"] >= 0 and r["n_bins_both"] >= 0

    self_cmp = _cli(["serve-drift", "--warehouse", wh,
                     "--a0", str(lo), "--a1", str(hi),
                     "--b0", str(lo), "--b1", str(hi), "--keys", "lang"])
    assert self_cmp["rows"]
    for r in self_cmp["rows"]:
        assert r["psi_x1e8"] == 0
        assert r["n_bins_a_only"] == 0 and r["n_bins_b_only"] == 0


def test_cli_serve_trend_movers(spark, cli_wh):
    """serve-trend --movers: rows ranked by |slope| desc, limit applied."""
    out = _cli(["serve-trend", "--warehouse", cli_wh.wh, "--t0", str(cli_wh.a),
                "--t1", str(cli_wh.b), "--grain", "1h", "--keys", "url",
                "--movers", "--limit", "5"])
    rows = out["rows"]
    assert 0 < len(rows) <= 5
    slopes = [abs(r["slope_x1e4"]) for r in rows]
    assert slopes == sorted(slopes, reverse=True)


def test_cli_serve_sax(spark, cli_wh):
    """serve-sax: shape words over the routed read; --like returns the
    reference key itself plus only same-word keys."""
    base = ["serve-sax", "--warehouse", cli_wh.wh, "--t0", str(cli_wh.a),
            "--t1", str(cli_wh.b), "--grain", "1h", "--keys", "lang",
            "--segments", "4", "--alphabet", "2"]
    rows = _cli(base)["rows"]
    assert rows and all(set(r["word"]) <= {"a", "b"} for r in rows)
    ref = rows[0]["lang"]
    ref_word = rows[0]["word"]
    like = _cli(base + ["--like", ref])["rows"]
    assert any(r["lang"] == ref for r in like)
    assert all(r["word"] == ref_word for r in like)


def test_cli_crawl_plan(spark, cli_wh):
    """crawl-plan: fold history -> recrawl due times -> per-host
    politeness grid; gap invariant holds within every host."""
    from collections import defaultdict

    out = _cli(["crawl-plan", "--warehouse", cli_wh.wh, "--gap", "300",
                "--limit", "500"])
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


def test_cli_serve_trend_robust(spark, cli_wh):
    """serve-trend --robust: adds Theil-Sen median slope + Mann-Kendall S
    columns; the robust slope agrees in SIGN with |S| direction."""
    out = _cli(["serve-trend", "--warehouse", cli_wh.wh, "--t0", str(cli_wh.a),
                "--t1", str(cli_wh.b), "--grain", "1h", "--keys", "lang",
                "--robust"])
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


def test_cli_serve_alerts(spark, cli_wh):
    """serve-alerts: hysteresis episodes over the routed read. With
    hi=1/lo=0 every key fires at its first bucket and (point_count
    never reaching 0) stays open to the end — exactly one episode per
    key spanning its series; with an unreachable hi, zero episodes."""
    wh, a, b = cli_wh.wh, cli_wh.a, cli_wh.b
    out = _cli(["serve-alerts", "--warehouse", wh, "--t0", str(a),
                "--t1", str(b), "--grain", "1h", "--keys", "lang",
                "--hi", "1", "--lo", "0"])
    assert out["rows"], "hi=1 must fire for every lang with any bucket"
    langs = {r["lang"] for r in out["rows"]}
    for r in out["rows"]:
        # one never-closing episode per key, spanning its whole series
        assert r["episode"] == 1
        assert a <= r["episode_start"] <= r["episode_end"] < b
        assert r["n_buckets"] >= 1 and r["peak_value"] >= 1
    assert len(out["rows"]) == len(langs)
    out2 = _cli(["serve-alerts", "--warehouse", wh, "--t0", str(a),
                 "--t1", str(b), "--grain", "1h", "--keys", "lang",
                 "--hi", str(10**9), "--lo", "0"])
    assert out2["rows"] == []


def test_cli_serve_contribution(spark, cli_wh):
    """serve-contribution: per-key delta + share of the total move
    between two disjoint routed ranges, ranked by |delta|."""
    from chainalytic_framework_spark.__main__ import main

    wh, a, b = cli_wh.wh, cli_wh.a, cli_wh.b
    mid = a + ((b - a) // 2 // 3600) * 3600
    out = _cli(["serve-contribution", "--warehouse", wh,
                "--a0", str(a), "--a1", str(mid),
                "--b0", str(mid), "--b1", str(b),
                "--grain", "1h", "--keys", "lang"])
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


def _stored(store, family):
    """``{tier: DataFrame}`` of the stored ``<family>_<tier>`` tables."""
    from chainalytic_framework_spark.operators.bucketing import TIER_ORDER

    return {t: store.read(f"{family}_{t}") for t in TIER_ORDER
            if store.exists(f"{family}_{t}")}


def test_cli_serve_range_matches_read_routed(spark, cli_wh):
    """serve-range prints exactly ``read_routed`` over the stored tiers;
    several comma-separated measures come back from one read."""
    from chainalytic_framework_spark.operators.router import read_routed

    out = _cli(["serve-range", "--warehouse", cli_wh.wh, "--t0", str(cli_wh.a),
                "--t1", str(cli_wh.b), "--keys", "lang",
                "--measure", "point_count,byte_size", "--limit", "1000"])
    assert (out["t0"], out["t1"], out["measure"]) == (
        cli_wh.a, cli_wh.b, "point_count,byte_size")
    want = read_routed(_stored(TableStore(spark, cli_wh.wh), "tier"),
                       cli_wh.a, cli_wh.b, measure=("point_count", "byte_size"),
                       keys=("lang",))
    key = lambda r: r["lang"]  # noqa: E731
    assert out["rows"] and sorted(out["rows"], key=key) == sorted(
        _json_rows(want.collect()), key=key)


def test_cli_serve_quantile_matches_read_routed_quantile(spark, cli_wh):
    """serve-quantile prints exactly ``read_routed_quantile`` over the
    stored histogram tiers."""
    from chainalytic_framework_spark.operators.router import read_routed_quantile

    out = _cli(["serve-quantile", "--warehouse", cli_wh.wh, "--t0", str(cli_wh.a),
                "--t1", str(cli_wh.b), "--q", "75", "--limit", "1000"])
    assert (out["t0"], out["t1"], out["q"]) == (cli_wh.a, cli_wh.b, 75)
    want = read_routed_quantile(_stored(TableStore(spark, cli_wh.wh), "hist"),
                                cli_wh.a, cli_wh.b, series_cols=("lang",),
                                q_x100=75, out_col="q_lo")
    key = lambda r: r["lang"]  # noqa: E731
    assert out["rows"] and sorted(out["rows"], key=key) == sorted(
        _json_rows(want.collect()), key=key)


def test_cli_forecast_matches_holt_forecast(spark, cli_wh):
    """forecast --zero-fill prints ``holt_forecast`` over the stored tier
    collapsed to the key grain and zero-filled, ordered by (keys, step)."""
    from chainalytic_framework_spark.__main__ import _zero_fill_spine
    from chainalytic_framework_spark.operators.forecast import holt_forecast

    out = _cli(["forecast", "--warehouse", cli_wh.wh, "--tier", "1h",
                "--keys", "lang", "--horizon", "3", "--zero-fill",
                "--limit", "1000"])
    assert (out["tier"], out["measure"], out["horizon"]) == ("1h", "point_count", 3)
    tier = _zero_fill_spine(
        TableStore(spark, cli_wh.wh).read("tier_1h")
        .groupBy("lang", "bucket_start")
        .agg(F.sum("point_count").alias("point_count")),
        ["lang"], "point_count", "1h",
    )
    want = holt_forecast(tier, key_cols=("lang",), value_col="point_count",
                         alpha=0.5, beta=0.1, gamma=None, period=None, horizon=3)
    assert out["rows"] and out["rows"] == _json_rows(
        want.orderBy("lang", "step").limit(1000).collect())


def test_cli_flag_defaults_snapshot():
    """Every subcommand keeps its flags, defaults, required-ness and
    types: ``{command: {dest: [default, required, type]}}``."""
    import argparse
    from unittest import mock

    from chainalytic_framework_spark.__main__ import main

    class Built(Exception):
        pass

    def capture(self, *a, **k):
        raise Built(self)

    with mock.patch.object(argparse.ArgumentParser, "parse_args", capture):
        with pytest.raises(Built) as got:
            main([])
    sub = next(a for a in got.value.args[0]._actions
               if isinstance(a, argparse._SubParsersAction))
    snap = {
        name: {a.dest: [a.default, a.required,
                        getattr(a.type, "__name__", None)]
               for a in sp._actions if a.dest != "help"}
        for name, sp in sub.choices.items()
    }
    assert snap == CLI_FLAGS


CLI_FLAGS = {
    "run": {
        "input": [None, True, None], "warehouse": [None, True, None],
        "metric_set": ["default", False, None], "snapshot_id": ["", False, None],
        "no_fold": [False, False, None], "with_sketches": [False, False, None],
        "with_histograms": [False, False, None],
        "with_cold_tier": [False, False, None], "retention_now": [None, False, None],
    },
    "synth": {
        "rows": [None, True, "int"], "out": [None, True, None],
        "seed": [42, False, "int"],
    },
    "compact": {
        "warehouse": [None, True, None], "table": [None, True, None],
        "partition_by": ["bucket_day", False, None], "max_files": [4, False, "int"],
        "target_bytes": [134217728, False, "int"],
    },
    "query": {
        "name": [None, True, None], "sf_dir": ["/root/testdata/sf0.01", False, None],
        "out": [None, False, None], "limit": [20, False, "int"],
    },
    "serve-range": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "measure": ["point_count", False, None],
        "keys": ["url", False, None], "limit": [50, False, "int"],
        "retention_now": [None, False, None],
    },
    "serve-quantile": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "q": [90, False, "int"],
        "keys": ["lang", False, None], "limit": [50, False, "int"],
        "retention_now": [None, False, None],
    },
    "stream": {
        "input": [None, True, None], "warehouse": [None, True, None],
        "checkpoint": [None, True, None], "with_sketches": [False, False, None],
        "with_histograms": [False, False, None],
        "with_heavyhitters": [False, False, None],
        "compact_closed": [False, False, None],
    },
    "forecast": {
        "warehouse": [None, True, None], "tier": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["lang", False, None],
        "horizon": [12, False, "int"], "alpha": [0.5, False, "float"],
        "beta": [0.1, False, "float"], "gamma": [None, False, "float"],
        "period": [None, False, "int"], "gapfill": [False, False, None],
        "zero_fill": [False, False, None], "limit": [50, False, "int"],
    },
    "serve-forecast": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "grain": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["lang", False, None],
        "horizon": [12, False, "int"], "alpha": [0.5, False, "float"],
        "beta": [0.1, False, "float"], "gamma": [None, False, "float"],
        "period": [None, False, "int"], "zero_fill": [False, False, None],
        "retention_now": [None, False, None], "limit": [50, False, "int"],
    },
    "cold": {
        "warehouse": [None, True, None], "tier": ["1d", False, None],
        "before": [None, True, None],
    },
    "serve-chart": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "grain": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["lang", False, None],
        "npoints": [200, False, "int"], "method": ["lttb", False, None],
        "retention_now": [None, False, None], "limit": [1000, False, "int"],
    },
    "crawl-plan": {
        "warehouse": [None, True, None], "gap": [600, False, "int"],
        "min_interval": [3600, False, "int"], "max_interval": [2592000, False, "int"],
        "budget": [None, False, "int"], "limit": [100, False, "int"],
    },
    "serve-trending": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "grain": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["lang", False, None],
        "half_life": [86400, False, "int"], "k": [20, False, "int"],
        "retention_now": [None, False, None],
    },
    "serve-sax": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "grain": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["url", False, None],
        "segments": [8, False, "int"], "alphabet": [4, False, "int"],
        "like": [None, False, None], "retention_now": [None, False, None],
        "limit": [100, False, "int"],
    },
    "serve-trend": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "grain": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["lang", False, None],
        "retention_now": [None, False, None], "limit": [100, False, "int"],
        "movers": [False, False, None], "robust": [False, False, None],
    },
    "serve-alerts": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "grain": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["lang", False, None],
        "hi": [None, True, "int"], "lo": [None, True, "int"],
        "retention_now": [None, False, None], "limit": [1000, False, "int"],
    },
    "serve-coverage": {
        "warehouse": [None, True, None], "grain": ["1m", False, None],
        "keys": ["lang", False, None], "t0": [None, False, "int"],
        "t1": [None, False, "int"], "limit": [100, False, "int"],
    },
    "serve-drift": {
        "warehouse": [None, True, None], "a0": [None, True, "int"],
        "a1": [None, True, "int"], "b0": [None, True, "int"],
        "b1": [None, True, "int"], "keys": ["lang", False, None],
        "retention_now": [None, False, None], "limit": [100, False, "int"],
    },
    "serve-contribution": {
        "warehouse": [None, True, None], "a0": [None, True, "int"],
        "a1": [None, True, "int"], "b0": [None, True, "int"],
        "b1": [None, True, "int"], "grain": ["1h", False, None],
        "measure": ["point_count", False, None], "keys": ["lang", False, None],
        "retention_now": [None, False, None], "limit": [100, False, "int"],
    },
    "serve-distinct": {
        "warehouse": [None, True, None], "t0": [None, True, "int"],
        "t1": [None, True, "int"], "keys": ["lang", False, None],
        "retention_now": [None, False, None], "limit": [100, False, "int"],
    },
}


def test_cli_serve_without_family_exits_2(tmp_path):
    """serve-range, serve-distinct and serve-coverage on a warehouse that
    holds none of their family's tables print {"error": ...} and exit 2."""
    import io
    import json
    from contextlib import redirect_stdout

    from chainalytic_framework_spark.__main__ import main

    wh = str(tmp_path / "wh")
    for argv in (["serve-range", "--t0", "0", "--t1", "86400"],
                 ["serve-distinct", "--t0", "0", "--t1", "86400"],
                 ["serve-coverage"]):
        buf = io.StringIO()
        with redirect_stdout(buf), pytest.raises(SystemExit) as ex:
            main([argv[0], "--warehouse", wh, *argv[1:]])
        assert ex.value.code == 2, argv
        assert "error" in json.loads(buf.getvalue().strip().splitlines()[-1]), argv


@pytest.fixture(scope="module")
def edge_wh(spark, tmp_path_factory):
    """A warehouse whose last day is only in the stream logs: ``run
    --with-histograms --with-sketches`` over the earlier days, then
    ``stream --with-sketches --with-histograms`` (no compaction) over
    the last day. ``a``..``b`` spans the batch days plus the first 59
    minutes of the stream day, so every routed cover reads the edge in
    its 1m segments."""
    from types import SimpleNamespace

    from chainalytic_framework_spark.__main__ import main

    base = tmp_path_factory.mktemp("edge_wh")
    wh = str(base / "wh")
    pages = generate_pages(spark, 3000).cache()
    last = pages.agg(F.max(F.to_date("warc_ts"))).first()[0]
    pages.where(F.to_date("warc_ts") < F.lit(last)).write.parquet(str(base / "hist"))
    pages.where(F.to_date("warc_ts") >= F.lit(last)).write.parquet(str(base / "edge"))
    main(["run", "--input", str(base / "hist"), "--warehouse", wh,
          "--snapshot-id", "s1", "--with-histograms", "--with-sketches"])
    main(["stream", "--input", str(base / "edge"), "--warehouse", wh,
          "--checkpoint", str(base / "ckpt"), "--with-sketches",
          "--with-histograms"])
    a = pages.agg(F.min(F.col("warc_ts").cast("long"))).first()[0] // 86400 * 86400
    b = int(dt.datetime.combine(last, dt.time()).replace(
        tzinfo=dt.timezone.utc).timestamp()) + 59 * 60
    return SimpleNamespace(wh=wh, pages=pages, a=a, b=b)


def _in_range(pages, a, b):
    t = F.col("warc_ts").cast("long")
    return pages.where((t >= a) & (t < b))


def test_cli_serve_range_with_stream_edge(spark, edge_wh):
    """serve-range over batch history plus the stream's 1m edge equals
    the 1m rollup of every page in range."""
    from chainalytic_framework_spark.operators.fold import prepare_observations
    from chainalytic_framework_spark.operators.registry import (
        DEFAULT_SET,
        rollup_with_spec,
    )
    from chainalytic_framework_spark.operators.router import read_routed

    out = _cli(["serve-range", "--warehouse", edge_wh.wh, "--t0", str(edge_wh.a),
                "--t1", str(edge_wh.b), "--keys", "lang", "--limit", "1000"])
    full = rollup_with_spec(prepare_observations(edge_wh.pages), DEFAULT_SET, "1m")
    want = read_routed({"1m": full}, edge_wh.a, edge_wh.b, keys=("lang",))
    key = lambda r: r["lang"]  # noqa: E731
    assert out["rows"] and sorted(out["rows"], key=key) == sorted(
        _json_rows(want.collect()), key=key)
    edge_only = _in_range(edge_wh.pages, edge_wh.b - 59 * 60, edge_wh.b)
    assert edge_only.count() > 0  # the range does reach into the edge


def test_cli_serve_quantile_with_stream_edge(spark, edge_wh):
    """serve-quantile over batch histogram tiers plus the stream's
    histogram edge equals the quantile of a histogram of every page in
    range (counts are exact, so the answer is too)."""
    from chainalytic_framework_spark.operators.histogram import histogram_rollup
    from chainalytic_framework_spark.operators.router import read_routed_quantile

    out = _cli(["serve-quantile", "--warehouse", edge_wh.wh, "--t0", str(edge_wh.a),
                "--t1", str(edge_wh.b), "--q", "90", "--limit", "1000"])
    be = (F.col("warc_ts").cast("long") / 60).cast("long") * 60
    full = histogram_rollup(edge_wh.pages, be, ["lang"], F.length("text").cast("long"))
    want = read_routed_quantile({"1m": full}, edge_wh.a, edge_wh.b,
                                series_cols=("lang",), q_x100=90, out_col="q_lo")
    key = lambda r: r["lang"]  # noqa: E731
    assert out["rows"] and sorted(out["rows"], key=key) == sorted(
        _json_rows(want.collect()), key=key)


def test_cli_serve_distinct_with_stream_edge(spark, edge_wh):
    """serve-distinct over batch sketch tiers plus the stream's sketch
    edge estimates every lang's distinct urls in range within the HLL
    bound."""
    out = _cli(["serve-distinct", "--warehouse", edge_wh.wh, "--t0", str(edge_wh.a),
                "--t1", str(edge_wh.b), "--limit", "1000"])
    exact = {r["lang"]: r["d"] for r in _in_range(edge_wh.pages, edge_wh.a, edge_wh.b)
             .groupBy("lang").agg(F.countDistinct("url").alias("d")).collect()}
    got = {r["lang"]: r["distinct_est"] for r in out["rows"]}
    assert set(got) == set(exact) and got
    for lang, d in exact.items():
        assert abs(got[lang] - d) / d < 0.06, (lang, got[lang], d)


def test_cli_stream_compacts_closed_days(spark, tmp_path):
    """stream --with-histograms --compact-closed: every day before the
    stream's last day moves into tier_1m and hist_1m, equal to the batch
    rollups of those days' pages; the last day stays in the logs."""
    from chainalytic_framework_spark.operators.fold import prepare_observations
    from chainalytic_framework_spark.operators.histogram import histogram_rollup
    from chainalytic_framework_spark.operators.registry import (
        DEFAULT_SET,
        rollup_with_spec,
    )

    pages = generate_pages(spark, 2000).cache()
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    wh = str(tmp_path / "wh")
    out = _cli(["stream", "--input", src, "--warehouse", wh,
                "--checkpoint", str(tmp_path / "ckpt"), "--with-histograms",
                "--compact-closed"])
    days = sorted({str(d) for d in pages.select(F.to_date("warc_ts"))
                   .distinct().toPandas().iloc[:, 0]})
    assert out["drained"] is True
    assert sorted(out["compacted_tier_days"]) == days[:-1]
    assert sorted(out["compacted_hist_days"]) == days[:-1]

    store = TableStore(spark, wh)
    closed = pages.where(F.to_date("warc_ts") < F.lit(days[-1]))
    got = store.read("tier_1m").drop("bucket_day", "url_bucket")
    want = rollup_with_spec(prepare_observations(closed), DEFAULT_SET, "1m").select(got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    cols = ["lang", "bucket_epoch", "hb_lo", "hb_count"]
    be = (F.col("warc_ts").cast("long") / 60).cast("long") * 60
    hgot = store.read("hist_1m").select(cols)
    hwant = histogram_rollup(closed, be, ["lang"], F.length("text").cast("long")).select(cols)
    assert hgot.exceptAll(hwant).isEmpty() and hwant.exceptAll(hgot).isEmpty()
    for log in ("tier_1m_stream", "hist_1m_stream"):
        left = {str(r[0]) for r in store.read(log).select("bucket_day").distinct().collect()}
        assert left == {days[-1]}
