"""Driver-timezone independence: the pipeline must commit IDENTICAL
tables and resume correctly whether the driver runs in UTC or
Asia/Tokyo (UTC+9). Guards the epoch-space fixes in plans/pipeline.py
(30d cascade bounds), operators/retention.py (horizons), and
plans/checkpoint.py (tz-aware manifest rows — naive rows shift through
the driver-local TimestampType serialization and break resume)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import os, sys, time, json, shutil
os.environ["TZ"] = sys.argv[1]
time.tzset()
sys.path.insert(0, {repo!r})
import datetime as dt
from chainalytic_framework_spark.session import build_session
from chainalytic_framework_spark.synth import generate_pages
from chainalytic_framework_spark.tables import TableStore
from chainalytic_framework_spark.plans.pipeline import run_pipeline

wh = sys.argv[2]
shutil.rmtree(wh, ignore_errors=True)
spark = build_session(app_name="tz-test", master="local[4]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
pages = generate_pages(spark, 2000).cache()
r1 = run_pipeline(spark, pages, store := TableStore(spark, wh), with_fold=False,
                  enforce_retention_now=dt.datetime(2024, 3, 1))
r2 = run_pipeline(spark, pages, store, with_fold=False)
days = [str(x["day"]) for x in
        store.read("checkpoints").selectExpr("to_date(bucket_range_start) AS day")
        .where("tier = '1m'").distinct().orderBy("day").collect()]
# a ragged routed read over the stored tiers (bucket_day pruning bounds
# are computed in Spark, never in the driver's timezone) must equal the
# finest stored tier; retention dropped the 1m tier, so hours are finest
from pyspark.sql import functions as F
from chainalytic_framework_spark.operators.router import read_routed
stored = {{t: store.read(f"tier_{{t}}") for t in ("1h", "1d", "30d")
          if store.exists(f"tier_{{t}}")}}
a, b = 1704085200, 1704546000  # 2024-01-01 05:00 .. 2024-01-06 13:00 UTC
routed = {{r["lang"]: r["point_count"] for r in
          read_routed(stored, a, b, "point_count", keys=("lang",)).collect()}}
e = F.col("bucket_start").cast("long")
finest = {{r["lang"]: r["pc"] for r in stored["1h"].where((e >= a) & (e < b))
          .groupBy("lang").agg(F.sum("point_count").alias("pc")).collect()}}
print("RESULT" + json.dumps({{"p1": r1["pending_days"], "p2": r2["pending_days"],
                              "days": days, "routed": routed, "finest": finest}}))
spark.stop()
"""


def _run(tz: str, wh: str) -> dict:
    code = SCRIPT.format(repo=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code, tz, wh],
        capture_output=True, text=True, timeout=600, cwd="/tmp",
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT"):
            return json.loads(line[len("RESULT"):])
    raise RuntimeError(f"no RESULT ({tz}):\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}")


def test_pipeline_is_driver_timezone_independent(tmp_path):
    import duckdb

    wh_utc = str(tmp_path / "utc")
    wh_jst = str(tmp_path / "jst")
    r_utc = _run("UTC", wh_utc)
    r_jst = _run("Asia/Tokyo", wh_jst)

    # resume semantics survive the timezone: run 2 is a no-op in BOTH
    assert r_utc["p1"] > 0 and r_utc["p2"] == 0
    assert r_jst["p1"] > 0 and r_jst["p2"] == 0, (
        "manifest days shifted on a non-UTC driver — resume broken"
    )
    # committed manifest days render the same UTC days
    assert r_utc["days"] == r_jst["days"]
    # routed reads of the stored tiers are exact on both drivers
    assert r_jst["routed"] and r_jst["routed"] == r_jst["finest"] == r_utc["routed"]

    # every committed table is row-identical across driver timezones
    for tier in ("tier_1m", "tier_1h", "tier_1d", "tier_30d"):
        q = (
            f"SELECT count(*) FROM ((SELECT * FROM '{wh_utc}/{tier}/**/*.parquet' "
            f"EXCEPT SELECT * FROM '{wh_jst}/{tier}/**/*.parquet') UNION ALL "
            f"(SELECT * FROM '{wh_jst}/{tier}/**/*.parquet' "
            f"EXCEPT SELECT * FROM '{wh_utc}/{tier}/**/*.parquet'))"
        )
        assert duckdb.sql(q).fetchone()[0] == 0, tier
