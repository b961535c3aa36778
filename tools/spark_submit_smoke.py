"""End-to-end ``spark-submit --py-files`` smoke: the north rule's launch
path, exercised for real — package the engine as a zip, submit a driver
that can ONLY see the engine through that zip, run ``run_pipeline``
from synthetic pages into a scratch warehouse, and verify the stored
tier row counts and the 1h gap-fill.

This is the deployment contract a multi-executor cluster uses
(tests/test_pyfiles_zip.py guards zipimport-cleanliness statically;
this script proves the dynamic path: JVM launch, zip shipping, driver
import, executor-side lambdas). Run: ``python tools/spark_submit_smoke.py``.

Exit 0 + one JSON line on success.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "chainalytic_framework_spark"

DRIVER = """
import json
import os
from pyspark.sql import SparkSession

# the engine is importable ONLY via --py-files (cwd is a scratch dir)
from chainalytic_framework_spark.synth import generate_pages
from chainalytic_framework_spark.operators.gapfill import gapfill_locf
from chainalytic_framework_spark.plans.pipeline import run_pipeline
from chainalytic_framework_spark.tables import TableStore

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .appName("cfs-submit-smoke").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
pages = generate_pages(spark, 20000)
store = TableStore(spark, os.path.abspath("wh"))
run_pipeline(spark, pages, store)
counts = {t: store.read("tier_" + t).count() for t in ("1m", "1h", "1d", "30d")}
filled = gapfill_locf(store.read("tier_1h"), "1h").count()
print("SMOKE_RESULT " + json.dumps({"tiers": counts, "gapfill_1h_rows": filled}))
spark.stop()
"""


def build_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg_root = os.path.join(REPO, PKG)
        for root, _dirs, files in os.walk(pkg_root):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


def main() -> int:
    with tempfile.TemporaryDirectory(prefix="cfs_submit_") as td:
        zip_path = os.path.join(td, "cfs_pkg.zip")
        build_zip(zip_path)
        driver_path = os.path.join(td, "driver.py")
        with open(driver_path, "w") as f:
            f.write(DRIVER)
        env = dict(os.environ)
        # the zip must be the ONLY import path: scratch cwd keeps the
        # repo out of sys.path[0], and stripping PYTHONPATH keeps a
        # dev-shell repo pointer from masking a broken zip
        env.pop("PYTHONPATH", None)
        proc = subprocess.run(
            ["spark-submit", "--master", "local[4]",
             "--py-files", zip_path, driver_path],
            cwd=td, env=env, capture_output=True, text=True, timeout=600,
        )
        out = [l for l in proc.stdout.splitlines() if l.startswith("SMOKE_RESULT ")]
        if proc.returncode != 0 or not out:
            sys.stderr.write(proc.stdout[-3000:] + "\n" + proc.stderr[-3000:] + "\n")
            print("spark-submit smoke: FAIL")
            return 1
        res = json.loads(out[0][len("SMOKE_RESULT "):])
        ok = (
            res["tiers"]["1m"] >= res["tiers"]["1h"] >= res["tiers"]["1d"]
            >= res["tiers"]["30d"] > 0
            and res["gapfill_1h_rows"] >= res["tiers"]["1h"]
        )
        print(json.dumps({"spark_submit_smoke": "ok" if ok else "bad", **res}))
        return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
