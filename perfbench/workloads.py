"""The three workloads. Each sends ops from one client in a closed loop.

- ``ingest_backfill``: one op builds every tier from empty over the
  7-day corpus into a fresh warehouse.
- ``ingest_incremental``: set-up builds the 7-day warehouse; one op
  commits the next day, read from its own input directory.
- ``dashboard_serve``: set-up builds the same warehouse; one op is a
  7-panel dashboard refresh.

A workload times only the op; making an op's input and checking its
result happen around it. Ops call the package through its public
functions only, looked up on the module at call time so the traced run
(``spans.install``) sees every call.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import inputs
import oracle
from spans import NULL_TRACER

# corpus sizes; a run must fit the benchmark's time budget on 4 cores
BACKFILL_DOCS = 30_000
WAREHOUSE_DOCS = 35_000
DAY_DOCS = 5_000
PIPELINE_FLAGS = dict(with_fold=True, with_sketches=True, with_histograms=True, with_cold_tier=True)
# untimed ops a run makes before its timed loop; at least inputs.POOL,
# so that every recorded dashboard variant is recorded in the warm-up
WARMUP_OPS = 1
# the dashboard's panels read the tiers, histograms and cold blobs only
SERVING_FLAGS = dict(with_fold=False, with_sketches=False, with_histograms=True, with_cold_tier=True)

# span layer of each panel, and the layer its pandas-UDF stage belongs to
PANEL_LAYERS = {
    "range": ("operators.router", None),
    "chart": ("operators.router", "operators.lttb"),
    "quantile": ("operators.router", None),
    "history": ("queries", "operators.cold_store"),
    "topk": ("queries", None),
    "recent": ("queries", None),
    "gapfill": ("operators.gapfill", None),
}


@dataclass
class OpResult:
    ms: float = 0.0
    steal_s: float = 0.0
    docs: int = 0
    input_bytes: int = 0
    ok: bool = False
    error: str = ""
    requests: list = field(default_factory=list)  # (panel, ms)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def stolen_ticks() -> int:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs were runnable, in clock ticks: logged per op, it tells a run
    slowed by the host from one slowed by the program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """Base: subclasses define ``setup`` and ``_op``. ``pkg`` is a
    namespace of the package's modules."""

    name = ""
    flags = PIPELINE_FLAGS

    def __init__(self, spark, pkg, run_dir: str, seed: int, log):
        self.spark, self.pkg, self.dir, self.seed, self.log = spark, pkg, run_dir, seed, log
        self.con = oracle.connect()
        self.tracer = NULL_TRACER

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def gen_pages(self, out: str, n: int, day: int | None = None) -> str:
        self.pkg.synth.generate_pages(
            self.spark, n, n_partitions=self.spark.sparkContext.defaultParallelism,
            **inputs.pages_args(self.seed, day),
        ).write.mode("overwrite").parquet(out)
        return out

    def pipeline(self, pages_dir: str, store) -> dict:
        pages = self.spark.read.parquet(pages_dir)
        return self.pkg.pipeline.run_pipeline(self.spark, pages, store, **self.flags)

    def warmup(self, ops: int = WARMUP_OPS) -> None:
        """Untimed ops before the timed loop: the first op in a JVM runs
        far behind the later ones. A dashboard's warm-up refreshes walk
        the recorded variants, so they also record the answers later
        refreshes of each variant must match."""
        for i in range(ops):
            res = self.run_op(-i - 1)
            if not res.ok:
                raise RuntimeError(f"warm-up op {i} failed: {res.error}")
            self.log(" ".join([f"warm-up op {i}: {res.ms:.0f} ms"]
                              + [f"{p}={ms:.0f}" for p, ms in res.requests]))

    def run_op(self, i: int) -> OpResult:
        res = OpResult()
        try:
            self._op(i, res)
        except Exception:  # an op that raises counts as failed; the loop goes on
            res.ok = False
            res.error = traceback.format_exc()
        if not res.ok:
            self.log(f"{self.name} op {i} FAILED: {res.error.strip()}")
        return res

    def _timed(self, i: int, res: OpResult, fn):
        s0 = stolen_ticks()
        t0 = time.perf_counter()
        with self.tracer.op(i):
            out = fn()
        res.ms = (time.perf_counter() - t0) * 1000.0
        res.steal_s = (stolen_ticks() - s0) / CLK_TCK
        return out

    def warehouse(self) -> str:
        raise NotImplementedError

    def _check_tiers(self, warehouse: str, pages) -> list[str]:
        bad = {t: n for t, n in oracle.tier_mismatches(self.con, warehouse, pages).items() if n}
        return [f"tier mismatches vs DuckDB: {bad}"] if bad else []


class Backfill(Workload):
    name = "ingest_backfill"

    def setup(self) -> None:
        self.corpus = self.gen_pages(self.path("inputs", "corpus"), BACKFILL_DOCS)
        self.input_bytes = dir_bytes(self.corpus)
        self._last = None

    def warehouse(self) -> str:
        return self._last

    def _op(self, i: int, res: OpResult) -> None:
        wh = self.path("wh", f"backfill_{i}")
        if self._last:
            shutil.rmtree(self._last, ignore_errors=True)
        self._last = wh
        res.input_bytes = self.input_bytes
        store = self.pkg.TableStore(self.spark, wh)
        out = self._timed(i, res, lambda: self.pipeline(self.corpus, store))
        res.docs = out["docs"]
        errors = [] if res.docs == BACKFILL_DOCS else [f"docs {res.docs} != {BACKFILL_DOCS}"]
        errors += self._check_tiers(wh, self.corpus)
        res.ok, res.error = not errors, "; ".join(errors)


class _WarehouseWorkload(Workload):
    """Set-up builds the 7-day warehouse the two other workloads start from."""

    def setup(self) -> None:
        self.corpus = self.gen_pages(self.path("inputs", "corpus"), WAREHOUSE_DOCS)
        self.wh = self.path("wh", "main")
        t0 = time.perf_counter()
        out = self.pipeline(self.corpus, self.store)
        self.log(f"warehouse built in {time.perf_counter() - t0:.1f}s")
        if out["docs"] != WAREHOUSE_DOCS:
            raise RuntimeError(f"set-up warehouse holds {out['docs']} docs, not {WAREHOUSE_DOCS}")
        errors = self._check_tiers(self.wh, self.corpus)
        if errors:
            raise RuntimeError("set-up warehouse is wrong: " + "; ".join(errors))

    @property
    def store(self):
        return self.pkg.TableStore(self.spark, self.wh)

    def warehouse(self) -> str:
        return self.wh


class Incremental(_WarehouseWorkload):
    name = "ingest_incremental"

    def setup(self) -> None:
        super().setup()
        self.pages = [self.corpus]
        self.next_day = inputs.CORPUS_DAYS

    def _op(self, i: int, res: OpResult) -> None:
        day = self.next_day
        self.next_day += 1
        day_dir = self.gen_pages(self.path("inputs", f"day_{day}"), DAY_DOCS, day=day)
        self.pages.append(day_dir)
        res.input_bytes = dir_bytes(day_dir)
        out = self._timed(i, res, lambda: self.pipeline(day_dir, self.store))
        res.docs = out["docs"]
        errors = [] if res.docs == DAY_DOCS else [f"docs {res.docs} != {DAY_DOCS}"]
        errors += self._check_tiers(self.wh, self.pages)
        # the committed day, read back through the router
        e0 = inputs.T0_EPOCH + day * inputs.DAY
        got = {
            r["lang"]: (r["point_count"], r["byte_size"])
            for r in self.pkg.router.read_routed(
                tier_frames(self.pkg, self.store, "tier"), e0, e0 + inputs.DAY,
                measure=("point_count", "byte_size"), keys=("lang",),
            ).collect()
        }
        want = oracle.lang_totals(self.con, day_dir, e0, e0 + inputs.DAY)
        if got != want:
            errors.append(f"routed day total {got} != {want}")
        res.ok, res.error = not errors, "; ".join(errors)


def tier_frames(pkg, store, prefix: str) -> dict:
    """Every stored tier of a family, opened the way the serve commands
    open them: one TableStore.read per tier per request."""
    return {
        t: store.read(f"{prefix}_{t}")
        for t in pkg.bucketing.TIER_ORDER
        if store.exists(f"{prefix}_{t}")
    }


class Dashboard(_WarehouseWorkload):
    name = "dashboard_serve"
    flags = SERVING_FLAGS

    def setup(self) -> None:
        super().setup()
        self.docs = WAREHOUSE_DOCS
        self.urls = oracle.url_docs(self.con, self.corpus)
        self.recorded: dict = {}

    def _op(self, i: int, res: OpResult) -> None:
        req = inputs.refresh(self.seed, self.urls, i)
        answers = {}

        def refresh():
            for panel, r in req.items():
                layer, udf = PANEL_LAYERS[panel]
                t0 = time.perf_counter()
                with self.tracer.span(layer, panel, udf_layer=udf) as s:
                    answers[panel] = getattr(self, f"_{panel}")(r)
                    if panel in ("range", "quantile"):
                        s.attrs["rows"] = len(answers[panel])
                res.requests.append((panel, (time.perf_counter() - t0) * 1000.0))

        self._timed(i, res, refresh)
        res.docs = self.docs
        errors = self._check_panels(req, answers)
        res.ok, res.error = not errors, "; ".join(errors)

    # ---- panels: each opens its tables per request, as the CLI does
    def _range(self, r):
        F = self.pkg.F
        df = self.pkg.router.read_routed(
            tier_frames(self.pkg, self.store, "tier"), r["e0"], r["e1"],
            measure=("point_count", "byte_size"), keys=("url",),
        )
        rows = df.where(F.col("url").isin(r["urls"])).collect()
        return {x["url"]: (x["point_count"], x["byte_size"]) for x in rows}

    def _chart(self, r):
        F = self.pkg.F
        series = self.pkg.router.read_routed_series(
            tier_frames(self.pkg, self.store, "tier"), r["e0"], r["e1"], r["grain"],
            measure="point_count", keys=("lang",),
        ).select("lang", F.col("bucket_start").cast("long").alias("t"),
                 F.col("point_count").cast("long").alias("v"))
        rows = self.pkg.lttb.lttb_downsample_exact(series, ["lang"], "t", "v", r["n_out"]).collect()
        return sorted((x["lang"], x["t"], x["v"]) for x in rows)

    def _quantile(self, r):
        rows = self.pkg.router.read_routed_quantile(
            tier_frames(self.pkg, self.store, "hist"), r["e0"], r["e1"],
            series_cols=("lang",), q_x100=r["q"],
        ).collect()
        return sorted((x["lang"], x["q_lo"]) for x in rows)

    def _history(self, r):
        F = self.pkg.F
        rows = self.pkg.queries.series_points(
            self.store.read("tier_1h"), self.store.read("cold_1d"),
            measure="point_count", url=r["url"], t0=r["e0"], t1=r["e1"],
        ).select(F.col("bucket_start").cast("long").alias("b"), "value").collect()
        return sorted((x["b"], x["value"]) for x in rows)

    def _topk(self, r):
        rows = self.pkg.queries.topk_urls_by_measure(
            self.store.read("tier_1d"), "byte_size", k=r["k"]
        ).collect()
        return [(x["url"], x["byte_size"]) for x in rows]

    def _recent(self, r):
        F = self.pkg.F
        rows = self.pkg.queries.recently_active_urls(
            self.store.read("tier_1h"), timespan_seconds=r["span"], k=r["k"]
        ).select("url", F.col("last_seen").cast("long").alias("last_seen"), "points").collect()
        return [(x["url"], x["last_seen"], x["points"]) for x in rows]

    def _gapfill(self, r):
        F = self.pkg.F
        tier = self.store.read("tier_1h").where(F.col("url").isin(r["urls"]))
        start = dt.datetime.fromtimestamp(r["range_start"], dt.timezone.utc)
        rows = self.pkg.gapfill.gapfill_locf(tier, "1h", range_start=start).select(
            "url", F.col("bucket_start").cast("long").alias("b"), "point_count",
            "byte_size", "gap_filled",
        ).collect()
        return sorted(tuple(x) for x in rows)

    # ---- correctness
    def _check_panels(self, req: dict, got: dict) -> list[str]:
        c, pages = self.con, self.corpus
        want = {
            "range": oracle.url_totals(c, pages, req["range"]["urls"], req["range"]["e0"], req["range"]["e1"]),
            "history": oracle.history(c, pages, req["history"]["url"], req["history"]["e0"], req["history"]["e1"]),
            "topk": oracle.topk_bytes(c, pages, req["topk"]["k"]),
            "recent": oracle.recent_hourly(c, pages, req["recent"]["span"], req["recent"]["k"]),
        }
        for p in inputs.RECORDED:
            key = (p, req[p]["variant"])
            want[p] = self.recorded.setdefault(key, got[p])
        return [f"{p} panel differs from its reference" for p in inputs.PANELS if got[p] != want[p]]


WORKLOADS = {w.name: w for w in (Backfill, Incremental, Dashboard)}
