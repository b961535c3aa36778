"""Tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from spans import NULL_TRACER, Span, Tracer, install, layer_times, self_intervals, write_layer  # noqa: E402
from workloads import WARMUP_OPS, OpResult, Workload  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ determinism

# (url, docs) of a corpus: a few hot urls and a long tail
URLS = [(f"https://d{d}.example.com/p{p}", 1 + 400 // (1 + d * 10 + p)) for d in range(20) for p in range(10)]


def test_requests_are_a_function_of_the_seed():
    a = [inputs.refresh(7, URLS, i) for i in range(5)]
    assert a == [inputs.refresh(7, URLS, i) for i in range(5)]
    assert a != [inputs.refresh(8, URLS, i) for i in range(5)]
    # a refresh does not depend on how many came before it
    assert inputs.refresh(7, URLS, 3) == a[3]


def test_requests_are_well_formed():
    known = {u for u, _ in URLS}
    for i in range(-WARMUP_OPS, 20):
        req = inputs.refresh(3, URLS, i)
        assert tuple(req) == inputs.PANELS
        assert req["range"]["e0"] % 60 == 0 and req["range"]["e1"] % 60 == 0
        assert inputs.T0_EPOCH <= req["range"]["e0"] < req["range"]["e1"] <= inputs.T_END_EPOCH
        assert req["chart"]["e0"] % 3600 == 0
        assert len(set(req["range"]["urls"])) == 4
        assert set(req["range"]["urls"] + req["gapfill"]["urls"] + [req["history"]["url"]]) <= known
        for p in inputs.RECORDED:
            assert 0 <= req[p]["variant"] < inputs.POOL
    # warm-up refreshes walk the recorded variants in order, and cover them
    assert WARMUP_OPS >= inputs.POOL
    assert [inputs.refresh(3, URLS, -v - 1)["chart"]["variant"] for v in range(WARMUP_OPS)] == [
        v % inputs.POOL for v in range(WARMUP_OPS)
    ]


def test_drawn_urls_favour_urls_with_more_docs():
    import numpy as np

    rng = np.random.default_rng(0)
    drawn = [u for _ in range(300) for u in inputs.draw_urls(rng, URLS, 1)]
    hot = {u for u, docs in URLS if docs >= 40}  # 10 of 200 urls, 48% of the docs
    assert sum(u in hot for u in drawn) > 0.3 * len(drawn)
    assert len(set(inputs.draw_urls(rng, URLS, 4))) == 4


def test_pages_args_are_seeded_per_day():
    assert inputs.pages_args(5) == inputs.pages_args(5)
    d7, d8 = inputs.pages_args(5, 7), inputs.pages_args(5, 8)
    assert d7["seed"] != d8["seed"] and d7["t1"] == d8["t0"]
    assert inputs.pages_args(5)["t1"] == d7["t0"]


# -------------------------------------------------------------- self time

def _span(i, layer, start, end, parent=None):
    return Span(i, layer, f"s{i}", parent, 0, start, end)


def test_self_time_with_overlapping_children():
    spans = [
        _span(0, "plans.pipeline", 0.0, 10.0),
        _span(1, "tables", 1.0, 4.0, parent=0),
        _span(2, "tables", 3.0, 6.0, parent=0),      # overlaps span 1
        _span(3, "operators.cascade", 3.5, 5.0, parent=2),
        _span(4, "tables", 9.0, 12.0, parent=0),     # runs past its parent
    ]
    selfs = self_intervals(spans)
    assert selfs[0] == [(0.0, 1.0), (6.0, 9.0)]
    assert selfs[2] == [(3.0, 3.5), (5.0, 6.0)]
    t = layer_times(spans)
    assert t["plans.pipeline"] == {"wall_s": 10.0, "self_s": 4.0}
    # tables: union [1, 6] + [9, 12]; self drops the part of the cascade
    # child no other tables span covers, [4, 5]
    assert t["tables"]["wall_s"] == pytest.approx(8.0)
    assert t["tables"]["self_s"] == pytest.approx(7.0)
    assert t["operators.cascade"] == {"wall_s": 1.5, "self_s": 1.5}


def test_chain_thread_spans_hang_under_the_op():
    tr = Tracer()
    with tr.op(0):
        with tr.span("plans.pipeline", "run_pipeline") as p:
            seen = []

            def chain():
                with tr.span("tables", "write") as s:
                    seen.append(s)

            th = threading.Thread(target=chain)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
    assert seen[0].parent == p.id and seen[0].op == 0
    with tr.span("tables", "read") as after:
        pass
    assert after.parent is None and after.op is None


# ------------------------------------------------- attribution of writes

def test_write_layers():
    assert write_layer("tier_1m") == "operators.rollup"
    assert write_layer("tier_30d") == "operators.cascade"
    assert write_layer("fold_state__staged") == "operators.fold"
    assert write_layer("hist_1h") == "operators.histogram"
    assert write_layer("cold_1d") == "operators.cold_store"
    assert write_layer("checkpoints") == "plans.checkpoint"
    assert write_layer("unknown") is None


class _Store:
    """Stands in for TableStore, with the same call structure: append
    writes through write, merge_upsert through write and
    overwrite_partitions; each file write puts one 100-byte file."""

    def __init__(self, root):
        self.root = root

    def path(self, name):
        return os.path.join(self.root, name)

    def _put(self, name):
        os.makedirs(self.path(name), exist_ok=True)
        with open(os.path.join(self.path(name), f"part-{len(os.listdir(self.path(name)))}.parquet"), "wb") as f:
            f.write(b"x" * 100)

    def read(self, name):
        return name

    def write(self, df, name, partition_by=None, mode="overwrite"):
        self._put(name)

    def append(self, df, name, partition_by=None):
        self.write(df, name, mode="append")

    def overwrite_partitions(self, df, name, partition_by):
        self._put(name)

    def merge_upsert(self, delta, name, key="url", partition_col="state_bucket"):
        self.write(delta, f"{name}__staged")
        self.overwrite_partitions(delta, name, [partition_col])


def test_wrappers_charge_writes_to_operator_layers(tmp_path):
    import types

    tr = Tracer()
    pipeline = types.SimpleNamespace(
        run_pipeline=lambda store: store.overwrite_partitions(None, "tier_1h", ["d"]),
        pending_days=lambda: None, committed_days=lambda: None,
        append_entries=lambda store: store.append(None, "checkpoints"),
    )
    restore = install(tr, pipeline, _Store)
    try:
        store = _Store(str(tmp_path))
        with tr.op(0):
            pipeline.run_pipeline(store)
            store.merge_upsert(None, "fold_state")
            pipeline.append_entries(store)
    finally:
        restore()
    w = next(s for s in tr.spans if s.attrs.get("table") == "tier_1h" and s.layer == "tables")
    assert next(s for s in tr.spans if s.layer == "operators.cascade").parent == w.id
    assert (w.attrs["files"], w.attrs["bytes"]) == (1, 100)
    # merge_upsert: one operator span; its two writes count the files
    assert [s.name for s in tr.spans if s.layer == "operators.fold"] == ["write:fold_state"]
    assert sum(s.attrs.get("bytes", 0) for s in tr.spans if s.attrs.get("table", "").startswith("fold_state")) == 200
    # append writes through write: the checkpoint file is counted once
    assert sum(s.attrs.get("files", 0) for s in tr.spans if s.attrs.get("table") == "checkpoints") == 1
    assert _Store.write.__name__ == "write"  # originals restored


def _events(spans_desc):
    """Two jobs: one from a cascade write, one from a chart panel whose
    second stage runs a pandas UDF; plus a set-up job with no tag."""
    scope = lambda n: {"Scope": json.dumps({"id": "1", "name": n})}  # noqa: E731
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": spans_desc[0]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2, 3],
         "Properties": {"spark.job.description": spans_desc[1]}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [4], "Properties": {}},
    ]
    for st, udf in ((0, False), (1, False), (2, False), (3, True), (4, False)):
        rdds = [scope("Exchange")] + ([scope("FlatMapGroupsInPandas")] if udf else [])
        ev.append({"Event": "SparkListenerStageCompleted",
                   "Stage Info": {"Stage ID": st, "Submission Time": 1000, "RDD Info": rdds}})
    for st, launch, run_ms, shuf, recs in ((0, 1000, 500, 10, 7), (1, 1200, 300, 0, 0),
                                           (2, 1000, 100, 5, 40), (3, 1100, 900, 0, 0),
                                           (4, 1000, 9999, 9, 9)):
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": st,
                   "Task Info": {"Launch Time": launch},
                   "Task Metrics": {"Executor Run Time": run_ms,
                                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuf},
                                    "Input Metrics": {"Records Read": recs}}})
    return ev


def test_event_log_attribution():
    spans = {
        5: Span(5, "operators.cascade", "write:tier_1h", None, 0, 0.0, 1.0),
        6: Span(6, "operators.router", "chart", None, 0, 0.0, 1.0,
                attrs={"udf_layer": "operators.lttb"}),
    }
    counters, records = eventlog.attribute(_events(["pb:5", "pb:6"]), spans)
    assert counters["operators.cascade"] == {"jobs": 1, "task_s": 0.8, "wait_s": 0.2, "shuffle_bytes": 10}
    assert counters["operators.router"] == {"jobs": 1, "task_s": 0.1, "wait_s": 0.0, "shuffle_bytes": 5}
    assert counters["operators.lttb"] == {"jobs": 1, "task_s": 0.9, "wait_s": 0.1, "shuffle_bytes": 0}
    # the untagged set-up job is charged nowhere
    assert counters["session"]["jobs"] == 2
    assert counters["session"]["task_s"] == pytest.approx(1.8)
    assert records == {5: 7, 6: 40}


def test_event_log_from_real_files(tmp_path):
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in _events(["pb:5", "pb:x5"])) + "\n")
    spans = {5: Span(5, "tables", "read", None, 0, 0.0, 1.0)}
    counters, _ = eventlog.attribute(eventlog.read_events(str(p)), spans)
    assert counters["tables"]["jobs"] == 1


# ------------------------------------------------------------------ oracle

def _fixture(tmp_path, corrupt: bool):
    """A 3-doc pages file and a warehouse whose tiers DuckDB derives from
    it; ``corrupt`` adds one to a 1h bucket's point_count."""
    con = oracle.connect()
    pages = tmp_path / "pages"
    pages.mkdir()
    con.execute(f"""COPY (SELECT * FROM (VALUES
        ('https://d0.example.com/p0', 'en', TIMESTAMPTZ '2024-01-01 00:00:05+00', 'aaaa'::BLOB, 'hello'),
        ('https://d0.example.com/p0', 'en', TIMESTAMPTZ '2024-01-01 00:10:00+00', 'aa'::BLOB, 'hi'),
        ('https://d1.example.com/p3', 'de', TIMESTAMPTZ '2024-01-02 05:00:00+00', 'a'::BLOB, 'hallo'))
        t(url, lang, warc_ts, html, text)) TO '{pages}/part-0.parquet' (FORMAT parquet)""")
    wh = tmp_path / "wh"
    for tier, w in oracle.TIER_SECONDS.items():
        d = wh / f"tier_{tier}"
        d.mkdir(parents=True)
        bump = 1 if corrupt and tier == "1h" else 0
        con.execute(f"""COPY (SELECT url, lang, to_timestamp(sec // {w} * {w}) AS bucket_start,
            count(*) + {bump} AS point_count, sum(hb)::BIGINT AS byte_size,
            sum(tl)::BIGINT AS text_len_sum FROM {oracle._raw(str(pages))} GROUP BY ALL)
            TO '{d}/part-0.parquet' (FORMAT parquet)""")
    return str(wh), str(pages)


def test_oracle_agrees_with_a_correct_warehouse(tmp_path):
    wh, pages = _fixture(tmp_path, corrupt=False)
    assert oracle.tier_mismatches(oracle.connect(), wh, pages) == dict.fromkeys(oracle.TIER_SECONDS, 0)
    assert oracle.url_totals(oracle.connect(), pages, ["https://d0.example.com/p0"],
                             inputs.T0_EPOCH, inputs.T0_EPOCH + 600) == {"https://d0.example.com/p0": (1, 4)}


class _CheckOnly(Workload):
    name = "check_only"

    def __init__(self, wh, pages):
        self.con, self.wh, self.pages, self.log = oracle.connect(), wh, pages, lambda m: None
        self.tracer = NULL_TRACER

    def _op(self, i, res: OpResult):
        self._timed(i, res, lambda: None)
        errors = self._check_tiers(self.wh, self.pages)
        res.ok, res.error = not errors, "; ".join(errors)


def test_oracle_mismatch_counts_as_a_failed_op(tmp_path):
    wh, pages = _fixture(tmp_path, corrupt=True)
    assert oracle.tier_mismatches(oracle.connect(), wh, pages)["1h"] == 2
    results = run.timed_phase(_CheckOnly(wh, pages), 0.0)
    assert len(results) == 1 and not results[0].ok
    assert "1h" in results[0].error


def test_op_that_raises_counts_as_failed():
    wl = _CheckOnly(None, None)
    assert not wl.run_op(0).ok


# ------------------------------------------------------ BENCHMARK.json

def test_benchmark_json_names_every_metric():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.layer_metric_units()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    from workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
