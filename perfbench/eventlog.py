"""Charge Spark's work to layers from an uncompressed JSON event log.

Each job carries the job description its submitting thread had set,
``pb:<span id>`` (``spans.py``), so a job belongs to that span's layer.
Within a job, a stage that runs a pandas UDF is charged to the span's
``udf_layer`` when it names one: the chart panel's LTTB stage and the
history panel's cold-blob decode stage run inside jobs that a router or
query span submitted.

Per layer the log gives:

- ``jobs``: jobs submitted by the layer's spans, or with a stage charged
  to it;
- ``task_s``: executor run time of its tasks;
- ``wait_s``: time its tasks waited for a slot, from stage submission to
  task launch;
- ``shuffle_bytes``: shuffle bytes its tasks wrote.

``records_read`` per span feeds the router's rows-scanned ratio.
"""

from __future__ import annotations

import json
from collections import defaultdict

from spans import DESC_PREFIX

UDF_SCOPES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython", "FlatMapCoGroupsInPandas")
COUNTERS = ("jobs", "task_s", "wait_s", "shuffle_bytes")


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _is_udf_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope and json.loads(scope).get("name") in UDF_SCOPES:
            return True
    return False


def attribute(events: list[dict], spans: dict) -> tuple[dict, dict]:
    """``spans``: {span id: Span}. Returns ({layer: {counter: value}},
    {span id: records read}). Jobs without a ``pb:`` description (set-up
    and untraced work) are skipped; every charged job also counts toward
    the ``session`` totals."""
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    stage_udf: dict[int, bool] = {}
    tasks = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            sid = desc[len(DESC_PREFIX):]
            if not desc.startswith(DESC_PREFIX) or not sid.isdigit() or int(sid) not in spans:
                continue
            sid = int(sid)
            job_span[e["Job ID"]] = sid
            for st in e.get("Stage IDs", []):
                stage_job.setdefault(st, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time")
            stage_udf[info["Stage ID"]] = _is_udf_stage(info)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    jobs_in: dict[str, set] = defaultdict(set)
    records: dict[int, int] = defaultdict(int)
    for job, sid in job_span.items():
        jobs_in[spans[sid].layer].add(job)
        jobs_in["session"].add(job)
    for t in tasks:
        job = stage_job.get(t["Stage ID"])
        if job is None or job not in job_span:
            continue
        span = spans[job_span[job]]
        layer = span.layer
        if stage_udf.get(t["Stage ID"]) and span.attrs.get("udf_layer"):
            layer = span.attrs["udf_layer"]
            jobs_in[layer].add(job)
        info, m = t["Task Info"], t.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        sub = stage_submit.get(t["Stage ID"])
        wait_s = max(0, info["Launch Time"] - sub) / 1000.0 if sub else 0.0
        shuf = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for name in {layer, "session"}:
            out[name]["task_s"] += run_s
            out[name]["wait_s"] += wait_s
            out[name]["shuffle_bytes"] += shuf
        records[span.id] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for layer, jobs in jobs_in.items():
        out[layer]["jobs"] = len(jobs)
    return dict(out), dict(records)
