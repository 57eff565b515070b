"""Per-layer tracing from outside the engine.

The traced run replays each per-document stage function single-process,
calling the layers' public functions in the order the stage calls them
and recording one span per call (name, start, end, parent; all spans of
one document share its trace id). Spans stay in memory and are written
out once at the end. Stage-level numbers come from Spark's REST API
(UI on for the traced run only); streaming numbers from
``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import gc
import json
import statistics
import time
import urllib.request
from datetime import datetime
from typing import Callable, Dict, List, Optional

from docling_core_spark.model.doc import SharedDocContext
from docling_core_spark.model.validate import validate_doc
from docling_core_spark.parse.doctags import parse_doctags
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.pipeline import process_doc, roundtrip_doc
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.etree import export_to_element_tree
from docling_core_spark.serialize.html import export_to_html
from docling_core_spark.serialize.markdown import serialize_markdown
from docling_core_spark.serialize.spanseq import span_seq_from_result

PIPELINE_LAYERS = (
    "parse", "validate", "context", "markdown", "span_seq", "doctags",
    "html", "etree",
)
ROUNDTRIP_LAYERS = ("parse", "doctags", "doctags_parse")
ALL_LAYERS = PIPELINE_LAYERS + ("doctags_parse",)
ITEM_ARRAYS = ("texts", "tables", "pictures", "groups", "key_value_items",
               "form_items")
MIN_CALLS = 8
ANOMALY_KEYS = ("unknown_kind", "unbalanced_close", "dangling_caption",
                "bad_table")


class Tracer:
    """In-memory span store.

    A span is [trace id, span id, parent span id, name, start_ns,
    end_ns]; the span id is its index in `spans`.
    """

    def __init__(self) -> None:
        self.spans: List[list] = []
        self._trace = ""
        self._parent: Optional[int] = None

    def begin(self, trace_id: str, name: str) -> int:
        self._trace = trace_id
        self._parent = len(self.spans)
        self.spans.append([trace_id, self._parent, None, name,
                           time.perf_counter_ns(), 0])
        return self._parent

    def end(self, span_id: int) -> None:
        self.spans[span_id][5] = time.perf_counter_ns()
        self._parent = None

    def call(self, span: str, fn: Callable, /, *args, **kw):
        t0 = time.perf_counter_ns()
        out = fn(*args, **kw)
        t1 = time.perf_counter_ns()
        self.spans.append([self._trace, len(self.spans), self._parent, span,
                           t0, t1])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for trace, sid, parent, name, t0, t1 in self.spans:
                f.write(json.dumps({
                    "trace": trace, "span": sid, "parent": parent,
                    "name": name, "start_ns": t0, "end_ns": t1,
                }) + "\n")

    def totals_us(self) -> Dict[str, float]:
        out: Dict[str, float] = {}
        for _, _, _, name, t0, t1 in self.spans:
            out[name] = out.get(name, 0.0) + (t1 - t0) / 1e3
        return out


def traced_process_doc(tr: Tracer, doc_id: str, spans) -> dict:
    """`pipeline.process_doc`'s layer calls, one span each."""
    root = tr.begin(doc_id, "doc")
    doc, diags = tr.call("parse", parse_span_doc, doc_id, list(spans))
    tr.call("validate", validate_doc, doc)
    shared = tr.call("context", SharedDocContext, doc)
    md = tr.call("markdown", serialize_markdown, doc, shared=shared)
    tr.call("span_seq", span_seq_from_result, md)
    dt = tr.call("doctags", export_to_doctags, doc, shared=shared)
    html = tr.call("html", export_to_html, doc, shared=shared)
    tr.call("etree", export_to_element_tree, doc, shared=shared)
    counts = {
        "spans": len(spans),
        "items": sum(len(doc[a]) for a in ITEM_ARRAYS),
        "normalized_lists": diags.get("n_normalized_lists", 0),
        "anomalies": sum(diags[k] for k in ANOMALY_KEYS),
        "markdown_bytes": len(md.text.encode()),
        "doctags_bytes": len(dt.encode()),
        "html_bytes": len(html.encode()),
    }
    # free the tree inside the doc span, as process_doc's return does
    del doc, shared, md, html
    tr.end(root)
    # the doctags reader, on this document's doctags: a root span of its
    # own, outside the stage, so that workloads without a round trip
    # still measure parse/doctags.py
    tr.call("doctags_parse", parse_doctags, dt, name=doc_id)
    return counts


def traced_roundtrip_doc(tr: Tracer, doc_id: str, spans) -> dict:
    """`pipeline.roundtrip_doc`'s layer calls, one span each."""
    root = tr.begin(doc_id, "doc")
    doc, diags = tr.call("parse", parse_span_doc, doc_id, list(spans))
    s1 = tr.call("doctags", export_to_doctags, doc)
    d2 = tr.call("doctags_parse", parse_doctags, s1, name=doc_id)
    s2 = tr.call("doctags", export_to_doctags, d2)
    d3 = tr.call("doctags_parse", parse_doctags, s2, name=doc_id)
    tr.call("doctags", export_to_doctags, d3)
    counts = {
        "spans": len(spans),
        "items": sum(len(doc[a]) for a in ITEM_ARRAYS),
        "normalized_lists": diags.get("n_normalized_lists", 0),
        "anomalies": sum(diags[k] for k in ANOMALY_KEYS),
        "markdown_bytes": 0,
        "doctags_bytes": len(s1.encode()),
        "html_bytes": 0,
    }
    del doc, d2, d3
    tr.end(root)
    return counts


def layer_table(stage: str, docs: List[tuple], tracer: Tracer) -> dict:
    """Trace `docs` [(doc_id, spans)] through `stage` single-process.

    Each doc runs through the untraced stage function and through its
    traced replica, in alternating order and after a garbage collection,
    so the two timings share host drift. Their difference is
    the tracing overhead, and the untraced time minus the traced layer
    spans is time no layer explains. A sample of fewer than MIN_CALLS
    docs (long documents) is passed over repeatedly.
    """
    stage_fn, traced, in_stage = (
        (roundtrip_doc, traced_roundtrip_doc, ROUNDTRIP_LAYERS)
        if stage == "roundtrip"
        else (process_doc, traced_process_doc, PIPELINE_LAYERS)
    )
    untraced_ns = 0
    counts: Dict[str, float] = {}
    passes = -(-MIN_CALLS // len(docs))
    # Keep the driver's own live objects out of the collector's scans, so
    # a call pays for its own garbage only, as in a lean Python worker.
    gc.collect()
    gc.freeze()
    try:
        for i, (doc_id, spans) in enumerate(docs * passes):
            for j in ((0, 1) if i % 2 == 0 else (1, 0)):
                # collect the previous call's garbage outside both timings
                gc.collect()
                if j == 0:
                    t0 = time.perf_counter_ns()
                    stage_fn(doc_id, spans)
                    untraced_ns += time.perf_counter_ns() - t0
                else:
                    for k, v in traced(tracer, doc_id, spans).items():
                        counts[k] = counts.get(k, 0) + v
    finally:
        gc.unfreeze()
    n = len(docs) * passes
    tot = tracer.totals_us()
    doc_us = tot.pop("doc") / n
    stage_us = untraced_ns / 1e3 / n
    layers = {
        name: {
            "us_per_doc": tot.get(name, 0.0) / n,
            "share_of_doc": tot.get(name, 0.0) / n / doc_us,
        }
        for name in ALL_LAYERS
    }
    return {
        "docs": len(docs),
        "passes": passes,
        "layers": layers,
        "counts": {k: v / n for k, v in counts.items()},
        "parse_us_per_span": tot.get("parse", 0.0) / counts["spans"],
        "stage_fn_us_per_doc": stage_us,
        "traced_doc_us_per_doc": doc_us,
        "unattributed_us_per_doc":
            stage_us - sum(tot.get(k, 0.0) for k in in_stage) / n,
        "trace_overhead_share": doc_us / stage_us - 1.0,
    }


# ---------------------------------------------------------------------------
# Spark REST API (UI on, traced run only)
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


class StageMetrics:
    """Task/stage metrics of the jobs in given job groups, via REST."""

    def __init__(self, ui_url: str) -> None:
        self.base = f"{ui_url}/api/v1/applications"
        self.app = _get(self.base)[0]["id"]

    def _api(self, path: str):
        return _get(f"{self.base}/{self.app}/{path}")

    def job_metrics(self, group: str, timeout_s: float = 20.0) -> List[dict]:
        """One dict per finished job of `group` (waits for the listener)."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._api("jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs) and all(
                "completionTime" in j for j in jobs
            ):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.2)
        return [self._one(j) for j in jobs if "completionTime" in j]

    def _one(self, job: dict) -> dict:
        tasks: List[float] = []
        m = {"tasks": 0, "failed_tasks": 0, "spill_bytes": 0, "gc_s": 0.0,
             "shuffle_write_bytes": 0}
        for sid in job["stageIds"]:
            for att in self._api(f"stages/{sid}"):
                if att.get("status") == "SKIPPED":
                    continue
                m["tasks"] += att["numTasks"]
                m["failed_tasks"] += att["numFailedTasks"]
                m["spill_bytes"] += (att["memoryBytesSpilled"]
                                     + att["diskBytesSpilled"])
                m["gc_s"] += att.get("jvmGcTime", 0) / 1e3
                m["shuffle_write_bytes"] += att["shuffleWriteBytes"]
                tl = self._api(
                    f"stages/{sid}/{att['attemptId']}/taskList?length=100000"
                )
                tasks += [t["duration"] / 1e3 for t in tl if "duration" in t]
        m["task_s_p50"] = statistics.median(tasks) if tasks else 0.0
        m["task_s_max"] = max(tasks) if tasks else 0.0
        m["wall_s"] = _ts(job["completionTime"]) - _ts(job["submissionTime"])
        return m


def summarize_jobs(jobs: List[dict], py_s_per_core: float) -> dict:
    """Median per-job stage metrics; failures, spill and shuffle summed.

    `py_s_per_core` is the single-process stage-function time for one
    core's share of a job. The job's Python work is cpus times that, so
    1 - py_s_per_core / wall is the share of cpus x wall spent outside
    the per-document functions: Arrow, JVM and scheduling.
    """
    med = {k: statistics.median(j[k] for j in jobs)
           for k in ("tasks", "task_s_p50", "task_s_max", "gc_s", "wall_s")}
    return {
        **med,
        "jobs": len(jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "handoff_share": 1.0 - py_s_per_core / med["wall_s"],
    }


STREAM_KEYS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
}


def drain_metrics(progress: List[dict], start_s: float,
                  drain_s: float) -> dict:
    """Per-drain streaming metrics from `recentProgress` dicts."""
    m = {k: float(sum(p["durationMs"].get(v, 0) for p in progress))
         for k, v in STREAM_KEYS.items()}
    m["start_s"] = start_s
    m["outside_trigger_s"] = drain_s - m["trigger_ms"] / 1e3
    return m
