"""Benchmark-side tracing: spans around calls into the package's layers,
and per-job Spark metrics from Spark's own event log.

Spans are kept in memory (name, start, end, parent, pass) and turned into
per-layer numbers when the run ends.  Before each wrapped call the
tracer sets ``spark.job.description`` to the span's id, so every Spark
job the call submits names the innermost span that caused it; the event
log then gives each job's stages and tasks.  The package itself is not
changed: wrappers replace module attributes for the life of the run.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

# (module, attribute, span name): the layers' public functions
TARGETS = [
    ("artis_data_ingest_spark.sources.tables", "load_table",
     "sources.load_table"),
    ("artis_data_ingest_spark.sources.files", "read_csv_inferred",
     "sources.read_csv_inferred"),
    ("artis_data_ingest_spark.sources.files", "file_inventory",
     "sources.file_inventory"),
    ("artis_data_ingest_spark.sources.excel", "read_excel",
     "sources.read_excel"),
    ("artis_data_ingest_spark.operators.dedup", "connected_components",
     "operators.connected_components"),
    ("artis_data_ingest_spark.operators.dedup", "portable_minhash_sig_table",
     "operators.portable_minhash_sig_table"),
    ("artis_data_ingest_spark.operators.graphs", "kcore", "operators.kcore"),
    ("artis_data_ingest_spark.operators.similarity", "semantic_dedup",
     "operators.semantic_dedup"),
    ("artis_data_ingest_spark.operators.changelog", "assess_changes",
     "operators.assess_changes"),
    ("artis_data_ingest_spark.operators.diff", "column_set_diff",
     "operators.column_set_diff"),
    ("artis_data_ingest_spark.sinks.versioned", "commit", "sinks.commit"),
    ("artis_data_ingest_spark.sinks.versioned", "merge_commit",
     "sinks.commit"),
]
PACKAGE = "artis_data_ingest_spark"

# event-log SQL metric names of the Python-worker layer -> metric suffix,
# each summed over tasks.  "time to initialize Python workers" is left
# out: a reused worker reports it from its first boot, so its sum over
# tasks exceeds the tasks' own run time.
_PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
}


class Tracer:
    """Spans in memory; ``enabled`` switches recording (and the job
    descriptions) on and off without unwrapping."""

    def __init__(self, sc):
        self._sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pass: int | None = None
        self.counts = defaultdict(lambda: defaultdict(float))

    # -- spans -----------------------------------------------------------
    def begin_pass(self, index: int) -> None:
        self._pass = index

    def span(self, name: str):
        return _Span(self, name)

    def count(self, name: str, value: float) -> None:
        """Add to a per-pass counter (recorded only while enabled)."""
        if self.enabled:
            self.counts[self._pass][name] += value

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self._pass, "start": time.time(), "end": None,
        })
        self._stack.append(sid)
        self._sc.setJobDescription(f"span:{sid}")
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.pop()
        self._sc.setJobDescription(
            f"span:{self._stack[-1]}" if self._stack else None
        )

    # -- wrapping --------------------------------------------------------
    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every target, including the names other package modules
        bound at import (``from ..sources.tables import load_table``),
        and ``DataFrame.localCheckpoint``, for the rest of the process."""
        for mod_name, attr, name in TARGETS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(orig, name)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(PACKAGE):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapped)
        from pyspark.sql.classic.dataframe import DataFrame

        DataFrame.localCheckpoint = self.wrap(
            DataFrame.localCheckpoint, "operators.localCheckpoint"
        )


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self._t, self._name, self._sid = tracer, name, None

    def __enter__(self):
        if self._t.enabled:
            self._sid = self._t._open(self._name)
        return self

    def __exit__(self, *exc):
        if self._sid is not None:
            self._t._close(self._sid)
        return False


# -------------------------------------------------------------------------
# event log
# -------------------------------------------------------------------------


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics") or []:
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children") or []:
        _plan_metrics(child, out)


def read_event_log(path: Path) -> dict:
    """Jobs (description, interval, stage ids), per-stage task sums and
    the bytes each SQL execution's file scans read.

    Scan bytes come from the scan node's driver-side "size of files
    read" metric: the task-level ``Input Metrics`` bytes undercount the
    vectorized Parquet reader."""
    jobs, stage_job = {}, {}
    stage = defaultdict(lambda: defaultdict(float))
    metric_name, scan_bytes = {}, defaultdict(float)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev["sparkPlanInfo"], metric_name)
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev["accumUpdates"]:
                    if metric_name.get(acc_id) == "size of files read":
                        scan_bytes[ev["executionId"]] += value
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                execution = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "span": int(desc[5:]) if desc.startswith("span:") else None,
                    "start": ev["Submission Time"] / 1e3, "end": None,
                    "stages": ev["Stage IDs"],
                    "execution": int(execution) if execution else None,
                }
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stage[ev["Stage Info"]["Stage ID"]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(stage[ev["Stage ID"]], ev)
    first_job = {}
    for jid in sorted(jobs):
        first_job.setdefault(jobs[jid]["execution"], jid)
    for execution, jid in first_job.items():
        jobs[jid]["scan_mb"] = scan_bytes.get(execution, 0.0) / 1e6
    return {"jobs": jobs, "stage_job": stage_job, "stage": stage}


def _add_task(acc: dict, ev: dict) -> None:
    info = ev["Task Info"]
    acc["tasks"] += 1
    if info.get("Failed"):
        acc["task_failures"] += 1
    m = ev.get("Task Metrics") or {}
    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)) / 1e6
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)) / 1e6
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    acc["scan_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for a in info.get("Accumulables") or []:
        key = _PY_METRICS.get(a.get("Name"))
        if key is None:
            continue
        v = float(a.get("Update") or 0)
        acc["python." + key] += v / 1e3 if key.endswith("_s") else v / 1e6


# -------------------------------------------------------------------------
# per-layer metrics
# -------------------------------------------------------------------------

def _ancestors(spans: list[dict], sid: int):
    while sid is not None:
        yield spans[sid]
        sid = spans[sid]["parent"]


def layer_metrics(tracer: Tracer, log: dict, passes: list[dict],
                  cores: int) -> dict[str, float]:
    """Per-pass layer metrics for the traced timed passes (median over
    passes), plus ``plans.first_pass_s`` from the untimed first pass.

    ``passes`` holds ``{"index", "start", "end", "traced"}`` records."""
    spans = tracer.spans
    per_pass = defaultdict(lambda: defaultdict(float))
    for i, counts in tracer.counts.items():
        per_pass[i].update(counts)
    by_pass = defaultdict(list)
    for s in spans:
        if s["pass"] is not None:
            by_pass[s["pass"]].append(s)
    for s in spans:
        p = per_pass[s["pass"]]
        dur = s["end"] - s["start"]
        p[f"{s['name']}.s"] += dur
        if s["name"] == "pass":
            named = [(c["start"], c["end"]) for c in by_pass[s["pass"]]
                     if c["name"] != "pass" and not c["name"].startswith("job.")]
            p["trace.attributed"] = _union_s(named) / dur if dur else 0.0
    for jid, job in log["jobs"].items():
        if job["span"] is None or job["span"] >= len(spans):
            continue
        chain = list(_ancestors(spans, job["span"]))
        p = per_pass[chain[0]["pass"]]
        p["spark.jobs"] += 1
        p["spark.scan_mb"] += job.get("scan_mb", 0.0)
        names = {c["name"] for c in chain}
        for n in names:
            if n.startswith("operators.") or n.startswith("sinks."):
                p[f"{n}.jobs"] += 1
        if any(c["name"].startswith("plans.") for c in chain):
            p["plans.build_jobs"] += 1
        for st in job["stages"]:
            if log["stage_job"].get(st) != jid or st not in log["stage"]:
                continue
            acc = log["stage"][st]
            for k, v in acc.items():
                key = k if k.startswith("python.") else f"spark.{k}"
                p[key] += v
    for rec in passes:
        p = per_pass[rec["index"]]
        wall = rec["end"] - rec["start"]
        p["pass_s"] = wall
        busy = [(j["start"], j["end"]) for j in log["jobs"].values()
                if j["end"] is not None and j["start"] < rec["end"]
                and j["end"] > rec["start"]]
        clipped = [(max(a, rec["start"]), min(b, rec["end"]))
                   for a, b in busy]
        p["driver.only_s"] = wall - _union_s(clipped)
        p["spark.core_busy"] = (
            p["spark.executor_run_s"] / (wall * cores) if wall else 0.0
        )
    timed = [r["index"] for r in passes if r["traced"] and r["index"] > 0]
    out: dict[str, float] = {}
    keys = set()
    for i in timed:
        keys |= set(per_pass[i])
    for k in sorted(keys):
        out[k] = statistics.median(per_pass[i].get(k, 0.0) for i in timed)
    first = per_pass.get(0, {}).get("pass_s")
    if first is not None and "pass_s" in out:
        out["plans.first_pass_s"] = first - out["pass_s"]
    out["plans.build_s"] = out.get("plans.build.s", 0.0)
    return out
