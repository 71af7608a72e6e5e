"""Spans around the package's public calls, and their Spark attribution.

The traced run wraps, from outside the package, the public functions a
workload calls in ``cli``, ``plans``, ``sources``, ``core.io``,
``queries`` and ``streaming``. Every wrapped call opens a span (id, name,
layer, parent, start, end, counters) and tags the Spark jobs it submits
with ``setJobGroup(<span id>)``. Spans stay in memory; ``pass_layers``
joins them with the Spark event log, read after the session stops, and
with the progress events of a ``StreamingQueryListener``. ``uninstall``
restores the package for an untraced comparison pass.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# (module path, attribute, layer): the public calls the workloads make.
# The ``cli`` module binds write_table by name, so core.io is wrapped
# where cli looks it up.
WRAPPED = (
    ("peskas_malawi_data_pipeline_spark.cli", "run_stage", "cli"),
    ("peskas_malawi_data_pipeline_spark.cli", "write_table", "io.write"),
    ("peskas_malawi_data_pipeline_spark.plans.ingest", "ingest_landings", "plans"),
    ("peskas_malawi_data_pipeline_spark.plans.preprocess", "preprocess_landings", "plans"),
    ("peskas_malawi_data_pipeline_spark.plans.validate", "validate_landings", "plans"),
    ("peskas_malawi_data_pipeline_spark.plans.merge", "merge_trips", "plans"),
    ("peskas_malawi_data_pipeline_spark.plans.export", "export_landings", "plans"),
    ("peskas_malawi_data_pipeline_spark.plans.export", "export_matched_tracks", "plans"),
    ("peskas_malawi_data_pipeline_spark.sources.kobo", "read_form_json", "sources"),
    ("peskas_malawi_data_pipeline_spark.sources.pds", "read_trips_csv", "sources"),
    ("peskas_malawi_data_pipeline_spark.sources.pds", "read_points_csv", "sources"),
    ("peskas_malawi_data_pipeline_spark.sources.sheets", "read_devices_csv", "sources"),
    ("peskas_malawi_data_pipeline_spark.queries", "materialize", "queries.barrier"),
    ("peskas_malawi_data_pipeline_spark.streaming.ingest_stream", "stream_events_dir", "streaming"),
    ("peskas_malawi_data_pipeline_spark.streaming.ingest_stream", "run_available_now", "streaming"),
)

SOURCE_SCANS = ("Scan json", "Scan csv", "Scan text")
PY_METRICS = {"time to start Python workers": "python.boot_s",
              "time to run Python workers": "python.run_s",
              "data sent to Python workers": "python.bytes_sent",
              "data returned from Python workers": "python.bytes_received"}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``: hidden files
    (checksums) and ``_SUCCESS`` markers are not counted."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a plain
    passthrough, so timed and traced runs share one code path."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.progress: list[dict] = []

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), name, layer, parent, time.time())
        self.spans.append(s)
        self.stack.append(s)
        self.spark.sparkContext.setJobGroup(str(s.id), f"{layer}:{name}")
        return s

    def close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.time()
        self.stack.pop()
        sc = self.spark.sparkContext
        if self.stack:
            top = self.stack[-1]
            sc.setJobGroup(str(top.id), f"{top.layer}:{top.name}")
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def install(self) -> None:
        """Wrap every public call in WRAPPED and add the streaming
        listener. Only a traced run calls this."""
        import importlib

        self.originals = []
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self.originals.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, attr, layer))
        self.listener = _listener(self.progress)
        self.spark.streams.addListener(self.listener)

    def uninstall(self) -> None:
        """Undo ``install``: later spans are no-ops and jobs untagged."""
        for mod, attr, fn in self.originals:
            setattr(mod, attr, fn)
        self.spark.streams.removeListener(self.listener)
        self.enabled = False

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # a stage span is named after its stage, run_stage's 2nd argument
            s = tracer.open(args[1] if layer == "cli" else name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(s)
                if s is not None and layer == "io.write":
                    dest = args[1] if len(args) > 1 else kwargs["path"]
                    s.counters["bytes"], s.counters["files"] = dir_bytes(dest)
        return wrapper


def _listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressSink(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "run": str(p.runId), "batch": p.batchId,
                "ts": _iso_epoch(p.timestamp), "rows": p.numInputRows,
                "ms": p.batchDuration,
                "state": sum(s.numRowsTotal for s in p.stateOperators)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressSink()


def _iso_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# --- event log -------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and per-stage task sums from an uncompressed,
    non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    scans: set[int] = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {"group": e.get("Properties", {}).get("spark.jobGroup.id"),
                                 "start": e["Submission Time"] / 1000.0,
                                 "end": None, "stages": set()}
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    if any(s in r.get("Scope", "") for r in info["RDD Info"]
                           for s in SOURCE_SCANS):
                        scans.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    m = e.get("Task Metrics") or {}
                    st = stages[sid]
                    st["tasks"] += 1
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    for a in e["Task Info"].get("Accumulables", []):
                        key = PY_METRICS.get(a.get("Name"))
                        if key:
                            v = float(a.get("Update", 0))
                            st[key] += v / 1000.0 if key.endswith("_s") else v
    for sid, jid in stage_job.items():
        if sid in stages:
            jobs[jid]["stages"].add(sid)
    return {"jobs": jobs, "stages": stages, "scans": scans}


# --- per-layer metrics ----------------------------------------------------

def _lineage(spans: list[Span], s: Span):
    """``s`` and every span above it."""
    while True:
        yield s
        if s.parent is None:
            return
        s = spans[s.parent]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def pass_layers(tracer: Tracer, log: dict, pass_span: Span) -> dict:
    """Every per-layer number of one pass."""
    spans = tracer.spans
    inside = [s for s in spans if s is not pass_span
              and any(a is pass_span for a in _lineage(spans, s))]
    m: dict[str, float] = defaultdict(float)

    def dur(s: Span) -> float:
        return s.end - s.start

    last_write: dict[int, float] = {}
    for s in inside:
        if s.layer == "cli":
            m[f"cli.{s.name.replace('-', '_')}_s"] += dur(s)
        elif s.layer == "plans":
            m["plans.build_s"] += dur(s)
        elif s.layer == "sources":
            m["sources.build_s"] += dur(s)
        elif s.layer == "io.write":
            m["io.write_s"] += dur(s)
            m["io.bytes_written"] += s.counters.get("bytes", 0)
            m["io.files_written"] += s.counters.get("files", 0)
            last_write[s.parent] = max(last_write.get(s.parent, 0.0), s.end)
        elif s.layer == "queries.build":
            m["queries.build_s"] += dur(s)
            m[f"queries.{s.name}_s"] += dur(s)
        elif s.layer == "queries.exec":
            m["queries.exec_s"] += dur(s)
            m[f"queries.{s.name}_s"] += dur(s)
        elif s.layer == "queries.barrier":
            m["queries.barriers"] += 1
    for s in inside:
        if s.layer == "cli" and s.id in last_write:
            m["cli.recount_s"] += s.end - last_write[s.id]

    # a job belongs to the span named by its job group; jobs of other
    # threads (streaming micro-batches) to the innermost span open at
    # their submission time
    ids = {s.id for s in inside} | {pass_span.id}
    pass_jobs = []
    for j in log["jobs"].values():
        g = j["group"]
        if g is not None and g.isdigit() and int(g) < len(spans):
            if int(g) not in ids:
                continue
            owner = spans[int(g)]
        elif pass_span.start <= j["start"] <= pass_span.end:
            owner = max((s for s in inside if s.start <= j["start"] <= s.end),
                        key=lambda s: s.start, default=pass_span)
        else:
            continue
        pass_jobs.append(j)
        if any(a.layer.startswith("queries.") for a in _lineage(spans, owner)):
            m["queries.jobs"] += 1
    m["exec.jobs"] = len(pass_jobs)
    stage_ids = set()
    for j in pass_jobs:
        stage_ids |= j["stages"]
    m["exec.stages"] = len(stage_ids)
    for sid in stage_ids:
        st = log["stages"][sid]
        for k in ("tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                  "spill_bytes"):
            m[f"exec.{k}"] += st[k]
        for key in PY_METRICS.values():
            m[key] += st[key]
        if sid in log["scans"]:
            m["sources.scan_task_s"] += st["task_s"]
            m["sources.input_bytes"] += st["input_bytes"]
    ivals = [(j["start"], j["end"] or j["start"]) for j in pass_jobs]
    m["driver.gap_s"] = (pass_span.end - pass_span.start) - _covered(
        ivals, pass_span.start, pass_span.end)

    # streaming progress, attributed by batch start time
    last: dict[str, dict] = {}
    for p in tracer.progress:
        if pass_span.start <= p["ts"] <= pass_span.end:
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += p["rows"]
            m["streaming.batch_s"] += p["ms"] / 1000.0
            if p["run"] not in last or p["batch"] > last[p["run"]]["batch"]:
                last[p["run"]] = p
    m["streaming.state_rows"] = sum(p["state"] for p in last.values())
    m["queries.tmp_bytes_left"] = pass_span.counters.get("tmp_bytes_left", 0)
    return dict(m)


def medians(per_pass: list[dict]) -> dict[str, float]:
    keys = sorted({k for p in per_pass for k in p})
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in keys}
