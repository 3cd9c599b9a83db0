"""Layer spans, Spark job labels and the per-layer aggregate.

A ``Tracer`` records a span around every call the benchmark makes into an
engine layer. In traced mode it also

* sets the Spark job group (and a ``perfbench.span`` local property) to
  the layer, so every job the call launches is labelled with it;
* materializes a DataFrame returned at the layer boundary, so its jobs run
  inside the span instead of in whichever later call first reads it;
* wraps the engine's own calls into other layers (module attributes and
  ``SnapshotStore`` methods) so nested layers get their own spans;
* listens to Structured Streaming progress events.

Spans live in memory; ``aggregate`` joins them with the Spark event log
(enabled from outside the engine by ``run.py``) when the run ends.
With tracing off every hook is a no-op and nothing is patched.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from datetime import datetime

LAYERS = (
    "plans.pipeline",
    "operators.cover_join",
    "operators.knn",
    "operators.conflate",
    "operators.geometry_passes",
    "operators.dedupe.minhash",
    "operators.dedupe.simhash",
    "operators.dedupe.keep_best",
    "operators.dedupe.ngram",
    "sources.checkpoint",
    "streaming.incremental",
    "cli.write",
)
KINDS = (
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("task_wait_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MiB", "lower"),
    ("spill_mb", "MiB", "lower"),
    ("rows_out", "rows", "higher"),
    ("records_per_row_out", "ratio", "lower"),
    ("skew_ratio", "ratio", "lower"),
)
EXTRA = (
    ("session.start_s", "s", "lower"),
    ("streaming.incremental.start_s", "s", "lower"),
    ("streaming.incremental.planning_s", "s", "lower"),
    ("streaming.incremental.wal_commit_s", "s", "lower"),
    ("trace_overhead_frac", "ratio", "lower"),
    ("span_coverage_frac", "ratio", "higher"),
    ("peak_rss_mb", "MiB", "lower"),  # sampled by run.py
)

_TRACE_GROUP = "perfbench.trace"  # bookkeeping jobs, excluded from layers


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self.stream_events: list[dict] = []
        self.recording = False
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def layer(self, name: str):
        """Span around one call into `name`; labels its Spark jobs."""
        if not self.enabled:
            yield
            return
        with self._lock:
            self._next += 1
            span = {
                "id": self._next, "layer": name, "parent": self._stack[-1]["id"] if self._stack else None,
                "start": time.perf_counter(), "end": None, "rows": 0,
                "timed": self.recording,
            }
            self._stack.append(span)
        self._label(name, span["id"])
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            with self._lock:
                self._stack.pop()
                self.spans.append(span)
                parent = self._stack[-1] if self._stack else None
            if parent is None:
                self._label(None, None)
            else:
                self._label(parent["layer"], parent["id"])

    def _label(self, layer: str | None, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if layer is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("perfbench.span", None)
        else:
            sc.setJobGroup(layer, layer)
            sc.setLocalProperty("perfbench.span", str(span_id))

    def call(self, name: str, fn, *args, **kwargs):
        """fn(*args, **kwargs) inside a `name` span; in traced mode a
        DataFrame result is materialized at the boundary."""
        with self.layer(name) as span:
            out = fn(*args, **kwargs)
            if self.enabled:
                out = self._materialize(out, span)
            return out

    def _materialize(self, out, span):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out = out.localCheckpoint(eager=True)
            sc = self.spark.sparkContext
            sc.setJobGroup(_TRACE_GROUP, _TRACE_GROUP)
            sc.setLocalProperty("perfbench.span", None)
            span["rows"] += out.count()
            self._label(span["layer"], span["id"])
        return out

    # -- patching the engine's own cross-layer calls ---------------------------

    def checkpoint(self, df):
        """The CLI flows' lazy localCheckpoint; a traced call already
        materialized its result at the layer boundary."""
        return df if self.enabled else df.localCheckpoint(eager=False)

    def install(self, spark) -> None:
        """Bind the session; when tracing, wrap every public entry point of
        every layer (the engine's own cross-layer calls go through module
        attributes, so they are wrapped too)."""
        self.spark = spark
        if not self.enabled:
            return
        from building2osm_spark.operators import conflate, cover_join, dedupe, knn
        from building2osm_spark.plans import pipeline
        from building2osm_spark.sources.checkpoint import SnapshotStore
        from building2osm_spark.streaming import incremental

        def wrap(owner, attr, layer):
            orig = getattr(owner, attr)

            def wrapped(*args, **kwargs):
                return self.call(layer, orig, *args, **kwargs)

            wrapped.__wrapped__ = orig
            setattr(owner, attr, wrapped)

        for owner, attr, layer in (
            (cover_join, "assign_points_to_polygons", "operators.cover_join"),
            (knn, "knn_join", "operators.knn"),
            (conflate, "conflate", "operators.conflate"),
            (conflate, "conflate_with_tags", "operators.conflate"),
            (pipeline, "municipality_pipeline", "plans.pipeline"),
            (pipeline, "rectify_and_simplify", "operators.geometry_passes"),
            (dedupe, "minhash_signatures", "operators.dedupe.minhash"),
            (dedupe, "minhash_lsh_pairs", "operators.dedupe.minhash"),
            (dedupe, "simhash_near_pairs", "operators.dedupe.simhash"),
            # the survivor row pull-back after the component selection
            (dedupe, "multimodal_near_dup", "operators.dedupe.keep_best"),
            (dedupe, "dedup_keep_best", "operators.dedupe.keep_best"),
            (dedupe, "cross_doc_ngram_profile", "operators.dedupe.ngram"),
            (SnapshotStore, "incremental_commit", "sources.checkpoint"),
            (SnapshotStore, "commit_increment", "sources.checkpoint"),
            (incremental, "incremental_conflate", "streaming.incremental"),
        ):
            wrap(owner, attr, layer)
        spark.streams.addListener(_StreamListener(self))

    # -- aggregate -----------------------------------------------------------

    def aggregate(self, event_dir: str, timed_wall: float, overhead_frac: float,
                  session_start_s: float) -> dict:
        timed = [s for s in self.spans if s["timed"]]
        ids = {s["id"]: s for s in timed}
        per = {name: _empty() for name in LAYERS}
        for s in timed:
            child = _covered(
                [(c["start"], c["end"]) for c in timed if c["parent"] == s["id"]]
            )
            if s["layer"] in per:
                per[s["layer"]]["self_s"] += (s["end"] - s["start"]) - child
                per[s["layer"]]["rows_out"] += s["rows"]
        stages = _stages_from_event_log(event_dir, set(ids))
        for st in stages.values():
            span = ids.get(st["span"])
            if span is None or span["layer"] not in per:
                continue
            acc = per[span["layer"]]
            acc["task_cpu_s"] += st["cpu_s"]
            acc["task_wait_s"] += st["run_s"] - st["cpu_s"]
            acc["gc_s"] += st["gc_s"]
            acc["shuffle_write_mb"] += st["shuffle_bytes"] / 2**20
            acc["spill_mb"] += st["spill_bytes"] / 2**20
            acc["_shuffle_records"] += st["shuffle_records"]
            acc["_written"] += st["records_written"]
            if st["wall_s"] > acc["_longest"]:
                acc["_longest"] = st["wall_s"]
                acc["skew_ratio"] = st["skew"]
        for job_span in _job_spans(event_dir, set(ids)):
            layer = ids[job_span]["layer"]
            if layer in per:
                per[layer]["jobs"] += 1
        metrics = {}
        for name, acc in per.items():
            if not acc["rows_out"]:
                acc["rows_out"] = acc["_written"]
            if acc["rows_out"]:
                acc["records_per_row_out"] = acc["_shuffle_records"] / acc["rows_out"]
            for kind, unit, _better in KINDS:
                metrics[f"{name}.{kind}"] = {"value": float(acc[kind]), "unit": unit}
        stream = _stream_times(self.stream_events)
        metrics["session.start_s"] = {"value": session_start_s, "unit": "s"}
        for k, v in stream.items():
            metrics[f"streaming.incremental.{k}"] = {"value": v, "unit": "s"}
        metrics["trace_overhead_frac"] = {"value": overhead_frac, "unit": "ratio"}
        covered = sum(m["value"] for k, m in metrics.items() if k.endswith(".self_s"))
        metrics["span_coverage_frac"] = {
            "value": covered / timed_wall if timed_wall else 0.0, "unit": "ratio",
        }
        return metrics

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "stream_events": self.stream_events,
                       "per_layer": metrics}, f, indent=1)


def _empty() -> dict:
    acc = {kind: 0.0 for kind, _u, _b in KINDS}
    acc.update({"_shuffle_records": 0, "_written": 0, "_longest": -1.0})
    return acc


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _events(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _span_of(props) -> int | None:
    v = (props or {}).get("perfbench.span")
    return int(v) if v else None


def _job_spans(event_dir: str, wanted: set) -> list[int]:
    out = []
    for ev in _events(event_dir):
        if ev["Event"] == "SparkListenerJobStart":
            sid = _span_of(ev.get("Properties"))
            if sid in wanted:
                out.append(sid)
    return out


def _stages_from_event_log(event_dir: str, wanted: set) -> dict:
    """Per (stage, attempt): the submitting span and task aggregates."""
    stages: dict = {}
    for ev in _events(event_dir):
        kind = ev["Event"]
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = _span_of(ev.get("Properties"))
            if sid in wanted:
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "span": sid, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                    "shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
                    "records_written": 0, "tasks": [], "wall_s": 0.0, "skew": 0.0,
                }
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["run_s"] += m.get("Executor Run Time", 0) / 1e3
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics", {})
            st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            st["records_written"] += m.get("Output Metrics", {}).get("Records Written", 0)
            ti = ev["Task Info"]
            st["tasks"].append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
            if st is None:
                continue
            if info.get("Submission Time") and info.get("Completion Time"):
                st["wall_s"] = (info["Completion Time"] - info["Submission Time"]) / 1e3
            med = statistics.median(st["tasks"]) if st["tasks"] else 0.0
            st["skew"] = max(st["tasks"]) / med if med > 0 else 1.0
    return stages


class _StreamListener:
    """StreamingQueryListener recording start / progress timings."""

    def __new__(cls, tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.stream_events.append({
                    "kind": "started", "id": str(event.runId), "ts": event.timestamp,
                    "timed": tracer.recording,
                })

            def onQueryProgress(self, event):
                p = event.progress
                tracer.stream_events.append({
                    "kind": "progress", "id": str(p.runId), "ts": p.timestamp,
                    "durationMs": dict(p.durationMs), "rows": p.numInputRows,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.stream_events.append({"kind": "terminated", "id": str(event.runId)})

        return Listener()


def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _stream_times(events: list[dict]) -> dict:
    """start_s: query start → first trigger; planning and WAL commit time,
    summed over the queries started inside the timed window."""
    started = {e["id"]: e for e in events if e["kind"] == "started" and e["timed"]}
    out = {"start_s": 0.0, "planning_s": 0.0, "wal_commit_s": 0.0}
    first = {}
    for e in events:
        if e["kind"] != "progress" or e["id"] not in started:
            continue
        first.setdefault(e["id"], e["ts"])
        d = e["durationMs"]
        out["planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
    for qid, ts in first.items():
        out["start_s"] += max(0.0, _ts(ts) - _ts(started[qid]["ts"]))
    return out


def wait_for_stream_events(tracer: Tracer, timeout_s: float = 10.0) -> None:
    """Listener events arrive asynchronously; wait until every started
    query has reported its termination."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        ev = tracer.stream_events
        started = {e["id"] for e in ev if e["kind"] == "started"}
        ended = {e["id"] for e in ev if e["kind"] == "terminated"}
        if started <= ended:
            return
        time.sleep(0.05)


def per_layer_names() -> list[tuple[str, str, str]]:
    names = [(f"{layer}.{kind}", unit, better)
             for layer in LAYERS for kind, unit, better in KINDS]
    return names + list(EXTRA)
