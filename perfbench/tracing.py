"""Tracing for the benchmark's ``--trace 1`` runs.

Three sources, all recorded from outside the program:

* spans the benchmark opens around its own calls into each layer
  (session start, registry load, each query's build/plan/exec phase,
  every ``io.load_table`` call), kept in memory and written at exit;
* Spark's event log (``spark.eventLog.enabled``, set through the
  ``SPARK_GRAFT_EXTRA_CONF`` hook), read after the session stops, for
  jobs, stages and task metrics. Each phase runs under its own job
  group; jobs from other groups (streaming micro-batches) are assigned
  to the phase whose span holds their submission time;
* a ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from datetime import datetime

GROUP_PREFIX = "perfbench"
PHASES = ("build", "plan", "exec")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.progress: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "query": query, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float) -> None:
        """A top-level span timed by the caller (epoch seconds)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": None, "query": None})

    def wrap_load_table(self, io_module) -> None:
        """Time every ``io.load_table`` call. Must run before the
        registry imports the operator modules, which bind the function
        by name at import time."""
        inner = io_module.load_table

        def load_table(spark, sf_dir, name):
            query = self.spans[self._stack[-1]]["query"] if self._stack \
                else None
            with self.span("io.load_table", query, table=name):
                return inner(spark, sf_dir, name)

        io_module.load_table = load_table

    def add_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "stream_progress": self.progress},
                      f)


def job_group(rnd, query: str, phase: str) -> str:
    return f"{GROUP_PREFIX}|{rnd}|{query}|{phase}"


def empty_counts() -> dict[str, float]:
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "task_skew": 0.0}


def _span_at(spans: list[dict], t_ms: int) -> dict | None:
    """Innermost phase span open at event time ``t_ms``."""
    t = t_ms / 1000.0
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= best["start"]):
            best = s
    return best


def phase_metrics(log_dir: str, spans: list[dict]) -> dict[tuple, dict]:
    """Event-log counts per ``(round, query, phase)``, plus
    ``("io", round, query)`` keys counting jobs launched inside
    ``io.load_table``."""
    phase_spans = [s for s in spans if s["name"] in PHASES]
    by_group = {job_group(s["round"], s["query"], s["name"]): s
                for s in phase_spans}
    io_spans = [s for s in spans if s["name"] == "io.load_table"]
    out: dict[tuple, dict] = {}

    def key_of(props: dict, t_ms: int):
        span = by_group.get((props or {}).get("spark.jobGroup.id")) \
            or _span_at(phase_spans, t_ms)
        return (span["round"], span["query"], span["name"]) if span else None

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_key: dict[int, tuple] = {}
        stage_tasks: dict[int, list[float]] = {}
        stage_span: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    key = key_of(ev.get("Properties"), ev["Submission Time"])
                    if key:
                        out.setdefault(key, empty_counts())["jobs"] += 1
                        io = _span_at(io_spans, ev["Submission Time"])
                        if io:
                            ik = ("io", key[0], key[1])
                            out.setdefault(ik, {"jobs": 0})["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = key_of(ev.get("Properties"),
                                 info.get("Submission Time", 0))
                    if key:
                        stage_key[info["Stage ID"]] = key
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    key = stage_key.get(sid)
                    m = ev.get("Task Metrics")
                    if not key or not m:
                        continue
                    c = out.setdefault(key, empty_counts())
                    run_s = m["Executor Run Time"] / 1000.0
                    c["tasks"] += 1
                    c["task_run_s"] += run_s
                    c["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                    c["gc_s"] += m["JVM GC Time"] / 1000.0
                    c["input_mb"] += m["Input Metrics"]["Bytes Read"] / 2**20
                    sr = m["Shuffle Read Metrics"]
                    c["shuffle_read_mb"] += (sr["Remote Bytes Read"]
                                             + sr["Local Bytes Read"]) / 2**20
                    c["shuffle_write_mb"] += \
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"] \
                        / 2**20
                    c["spill_mb"] += (m["Memory Bytes Spilled"]
                                      + m["Disk Bytes Spilled"]) / 2**20
                    stage_tasks.setdefault(sid, []).append(run_s)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    if sid in stage_key:
                        out.setdefault(stage_key[sid],
                                       empty_counts())["stages"] += 1
                        stage_span[sid] = (info.get("Completion Time", 0)
                                           - info.get("Submission Time", 0))
        # task skew: max/median task run time in each phase's slowest stage
        slowest: dict[tuple, int] = {}
        for sid, key in stage_key.items():
            if sid in stage_span and (
                    key not in slowest
                    or stage_span[sid] > stage_span[slowest[key]]):
                slowest[key] = sid
        for key, sid in slowest.items():
            runs = stage_tasks.get(sid)
            med = statistics.median(runs) if runs else 0.0
            if med > 0:
                out[key]["task_skew"] = max(runs) / med
    return out


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_metrics(progress: list[dict], start: float,
                   end: float) -> dict[str, float]:
    """Micro-batch totals for batches that began in ``[start, end]``."""
    batches = [p for p in progress
               if start <= _iso_to_epoch(p["timestamp"]) <= end]
    dur = [p.get("durationMs", {}) for p in batches]
    trigger_s = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
    rows = sum(p.get("numInputRows", 0) for p in batches)
    busy = [d.get("triggerExecution", 0) / 1000.0
            for p, d in zip(batches, dur) if p.get("numInputRows", 0) > 0]
    ops = [p.get("stateOperators", []) for p in batches]
    return {
        "stream.batches": len(batches),
        "stream.input_rows": rows,
        "stream.source_s": sum(d.get("latestOffset", 0) + d.get("getBatch", 0)
                               for d in dur) / 1000.0,
        "stream.sink_s": sum(d.get("addBatch", 0) for d in dur) / 1000.0,
        "stream.commit_s": sum(d.get("walCommit", 0)
                               + d.get("commitOffsets", 0)
                               for d in dur) / 1000.0,
        "stream.state_rows": max((sum(o.get("numRowsTotal", 0) for o in op)
                                  for op in ops), default=0),
        "stream.state_mb": max((sum(o.get("memoryUsedBytes", 0) for o in op)
                                for op in ops), default=0) / 2**20,
        "stream.state_commit_s": sum(o.get("commitTimeMs", 0)
                                     for op in ops for o in op) / 1000.0,
        "stream.events_per_s": rows / trigger_s if trigger_s else 0.0,
        "stream.batch_s_p50": statistics.median(busy) if busy else 0.0,
    }
