"""Spans around the benchmark's own calls into the package, plus an offline
reader of Spark's event log that turns job-group-tagged tasks into
per-span counts. Nothing inside the package is instrumented.

A span is one layer call. ``Tracer.stage`` splits it into ``build_s``
(the call plus ``queryExecution().executedPlan()``) and ``exec_s`` (the
action that materializes the stage boundary). Every Spark job started
inside a span carries the span's job group, so the event log attributes
tasks, task time, shuffle bytes, spill and GC time to it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "session", "aminer", "cleaning", "blocking", "matching",
    "clustering", "resolve", "io", "streaming_er",
]
PER_RUN = {"session"}
SPAN_FIELDS = ["build_s", "exec_s", "rows_out"]
EVENT_FIELDS = [
    "jobs", "tasks", "task_s", "core_util", "shuffle_write_bytes", "spill_bytes", "gc_s",
]
UNTRACED_GROUP = "erbench-untraced"


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out when the run ends."""

    def __init__(self, run_id: str):
        self.sc = None  # bound by attach() once the session exists
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    def attach(self, spark) -> None:
        """Bind a session created inside an open span to that span."""
        self.sc = spark.sparkContext
        self.sc.setJobGroup(self._stack[-1] if self._stack else UNTRACED_GROUP, "")

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str):
        sid = f"{self.run_id}/{len(self.spans)}:{name}"
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": self._now(), "end": None, "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(sid, name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = self._now()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobGroup(self._stack[-1] if self._stack else UNTRACED_GROUP, "")

    def stage(self, name: str, make, materialize):
        """One layer call with its stage boundary materialized in the span.
        Returns the materialized result and the span's counts, so the
        caller can add ``rows_out`` once the timed work is over."""
        with self.span(name) as c:
            t = time.perf_counter()
            df = make()
            df._jdf.queryExecution().executedPlan()
            c["build_s"] = time.perf_counter() - t
            t = time.perf_counter()
            out = materialize(df)
            c["exec_s"] = time.perf_counter() - t
        return out, c

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor run time, shuffle bytes
    written, bytes spilled (memory + disk) and JVM GC time, from every
    event file Spark wrote under ``log_dir`` (plain or rolling layout)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNTRACED_GROUP
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out[stage_group.get(ev["Stage ID"], UNTRACED_GROUP)]
                    g["tasks"] += 1
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return {k: dict(v) for k, v in out.items()}


def layer_metrics(spans: list[dict], events: dict, cores: int, ops: int) -> dict[str, float]:
    """Per-layer metrics: every span count and event-log field of every
    layer, summed over the layer's spans and divided by the number of
    traced operations (passes or folds); a layer called once per run is
    not divided. ``core_util`` is task time over the span's wall time
    (build plus exec: an eager call such as clustering does its work
    while building) times the core count."""
    agg: dict[str, dict[str, float]] = {}
    for s in spans:
        if s["name"] not in LAYERS:
            continue
        a = agg.setdefault(s["name"], defaultdict(float))
        for k, v in list(s["counts"].items()) + list(events.get(s["id"], {}).items()):
            a[k] += v
    out = {}
    for layer, a in agg.items():
        per = 1 if layer in PER_RUN else ops
        for k in set(SPAN_FIELDS + EVENT_FIELDS) | set(a):
            out[f"{layer}.{k}"] = a.get(k, 0.0) / per
        busy = a.get("build_s", 0.0) + a.get("exec_s", 0.0)
        out[f"{layer}.core_util"] = a.get("task_s", 0.0) / (busy * cores) if busy else 0.0
    return out
