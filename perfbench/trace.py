"""Tracing for the benchmark's traced run, recorded from outside the
engine: spans around each call into a layer, one Spark job group per
span, and per-group task metrics parsed from Spark's own JSON-lines
event log after the session stops."""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, layer, start, end, parent) kept in memory. With
    `enabled`, each span also tags the jobs it runs with a Spark job
    group named after its layer; disabled, spans only time."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {"name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic() - self._t0}
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self._context()
        if sc is not None:
            sc.setJobGroup(layer, name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self._t0
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            sc = self._context()
            if sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    sc.setJobGroup(outer["layer"], outer["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def _context(self):
        # the workloads restart sessions during set-up: tag whichever
        # context is live when the span opens
        if not self.enabled:
            return None
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


_ZERO = {"jobs": 0, "tasks": 0, "task_time_s": 0.0,
         "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
         "spill_bytes": 0}


def group_metrics(event_dir: str) -> dict[str, dict]:
    """Job group → {jobs, tasks, task_time_s, shuffle_write_bytes,
    shuffle_read_bytes, spill_bytes}, from every uncompressed JSON-lines
    event log under `event_dir`."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, dict(_ZERO))

    # one log per application (each set-up restart is one); a rolling
    # log is a directory of event files
    paths = [p for p in sorted(glob.glob(os.path.join(event_dir, "**"),
                                         recursive=True))
             if os.path.isfile(p) and "appstatus" not in p]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "untagged"
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = acc(stage_group.get(ev.get("Stage ID"), "untagged"))
                    g["tasks"] += 1
                    g["task_time_s"] += m.get("Executor Run Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out


def merged(groups: dict[str, dict], names) -> dict:
    tot = dict(_ZERO)
    for n in names:
        for k, v in groups.get(n, {}).items():
            tot[k] += v
    return tot
