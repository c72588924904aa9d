"""Tracing for the benchmark's traced run.

- ``SpanRecorder``: spans (name, start, end, parent, run id) recorded at
  the benchmark's calls into each layer, kept in memory and written out
  at the end.  When a SparkSession is attached, each span also sets the
  Spark job group to its name, so the event log attributes stage metrics
  to the innermost open span.
- ``read_event_log`` / ``group_metrics``: the Spark event log (zstd JSON
  lines, read through ``pyarrow.CompressedInputStream``) rolled up per
  job group: tasks, executor run and CPU time, GC, shuffle write, spill
  and task skew (max / median task time in the worst stage).
- ``self_times`` / ``layer_table``: a span's self time is its duration
  minus the part of its interval that its child spans cover; a layer's
  self time is the sum over its spans (the layer is the name's first
  dotted part).
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
from typing import Dict, Iterator, List, Optional

import pyarrow as pa

GROUP_PROP = "spark.jobGroup.id"


class SpanRecorder:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.spark = spark
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def _set_group(self, name: Optional[str]) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty(GROUP_PROP, None)
        else:
            sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["name"]
                            if self._stack else None)

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a spanned call; returns the undo."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(c["start"], lo), min(c["end"], hi))
                     for c in children[s["id"]])
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def total_by_name(spans: List[dict]) -> Dict[str, float]:
    out: Dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"]
    return dict(out)


def self_by_name(spans: List[dict]) -> Dict[str, float]:
    st = self_times(spans)
    out: Dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += st[s["id"]]
    return dict(out)


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def layer_table(spans: List[dict]) -> str:
    """Markdown: self time per layer, then per span name."""
    st = self_times(spans)
    by_layer: Dict[str, float] = defaultdict(float)
    rows: Dict[str, list] = {}
    for s in spans:
        by_layer[layer_of(s["name"])] += st[s["id"]]
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["end"] - s["start"]
        r[2] += st[s["id"]]
    lines = ["| layer | self s |", "|---|---|"]
    lines += [f"| {k} | {v:.3f} |" for k, v in sorted(by_layer.items())]
    lines += ["", "| span | calls | total s | self s |", "|---|---|---|---|"]
    lines += [f"| {k} | {c} | {t:.3f} | {s:.3f} |"
              for k, (c, t, s) in sorted(rows.items())]
    return "\n".join(lines) + "\n"


# -- Spark event log ----------------------------------------------------------

def read_event_log(path: str) -> List[dict]:
    """Events of one Spark event log file (zstd-compressed or plain)."""
    if path.endswith(".zstd") or path.endswith(".zst"):
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as fh:
            data = fh.read()
    else:
        with open(path, "rb") as fh:
            data = fh.read()
    return [json.loads(ln) for ln in data.splitlines() if ln.strip()]


def read_app_logs(log_dir: str) -> List[List[dict]]:
    """The events of each application logged under ``log_dir``: a
    single-file log, or the event files of a rolling (``eventlog_v2_*``)
    log directory in order."""
    apps = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            files = sorted(glob.glob(os.path.join(p, "events_*")),
                           key=lambda f: int(os.path.basename(f)
                                             .split("_")[1]))
        elif not p.endswith(".inprogress"):
            files = [p]
        else:
            continue
        apps.append([e for f in files for e in read_event_log(f)])
    return apps


def merge_group_metrics(per_app: List[Dict[str, dict]]) -> Dict[str, dict]:
    """Sum ``group_metrics`` of several applications (stage ids restart
    in each one, so each is rolled up on its own first)."""
    out: Dict[str, dict] = {}
    for groups in per_app:
        for g, m in groups.items():
            if g not in out:
                out[g] = dict(m)
                continue
            for k, v in m.items():
                out[g][k] = max(out[g][k], v) if k == "task_skew" \
                    else out[g][k] + v
    return out


def group_metrics(events: List[dict]) -> Dict[str, dict]:
    """Job group -> rolled-up task metrics.  Tasks of stages submitted
    outside any job group are reported under ``""``."""
    stage_group: Dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        props = e.get("Properties") or {}
        if kind == "SparkListenerJobStart":
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, props.get(GROUP_PROP) or "")
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = props.get(GROUP_PROP) or \
                stage_group.get(sid, "")
    out: Dict[str, dict] = {}
    durations: Dict[tuple, List[float]] = defaultdict(list)
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        g = stage_group.get(sid, "")
        m = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        r = out.setdefault(g, {"tasks": 0, "executor_run_s": 0.0,
                               "executor_cpu_s": 0.0, "gc_s": 0.0,
                               "shuffle_write_bytes": 0,
                               "spill_bytes": 0, "task_skew": 1.0})
        r["tasks"] += 1
        r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
        r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
            m.get("Disk Bytes Spilled", 0)
        if "Finish Time" in info and "Launch Time" in info:
            durations[(g, sid)].append(info["Finish Time"]
                                       - info["Launch Time"])
    for (g, _), ds in durations.items():
        med = statistics.median(ds)
        if len(ds) >= 2 and med > 0:
            out[g]["task_skew"] = max(out[g]["task_skew"], max(ds) / med)
    return out
