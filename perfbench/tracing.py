"""Per-layer tracing from outside the program.

The benchmark wraps the public stage functions that ``kgp.stages.pipeline``
calls, the reuse hook it passes in, and its own output writes. Each wrapped
call records a span (layer, start, end, parent, thread) and sets a Spark job
group ``<run>|<layer>`` on the calling thread, so every job the call launches
carries its layer. After the traced runs, :func:`fold` reads the Spark event
log and folds task metrics per layer.

Attribution rules, and the limits of tracing from outside:

- A reuse point's job is attributed to the layer that produced the reused
  DataFrame (``tagged`` -> mentions, ``clusters`` -> coref, ...). The
  ``reuse`` layer is an overlay: its job metrics are those of every job
  launched inside a reuse call, also counted under the producing layer, so
  it is left out of the attribution sum.
- Stage functions are lazy, so a layer's work often runs inside a later
  layer's job. The linking candidate join runs inside the ``triples`` reuse
  point's job, so ``triples`` includes that execution; ``links`` is written
  lazily, so writing it runs the join again under ``linking``, and writing
  ``documents`` runs document assembly under ``assemble``.
- Jobs the run's own thread launches outside every wrapper carry the run's
  root group ``<run>|-`` and are ``unattributed``. Threads the program
  starts (the ``_run_concurrently`` branches) inherit no job group, so a
  job one of them launches outside every wrapper has none: its tasks are
  ``missed`` and fail the attribution check, which is how a wrapper that
  misses a call site shows.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"

PIPELINE_LAYERS = (
    "assemble", "mentions", "relations", "coref", "linking", "triples", "graph", "reuse", "sink",
)
OPS_LAYERS = ("dedup", "similarity", "textstats")
LAYERS = PIPELINE_LAYERS + OPS_LAYERS
LAYER_METRICS = (
    ("wall_s", "s"), ("plan_s", "s"), ("task_s", "s"), ("jvm_cpu_s", "s"),
    ("rows_out", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("tasks", "count"),
)

# the public functions kgp.stages.pipeline calls, by the layer they belong to
STAGE_FUNCTIONS = {
    "assemble_documents": "assemble",
    "tag_turns": "mentions",
    "mentions_from_tagged": "mentions",
    "pair_turn_tokens": "mentions",
    "re_pairs": "relations",
    "classify_relations": "relations",
    "coref_pairs": "coref",
    "score_coref_pairs": "coref",
    "positive_edges": "coref",
    "cluster_unionfind": "coref",
    "build_alias_artifacts": "linking",
    "cluster_surfaces": "linking",
    "link_clusters": "linking",
    "assemble_triples": "triples",
    "materialize_graph": "graph",
}
# reuse point name -> the layer whose output it materializes
REUSE_PRODUCER = {"tagged": "mentions", "relations": "relations", "clusters": "coref", "triples": "triples"}


class Tracer:
    """Spans and job groups for traced runs. One instance per process."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.run_tag: str | None = None
        self.reuse_outputs: list = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, overlay: bool = False):
        """Record a span for ``layer``; jobs launched inside carry group
        ``<run>|<layer>`` (``<run>|<layer>|reuse`` inside a reuse call)."""
        stack = self._stack()
        parent = stack[-1]["id"] if stack else None
        prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
        group = f"{self.run_tag}|{layer}" + ("|reuse" if overlay else "")
        self.sc.setJobGroup(group, group)
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": layer, "overlay": overlay, "parent": parent,
                "thread": threading.get_ident(), "run": self.run_tag, "start": time.time(),
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev[0])
            self.sc.setLocalProperty(DESC_KEY, prev[1])

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def wrap_reuse(self, hook):
        """Wrap a ``(df, name) -> DataFrame`` reuse hook."""

        def reuse(df, name=None):
            stack = self._stack()
            layer = REUSE_PRODUCER.get(name) or (stack[-1]["name"] if stack else "reuse")
            with self.span(layer, overlay=layer != "reuse"):
                out = hook(df, name)
            with self._lock:
                self.reuse_outputs.append(out)
            return out

        return reuse

    @contextmanager
    def installed(self, pipeline_module):
        """Patch the stage functions and the default reuse hook in the
        pipeline module's namespace; restore them on exit."""
        saved = {}
        for fname, layer in STAGE_FUNCTIONS.items():
            if hasattr(pipeline_module, fname):
                saved[fname] = getattr(pipeline_module, fname)
                setattr(pipeline_module, fname, self.wrap(layer, saved[fname]))
        if hasattr(pipeline_module, "_default_reuse"):
            orig = saved["_default_reuse"] = pipeline_module._default_reuse
            pipeline_module._default_reuse = lambda *a, **k: self.wrap_reuse(orig(*a, **k))
        try:
            yield
        finally:
            for fname, fn in saved.items():
                setattr(pipeline_module, fname, fn)

    @contextmanager
    def run(self, tag: str):
        """Root of one traced run: jobs the main thread launches outside
        every wrapper carry ``<tag>|-`` and count as unattributed."""
        self.run_tag = tag
        self.reuse_outputs = []
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setJobGroup(f"{tag}|-", f"{tag}|-")
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.sc.setLocalProperty(DESC_KEY, None)
            self.run_tag = None


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------


def read_events(eventlog_dir: str) -> list[dict]:
    events = []
    for fname in sorted(os.listdir(eventlog_dir)):
        with open(os.path.join(eventlog_dir, fname)) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:  # a partly flushed last line
                    continue
    return events


def _union(intervals) -> list:
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _intersect(xs, ys) -> float:
    """Total overlap of two unions of intervals."""
    total, i, j = 0.0, 0, 0
    while i < len(xs) and j < len(ys):
        lo, hi = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if hi > lo:
            total += hi - lo
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def _parse_group(group: str | None):
    """-> (run, layer, overlay) or None for jobs outside any traced run."""
    if not group or "|" not in group:
        return None
    parts = group.split("|")
    layer = parts[1] if parts[1] in LAYERS else None
    return parts[0], layer, len(parts) > 2 and parts[2] == "reuse"


def fold(events: list[dict], runs: list[tuple], spans: list[dict]) -> list[dict]:
    """Per traced run ``(tag, start_s, end_s)``: per-layer metrics, the
    driver gap, and the attribution check. Times in seconds."""
    stage_group: dict = {}
    job_group: dict = {}
    job_time: dict = {}
    tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_group[key] = (ev.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerJobStart":
            job_group[ev["Job ID"]] = (ev.get("Properties") or {}).get(GROUP_KEY)
            job_time[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_time:
                job_time[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_ms": int(m.get("Executor Run Time", 0)),
                    "cpu_ns": int(m.get("Executor CPU Time", 0)),
                    "shuffle_b": int(sw.get("Shuffle Bytes Written", 0)),
                    "spill_b": int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0)),
                }
            )

    results = []
    for tag, t0, t1 in runs:
        zero = {"run_ms": 0, "cpu_ns": 0, "shuffle_b": 0, "spill_b": 0, "tasks": 0}
        per = {layer: dict(zero) for layer in LAYERS}
        unattributed_ms = window_ms = missed = 0
        busy = []
        for t in tasks:
            parsed = _parse_group(stage_group.get(t["stage"]))
            mine = parsed is not None and parsed[0] == tag
            in_window = t0 <= t["launch"] <= t1
            if in_window:
                window_ms += t["run_ms"]
                busy.append((max(t["launch"], t0), min(t["finish"], t1)))
            if mine != in_window:
                # in the run's window but launched under no group of this
                # run (or the reverse): a call site no wrapper covers
                missed += 1
            elif not mine:
                continue
            elif parsed[1]:
                _, layer, overlay = parsed
                for lay in (layer, "reuse") if overlay else (layer,):
                    acc = per[lay]
                    acc["run_ms"] += t["run_ms"]
                    acc["cpu_ns"] += t["cpu_ns"]
                    acc["shuffle_b"] += t["shuffle_b"]
                    acc["spill_b"] += t["spill_b"]
                    acc["tasks"] += 1
            else:
                unattributed_ms += t["run_ms"]

        job_iv: dict = {layer: [] for layer in LAYERS}
        for jid, group in job_group.items():
            parsed = _parse_group(group)
            start, end = job_time[jid]
            if parsed and parsed[0] == tag and parsed[1] and end is not None:
                job_iv[parsed[1]].append((start, end))
                if parsed[2]:
                    job_iv["reuse"].append((start, end))

        mine = [s for s in spans if s["run"] == tag and "end" in s]
        layers = {}
        for layer in LAYERS:
            iv = [
                (s["start"], s["end"]) for s in mine
                if s["name"] == layer or (layer == "reuse" and s["overlay"])
            ]
            span_u = _union(iv)
            wall = _length(span_u)
            acc = per[layer]
            layers[layer] = {
                "wall_s": wall,
                "plan_s": wall - _intersect(span_u, _union(job_iv[layer])),
                "task_s": acc["run_ms"] / 1000.0,
                "jvm_cpu_s": acc["cpu_ns"] / 1e9,
                "shuffle_mb": acc["shuffle_b"] / 1e6,
                "spill_mb": acc["spill_b"] / 1e6,
                "tasks": acc["tasks"],
            }
        results.append(
            {
                "run": tag,
                "layers": layers,
                "gap_s": (t1 - t0) - _length(_union(busy)),
                "unattributed_task_s": unattributed_ms / 1000.0,
                "event_log_task_s": window_ms / 1000.0,
                # per-layer task time plus unattributed equals the window's
                # total exactly when no task is missed; counted in tasks so
                # that a task with zero run time still counts
                "missed_tasks": missed,
                "attribution_ok": missed == 0,
            }
        )
    return results
