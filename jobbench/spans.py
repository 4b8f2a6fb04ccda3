"""Spans around the benchmark's calls into each layer, Spark's event
log folded per span, and the per-layer metrics built from both.

Spans are recorded only in a traced run (``--trace 1``); in an
untraced run ``span`` still times nothing and sets no job group, so
the timed code is the same apart from the job-group property.

A span is ``{id, name, start, end, parent, op}`` with wall-clock
seconds.  Each op opens a root span named ``op``; the layer spans the
workload opens directly under it are the *top-level* spans.  A
top-level span sets the Spark job group ``jobbench:<span id>`` for the
jobs its thread submits; jobs submitted from other threads (the
backfill block-walk pool, the streaming query thread) carry no such
group and are given to the top-level span whose interval holds their
submission time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "jobbench:"
MB = 1e6

#: Spark figures folded per top-level span, from each completed
#: stage's accumulables: (metric suffix, accumulable, scale, fold).
SPARK_METRICS = (
    ("jobs", None, 1.0, "count"),
    ("tasks", None, 1.0, "tasks"),
    ("executor_run_s", "internal.metrics.executorRunTime", 1e-3, "sum"),
    ("gc_s", "internal.metrics.jvmGCTime", 1e-3, "sum"),
    ("shuffle_write_mb", "internal.metrics.shuffle.write.bytesWritten",
     1 / MB, "sum"),
    ("spill_mb", "internal.metrics.diskBytesSpilled", 1 / MB, "sum"),
    ("peak_exec_mem_mb", "internal.metrics.peakExecutionMemory",
     1 / MB, "max"),
    ("output_mb", "internal.metrics.output.bytesWritten", 1 / MB, "sum"),
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.values: dict[str, list[tuple[int | None, float]]] = (
            defaultdict(list)
        )
        self.timed_ops: set[int] = set()
        self._stack: list[dict] = []
        self._op: int | None = None
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """A span under the innermost open span; ``op`` names the op a
        span outside any op span belongs to (the cleanup after it)."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": self._op if op is None else op,
        }
        top = parent is not None and parent["name"] == "op"
        if self.enabled:
            self.spans.append(rec)
            if top and self._sc is not None:
                self._sc.setJobGroup(f"{_GROUP}{rec['id']}", name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if self.enabled and top and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def op(self, k: int, timed: bool):
        self._op = k
        if timed:
            self.timed_ops.add(k)
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self._op = None

    def layer_values(self, prefix: str, values: dict[str, float],
                     op: int | None = None) -> None:
        """Per-op figures a layer reports itself (its split dicts);
        ``op`` defaults to the op in progress."""
        if self.enabled:
            op = self._op if op is None else op
            for key, v in values.items():
                self.values[f"{prefix}.{key}"].append((op, float(v)))

    # ---- folding -------------------------------------------------------

    def nesting_ok(self) -> bool:
        """Every child span lies inside its parent's interval."""
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            p = by_id.get(s["parent"])
            if p is not None and not (
                p["start"] <= s["start"] <= s["end"] <= p["end"]
            ):
                return False
        return True

    def _top_level(self) -> list[dict]:
        by_id = {s["id"]: s for s in self.spans}
        return [
            s for s in self.spans
            if s["parent"] is not None and by_id[s["parent"]]["name"] == "op"
        ]

    def fold_event_log(self, log_dir: str) -> dict[tuple[str, int], dict]:
        """Per (top-level span name, op id): the SPARK_METRICS."""
        tops = self._top_level()
        by_id = {s["id"]: s for s in tops}
        job_span: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stages: dict[int, dict] = {}
        for path in _log_files(log_dir):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        span = _job_span(ev, by_id, tops)
                        if span is not None:
                            job_span[ev["Job ID"]] = span
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, ev["Job ID"])
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        acc = {
                            a["Name"]: float(a["Value"])
                            for a in info.get("Accumulables", [])
                            if _is_number(a.get("Value"))
                        }
                        acc["_tasks"] = float(info.get("Number of Tasks", 0))
                        stages[info["Stage ID"]] = acc
        out: dict[tuple[str, int], dict] = defaultdict(
            lambda: {m[0]: 0.0 for m in SPARK_METRICS}
        )
        for span in job_span.values():
            out[(span["name"], span["op"])]["jobs"] += 1
        for sid, acc in stages.items():
            span = job_span.get(stage_job.get(sid, -1))
            if span is None:
                continue
            rec = out[(span["name"], span["op"])]
            for name, key, scale, fold in SPARK_METRICS:
                if fold == "tasks":
                    rec[name] += acc["_tasks"]
                elif fold == "sum":
                    rec[name] += acc.get(key, 0.0) * scale
                elif fold == "max":
                    rec[name] = max(rec[name], acc.get(key, 0.0) * scale)
        return out

    def per_layer(self, spark_fold: dict, extra: dict[str, float]) -> dict:
        """Medians over the timed ops of every per-layer figure."""
        per_op: dict[str, dict[int, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        for s in self._top_level():
            per_op[f"{s['name']}_s"][s["op"]] += s["end"] - s["start"]
        for s in self.spans:
            if s["name"] == "tmpdirs.gc_now" and s["op"] is not None:
                per_op["tmpdirs.gc_now_s"][s["op"]] += s["end"] - s["start"]
        for key, pairs in self.values.items():
            for op, v in pairs:
                if op is not None:
                    per_op[key][op] += v
        for (name, op), rec in spark_fold.items():
            for metric, v in rec.items():
                per_op[f"{name}.{metric}"][op] += v
        out = {}
        for key, ops in per_op.items():
            vals = [v for op, v in ops.items() if op in self.timed_ops]
            if vals:
                out[key] = statistics.median(vals)
        out.update(extra)
        return out


def _log_files(log_dir: str) -> list[str]:
    found = []
    for root, _dirs, files in os.walk(log_dir):
        found += [os.path.join(root, f) for f in files if not f.startswith(".")]
    return sorted(found)


def _is_number(v) -> bool:
    try:
        float(v)
    except (TypeError, ValueError):
        return False
    return True


def _job_span(ev: dict, by_id: dict, tops: list[dict]) -> dict | None:
    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
    if group.startswith(_GROUP):
        return by_id.get(int(group[len(_GROUP):]))
    t = ev.get("Submission Time", 0) / 1000.0
    for s in tops:
        if s["start"] <= t <= s["end"]:
            return s
    return None
