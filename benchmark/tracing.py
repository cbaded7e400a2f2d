"""Span tracing from outside the program, plus Spark event-log attribution.

A span is recorded around each call the benchmark makes into a
``recover_spark`` module.  While a span is open its Spark jobs run under
the job group ``span-<id>``; after the session stops, the event log is
read back and each job's task metrics are added to the span that owns it.
Jobs submitted from threads that do not inherit the job group (streaming
micro-batches) fall back to the innermost span whose interval contains
the job's submission time.

With tracing off every method is a no-op apart from running the wrapped
call, so end-to-end runs measure the program as shipped.  The one
exception is ``jobs_counted``, which only tags the body's Spark jobs with
a job group so that untraced operations can report how many jobs the
program ran.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

LAYERS = ("session", "schemas", "sources", "functions", "operators",
          "plans", "quality", "streaming", "sql", "ops")
LAYER_TOTALS = ("self_s", "task_busy_s", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pinned = []
        self.job_counts: dict[str, list[int]] = {}

    @contextmanager
    def span(self, name: str):
        """Record ``name`` (``<layer>.<call>``) around the body.  Yields a
        dict the body may fill with counts."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
               "group": f"span-{len(self.spans)}", "start": time.time(), "end": None,
               "counts": counts}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        try:
            yield counts
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """In a traced run, compute ``df`` inside the current span so the
        layer that built it is charged for its work; returns (df, rows).
        Untraced runs get ``(df, None)`` and stay lazy.

        The count runs under the job group ``<span group>-m``: its task
        metrics go to the span, but it is not one of the span's ``jobs``,
        since the program itself never runs it.  Later jobs read the
        persisted result instead of recomputing it, so traced per-layer
        times charge each layer's work once."""
        if not self.enabled:
            return df, None
        df = self.pin(df)
        span = self._stack[-1] if self._stack else None
        if span is None or self.spark is None:
            return df, df.count()
        sc = self.spark.sparkContext
        sc.setJobGroup(span["group"] + "-m", span["name"])
        try:
            return df, df.count()
        finally:
            sc.setJobGroup(span["group"], span["name"])

    def pin(self, df):
        """Persist ``df`` until the next ``release``, traced or not."""
        df = df.persist()
        self._pinned.append(df)
        return df

    @contextmanager
    def jobs_counted(self, name: str):
        """In an untraced run, run the body under a job group of its own
        and append the number of Spark jobs it ran to
        ``job_counts[name]``.  A no-op in a traced run."""
        if self.enabled or self.spark is None:
            yield
            return
        sc = self.spark.sparkContext
        group = f"count-{name}-{sum(map(len, self.job_counts.values()))}"
        sc.setJobGroup(group, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.job_counts.setdefault(name, []).append(len(sc.statusTracker().getJobIdsForGroup(group)))

    def release(self) -> None:
        """Unpersist everything pinned since the last release."""
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()

    @contextmanager
    def patched(self, targets):
        """Wrap module attributes for the traced run.  ``targets`` is a
        list of ``(module, attr, span_name, after)``; ``after(result,
        counts, args, kwargs)`` runs inside the span and may materialize
        the result."""
        if not self.enabled:
            yield
            return
        saved = []
        for module, attr, name, after in targets:
            orig = getattr(module, attr)
            saved.append((module, attr, orig))

            def wrapper(*a, _orig=orig, _name=name, _after=after, **kw):
                with self.span(_name) as counts:
                    out = _orig(*a, **kw)
                    if _after is not None:
                        out = _after(out, counts, a, kw)
                    return out

            setattr(module, attr, wrapper)
        try:
            yield
        finally:
            for module, attr, orig in saved:
                setattr(module, attr, orig)

    # ------------------------------------------------------------------
    # after the session stops
    # ------------------------------------------------------------------

    def attribute_event_log(self, log_dir: str) -> None:
        """Add task metrics from the Spark event log to the owning spans."""
        by_group = {s["group"]: s for s in self.spans}
        stage_span: dict[int, dict] = {}
        for path in glob.glob(os.path.join(log_dir, "*")):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        added = group.endswith("-m")
                        span = (by_group.get(group[:-2] if added else group)
                                or self._span_at(ev["Submission Time"] / 1000.0))
                        if span is None:
                            continue
                        if not added:
                            span["counts"]["jobs"] = span["counts"].get("jobs", 0) + 1
                        for sid in ev.get("Stage IDs", []):
                            stage_span.setdefault(sid, span)
                    elif kind == "SparkListenerTaskEnd":
                        span = stage_span.get(ev.get("Stage ID"))
                        tm = ev.get("Task Metrics")
                        if span is None or not tm:
                            continue
                        c = span["counts"]
                        c["task_busy_s"] = c.get("task_busy_s", 0.0) + tm.get("Executor Run Time", 0) / 1000.0
                        sw = tm.get("Shuffle Write Metrics") or {}
                        c["shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0) + sw.get("Shuffle Bytes Written", 0)
                        c["spill_bytes"] = (c.get("spill_bytes", 0) + tm.get("Memory Bytes Spilled", 0)
                                            + tm.get("Disk Bytes Spilled", 0))

    def _span_at(self, t: float):
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_totals(self, spans: list[dict]) -> dict[str, float]:
        """``<layer>.self_s``, ``.task_busy_s``, ``.shuffle_write_bytes`` and
        ``.spill_bytes`` summed over each layer's spans among ``spans``."""
        totals = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in LAYER_TOTALS}
        selfs = self.self_times()
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            if layer not in LAYERS:
                continue
            totals[f"{layer}.self_s"] += selfs[s["id"]]
            for m in LAYER_TOTALS[1:]:
                totals[f"{layer}.{m}"] += s["counts"].get(m, 0)
        return totals

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counts(self, name: str, key: str) -> list:
        return [s["counts"][key] for s in self.spans if s["name"] == name and key in s["counts"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
