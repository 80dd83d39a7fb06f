"""Spans around the benchmark's calls into each layer, with Spark counts.

A span records name, layer, start, end, parent and request id. While a span
is the innermost open one, its id is the Spark job group of the calling
thread, so `statusTracker` attributes to it the jobs run in that time (its
own jobs; a child's jobs are the child's); job, stage and task counts are
read when the span closes. Spans stay in
memory and are written once, when the run ends.

Spans are taken from outside the program: the benchmark wraps the public
functions it calls (build_index, search_terms, upsert_docs, ...). A layer's
self time is its spans' duration minus the part covered by child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """enabled=False makes span() a no-op, for the untraced timed runs."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request: str | None = None
        # time spent opening and closing spans (job groups, status queries)
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, f"{layer}.{name}")
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield rec
        finally:
            rec["end"] = b1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._spark_counts(group))
            self.bookkeeping_s += time.perf_counter() - b1

    def _spark_counts(self, group: str) -> dict:
        """Jobs, stages and tasks run under one job group. The status store
        is fed asynchronously; drain the listener bus first so counts of
        just-finished jobs are complete."""
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # private API; counts may then lag slightly
            time.sleep(0.05)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                ran = st.numCompletedTasks + st.numFailedTasks
                if ran:
                    stages += 1
                    tasks += ran
                    failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- aggregation -----------------------------------------------------

    def children(self) -> dict:
        """{span id: [child spans]}"""
        kids: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self, spans: list[dict] | None = None) -> dict:
        """{layer: {"calls", "total_s", "self_s", "jobs"}} over `spans`
        (default: all). Jobs are those run while the layer's span was the
        innermost one (its own jobs)."""
        kids = self.children()
        out: dict = {}
        for s in self.spans if spans is None else spans:
            dur = s["end"] - s["start"]
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], ()))
            row = out.setdefault(
                s["layer"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0}
            )
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - covered
            row["jobs"] += s["jobs"]
        return out

    def failed_tasks(self) -> int:
        """Failed task attempts (retries) over the whole traced run."""
        return sum(s["failed_tasks"] for s in self.spans)

    def write(self, path: str, extra: dict) -> None:
        """Span file: every span, times relative to the first span."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)

    def table(self, spans: list[dict] | None = None) -> str:
        rows = sorted(self.self_times(spans).items(), key=lambda kv: -kv[1]["self_s"])
        lines = [f"{'layer':<22}{'calls':>7}{'total_s':>10}{'self_s':>10}{'jobs':>7}"]
        for layer, r in rows:
            lines.append(
                f"{layer:<22}{r['calls']:>7}{r['total_s']:>10.3f}{r['self_s']:>10.3f}{r['jobs']:>7}"
            )
        return "\n".join(lines)
