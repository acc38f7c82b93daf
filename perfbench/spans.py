"""In-memory span tracing for the benchmark's traced runs.

A span wraps one call into an engine layer. Each span gets its own
Spark job group, so after the span closes ``statusTracker()`` gives the
jobs, stages and tasks that ran inside it (child spans run under their
own groups, so a parent's counts are its own). Spans stay in memory and
are printed when the run ends.

Spark is lazy: a stage span materializes its output through the
``noop`` sink, which re-executes everything before it. Such a span names
its ``prefix`` spans, and its self time is its duration minus theirs.
A span marked ``extra`` wraps work that only a traced run does (those
materializations); the tracing overhead is the time of the extra spans
plus the tracer's own bookkeeping.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op,
    so the untraced path runs the same workload code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = 0  # the timed operation the next spans belong to
        self.bookkeeping_s = 0.0  # time spent in the tracer itself
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, prefix: tuple[str, ...] = (), extra: bool = False):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "prefix": list(prefix),
            "extra": extra,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if prev[0] is None:
                self.sc.setLocalProperty(GROUP_KEY, None)
                self.sc.setLocalProperty(DESC_KEY, None)
            else:
                self.sc.setJobGroup(prev[0], prev[1] or "")
            rec.update(self._spark_counts(group))
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _spark_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- reduction ----------------------------------------------------

    def self_times(self) -> list[dict]:
        """Each span with ``dur_s`` and ``self_s``: its duration minus
        its children's and minus its named prefix spans' (the latest
        earlier span of that name in the same operation)."""
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            minus = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"]
            )
            for p in s["prefix"]:
                prior = [
                    c for c in self.spans
                    if c["name"] == p and c["op"] == s["op"] and c["id"] < s["id"]
                ]
                if prior:
                    minus += prior[-1]["end"] - prior[-1]["start"]
            out.append({**s, "dur_s": dur, "self_s": max(0.0, dur - minus)})
        return out

    def per_op(self, name: str, field: str = "self_s") -> float:
        """Median over traced operations of the summed ``field`` of the
        spans called ``name`` in each operation (0 when none ran).
        Set-up runs under negative operation numbers and counts only
        for a span that never ran in the timed window."""
        sums: dict[int, float] = {}
        for s in self.self_times():
            if s["name"] == name:
                sums[s["op"]] = sums.get(s["op"], 0.0) + s[field]
        timed = [v for op, v in sums.items() if op >= 0]
        vals = timed or list(sums.values())
        return statistics.median(vals) if vals else 0.0

    def overhead_s(self) -> float:
        """Work a traced run adds: its extra spans (outermost only) plus
        the tracer's bookkeeping."""
        by_id = {s["id"]: s for s in self.spans}

        def inside_extra(s) -> bool:
            p = s["parent"]
            while p is not None:
                if by_id[p]["extra"]:
                    return True
                p = by_id[p]["parent"]
            return False

        extra = sum(
            s["end"] - s["start"] for s in self.spans if s["extra"] and not inside_extra(s)
        )
        return extra + self.bookkeeping_s

    def totals(self) -> dict:
        return {
            k: sum(s.get(k, 0) for s in self.spans)
            for k in ("jobs", "stages", "tasks", "failed_tasks")
        }
