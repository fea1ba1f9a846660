"""Tracing for the per-layer run: spans around the benchmark's calls into
the engine's public functions, Spark job/stage/task counts read from
``sc.statusTracker()``, and streaming progress folded per trigger.

Nothing inside ``vstream_spark`` is instrumented. :meth:`Tracer.wrap`
replaces a public method on one object (or class) with a timing wrapper
for the length of a run; :meth:`Tracer.unwrap_all` restores it. Spans are
kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.stats import median


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self.batch: int | None = None
        # spans record only while active; a traced run alternates rounds
        # with tracing on and off to measure the tracing overhead
        self.active = enabled
        # Spark job groups of the timed phase: the run ids of its streams
        self.groups: list[str] = []

    def round(self, index: int) -> None:
        """Enter timed round ``index``: even rounds are traced, odd rounds
        are not, so both kinds run under the same conditions."""
        self.batch = index
        self.active = self.enabled and index % 2 == 0

    # -- Spark job accounting ------------------------------------------------

    def _group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def _job_ids(self, group: str | None) -> set[int]:
        if group is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_counts(self, job_ids) -> dict:
        """Jobs, stages, tasks and failed tasks of the given jobs."""
        st = self.sc.statusTracker()
        stages = tasks = failed = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks, "tasks_failed": failed}

    def group_counts(self, group: str) -> dict:
        return self.job_counts(self._job_ids(group))

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Record a span (name, start, end, parent, batch) and the Spark jobs
        the current thread's job group ran inside it."""
        if not self.active:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        group = self._group()
        before = self._job_ids(group)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "parent": stack[-1]["name"] if stack else None,
            "batch": self.batch,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            jobs = self._job_ids(group) - before
            rec.update(self.job_counts(jobs))
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``. ``after(rec,
        self_or_none, args, result)`` may add fields to the span."""
        original = getattr(owner, attr)
        tracer = self
        is_class = isinstance(owner, type)

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if rec is not None and after is not None:
                    after(rec, args[0] if is_class else None, args, result)
                return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- summaries -----------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def ms_p50(self, name: str) -> float:
        xs = [1000.0 * (s["end"] - s["start"]) for s in self.named(name)]
        return median(xs) if xs else 0.0

    def mean_field(self, name: str, field: str) -> float:
        xs = [s[field] for s in self.named(name) if field in s]
        return sum(xs) / len(xs) if xs else 0.0

    def common_layers(self, notes: dict) -> dict:
        """Layer metrics every workload reports: Spark scheduler counts per
        timed operation, folded trigger progress, and the tracing overhead
        (median op time in traced rounds minus untraced rounds)."""
        counts = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        for g in self.groups:
            for k, v in self.group_counts(g).items():
                counts[k] += v
        ops = max(1, notes.get("ops", 1))
        out = {f"spark.{k}": v / ops for k, v in counts.items()}
        out.update(fold_progress(notes.get("trace_progress", [])))
        on, off = notes.get("traced_ms", []), notes.get("untraced_ms", [])
        out["trace.overhead_ms"] = median(on) - median(off) if on and off else 0.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def trigger_progress(query) -> list[dict]:
    """The stream's per-trigger progress records that processed rows."""
    out = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


TRIGGER_KEYS = ("triggerExecution", "addBatch", "walCommit", "commitOffsets",
                "queryPlanning", "latestOffset")


def fold_progress(progress: list[dict]) -> dict:
    """Per-trigger streaming progress (``StreamingQuery.recentProgress`` as
    dicts) folded into medians; only triggers that processed rows count."""
    rows = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {"trigger.count": float(len(rows))}
    dur = defaultdict(list)
    for p in rows:
        d = p.get("durationMs", {})
        for k in TRIGGER_KEYS:
            dur[k].append(float(d.get(k, 0)))
        dur["driver"].append(float(d.get("triggerExecution", 0)) - float(d.get("addBatch", 0)))
    names = {"triggerExecution": "execution"}
    for k in (*TRIGGER_KEYS, "driver"):
        out[f"trigger.{names.get(k, k)}_ms.p50"] = median(dur[k]) if dur[k] else 0.0
    state = [op for p in rows for op in p.get("stateOperators", [])]
    last = rows[-1].get("stateOperators", []) if rows else []
    out["state.rows_total"] = float(sum(op.get("numRowsTotal", 0) for op in last))
    out["state.memory_bytes"] = float(sum(op.get("memoryUsedBytes", 0) for op in last))
    commit = [float(op.get("commitTimeMs", 0)) for op in state]
    updates = [float(op.get("allUpdatesTimeMs", 0)) for op in state]
    out["state.commit_ms.p50"] = median(commit) if commit else 0.0
    out["state.updates_ms.p50"] = median(updates) if updates else 0.0
    return out
