"""In-memory spans for the traced benchmark run.

A span records name, start, end, parent span and run id.  Spans are
kept in memory and written as JSON lines when the run ends.  Each
thread has its own span stack, so a span opened on a Spark callback
thread (a ``foreachBatch`` call) never takes a span of the main thread
as its parent; such spans name their parent explicitly.  Spark jobs
are attributed afterwards to the innermost span whose window holds the
job's submission time.  With tracing off, :class:`Tracer` records
nothing and ``span`` costs one attribute check.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


def union_s(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, lo_cur, hi_cur = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi_cur is None or lo > hi_cur:
            if hi_cur is not None:
                total += hi_cur - lo_cur
            lo_cur, hi_cur = lo, hi
        else:
            hi_cur = max(hi_cur, hi)
    if hi_cur is not None:
        total += hi_cur - lo_cur
    return total


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.self_cost_s = 0.0  # bookkeeping time spent inside span()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """A span under ``parent`` if given, else under this thread's
        innermost open span."""
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        stack = self._stack()
        rec = {
            "run": self.run_id,
            "id": None,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self.self_cost_s += time.perf_counter() - c0
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            c1 = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.self_cost_s += time.perf_counter() - c1

    def attribute_jobs(self, jobs: list[dict]) -> None:
        """Attach each Spark job to the innermost closed span whose
        window contains its submission time."""
        closed = [s for s in self.spans if s["end"] is not None]
        for job in jobs:
            best = None
            for s in closed:
                if s["start"] <= job["submitted"] <= s["end"] and (
                    best is None or s["start"] >= best["start"]
                ):
                    best = s
            if best is not None:
                best.setdefault("jobs", []).append(job)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = [
            (max(s["start"], rec["start"]), min(s["end"], rec["end"]))
            for s in self.spans
            if s["parent"] == rec["id"] and s["end"]
        ]
        return (rec["end"] - rec["start"]) - union_s(kids)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                out = dict(s)
                if s["end"] is not None:
                    out["self_s"] = self.self_time(s)
                fh.write(json.dumps(out) + "\n")


def layer_counters(tracer: Tracer, layer: str, cores: int) -> dict[str, float]:
    """Spark counters of every job attributed to a span of ``layer``
    (span names are ``<layer>.<what>``), plus core busy ratio: executor
    run time over the layer's wall time (the union of its spans'
    intervals) times the core count."""
    mine = [s for s in tracer.spans if s["name"].split(".", 1)[0] == layer and s["end"]]
    wall = union_s((s["start"], s["end"]) for s in mine)
    c = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"),
        0.0,
    )
    for s in mine:
        for job in s.get("jobs", ()):
            c["jobs"] += 1
            for st in job["stages"]:
                c["stages"] += 1
                c["tasks"] += st["tasks"]
                c["executor_run_s"] += st["run_ms"] / 1000.0
                c["executor_cpu_s"] += st["cpu_ns"] / 1e9
                c["gc_s"] += st["gc_ms"] / 1000.0
                c["shuffle_bytes"] += st["shuffle_bytes"]
                c["spill_bytes"] += st["spill_bytes"]
    c["core_busy_ratio"] = c["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return {f"{layer}.{k}": v for k, v in c.items()}
