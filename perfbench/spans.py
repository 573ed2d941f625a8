"""Spans around the engine's layer entry points, plus Spark's own job
and stage records.

Tracing is installed only for a traced run: ``Tracer.install`` swaps
each named function or method for a wrapper that records a span
(name, start, end, parent, op id) and restores the originals on
``uninstall``. The untraced run never wraps anything, so its timings
carry no tracing cost. Spans stay in memory until the run ends.

Spark's records come from the driver's in-memory status store (the
data behind the web UI, kept with the UI disabled too), read once after
the timed loop and attributed to op spans by time window — the client
loop is single-threaded, so a job that starts inside an op's window
belongs to that op.
"""

from __future__ import annotations

import bisect
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans
    def begin(self, name: str, op: int | None = None) -> int:
        if op is not None:
            self._op = op
        sid = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self._op,
        })
        self._stack.append(sid)
        self.calls[name] += 1
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (classmethod, staticmethod)) else orig

        @functools.wraps(fn)
        def traced(*a, **kw):
            sid = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(sid)

        new = type(orig)(traced) if isinstance(orig, (classmethod, staticmethod)) else traced
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def install(self, points: list[tuple[object, str, str]]) -> None:
        for owner, attr, name in points:
            self.wrap(owner, attr, name)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- analysis
    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Inclusive seconds per span name (nested same-name spans are
        counted once, at the outermost)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            p, nested = s["parent"], False
            while p is not None:
                if self.spans[p]["name"] == s["name"]:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": self.calls}, f)


def spark_records(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the status store holds, as plain dicts
    (one JSON round trip per list)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False,
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )))
    by_stage: dict[int, dict] = {}
    for s in stages:  # keep the latest attempt
        if s["stageId"] not in by_stage or s["attemptId"] > by_stage[s["stageId"]]["attemptId"]:
            by_stage[s["stageId"]] = s
    return jobs, by_stage


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_jobs(ops: list[dict], jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Per-op Spark work. ``ops``: [{"start", "end"} epoch seconds].
    Returns sums over the ops plus each op's executor-busy ms."""
    ops = sorted(ops, key=lambda o: o["start"])
    starts = [o["start"] * 1000 for o in ops]
    per_op = [{"jobs": 0, "intervals": []} for _ in ops]
    tot = defaultdict(float)
    for j in jobs:
        sub = j.get("submissionTime")
        if sub is None:
            continue
        k = bisect.bisect_right(starts, sub) - 1
        if k < 0 or sub > ops[k]["end"] * 1000:
            continue  # outside every op: set-up or verification work
        done = j.get("completionTime") or ops[k]["end"] * 1000
        per_op[k]["jobs"] += 1
        per_op[k]["intervals"].append((sub, min(done, ops[k]["end"] * 1000)))
        tot["jobs"] += 1
        tot["tasks"] += j.get("numTasks", 0) - j.get("numSkippedTasks", 0)
        tot["task_failures"] += j.get("numFailedTasks", 0)
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if s is None or s.get("status") == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["input_bytes"] += s.get("inputBytes", 0)
            tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
    busy = [_union_ms(p["intervals"]) for p in per_op]
    wall = sum((o["end"] - o["start"]) * 1000 for o in ops)
    tot["executor_busy_ms"] = sum(busy)
    tot["wall_ms"] = wall
    tot["driver_gap_share"] = 1 - sum(busy) / wall if wall else 0.0
    return {"totals": dict(tot), "busy_ms": busy, "jobs_per_op": [p["jobs"] for p in per_op]}
