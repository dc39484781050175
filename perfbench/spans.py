"""In-memory span tracer for the traced benchmark run.

A span is one call into a layer: name, start, end and parent span, all
spans of one process sharing a run id. Each span runs its Spark jobs under
its own job group, so after the operation the tracer reads what those jobs
did from the in-process status store (which works with the UI disabled):
task time, shuffle bytes, spill bytes, skipped stages and the
max/median task time of the largest stage.

Spans are recorded from the benchmark's own files: ``Tracer.span`` around a
block of benchmark code, and ``Tracer.wrap`` around a module attribute of
the program, so calls the program makes internally are seen too. Lazy
DataFrame-returning functions do their work in whatever action consumes
the frame; that work lands in the span enclosing the action.

When the tracer is inactive, ``span`` is a no-op and wrapped functions
call straight through.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
import uuid
from contextlib import contextmanager

MIB = 1024 * 1024


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._unresolved: list[dict] = []

    # -- recording ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {"run_id": self.run_id, "id": len(self.spans),
             "parent": parent["id"] if parent else None, "name": name,
             "start": time.perf_counter(), "end": None}
        s["group"] = f"{self.run_id}-{s['id']}"
        self.spans.append(s)
        self._unresolved.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name=None) -> None:
        """Replace ``module.attr`` with a function that records a span per
        call. ``name`` is the span name, or a function of the call's
        arguments that returns it."""
        fn = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            n = label(*args, **kwargs) if callable(label) else label
            with self.span(n):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    # -- Spark metrics -------------------------------------------------------

    def resolve(self) -> None:
        """Attach Spark job/stage metrics to every span closed since the
        last call. Waits for the listener bus so the status store holds
        every finished job."""
        if not self._unresolved:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for s in self._unresolved:
            jobs = sorted(tracker.getJobIdsForGroup(s["group"]))
            stages, skipped = [], 0
            for j in jobs:
                ids = store.job(j).stageIds()
                for i in range(ids.size()):
                    sd = store.lastStageAttempt(ids.apply(i))
                    status = sd.status().toString()
                    if status == "SKIPPED":
                        skipped += 1
                        continue
                    if status not in ("COMPLETE", "FAILED"):
                        continue
                    st = {"task_ms": sd.executorRunTime(),
                          "shuffle_bytes": sd.shuffleReadBytes()
                          + sd.shuffleWriteBytes(),
                          "spill_bytes": sd.diskBytesSpilled(),
                          "skew": 1.0}
                    summ = store.taskSummary(sd.stageId(), sd.attemptId(),
                                             quantiles)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        st["skew"] = rt.apply(1) / max(rt.apply(0), 1.0)
                    stages.append(st)
            s["jobs"] = jobs
            s["stages_run"] = len(stages)
            s["stages_skipped"] = skipped
            s["task_ms"] = sum(x["task_ms"] for x in stages)
            s["shuffle_bytes"] = sum(x["shuffle_bytes"] for x in stages)
            s["spill_bytes"] = sum(x["spill_bytes"] for x in stages)
            biggest = max(stages, key=lambda x: x["task_ms"], default=None)
            s["biggest_stage"] = biggest
        self._unresolved = []

    # -- reports -------------------------------------------------------------

    def tree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def inclusive(self, span: dict) -> dict:
        """The span's own figures plus those of every span below it."""
        sub = self.tree(span)
        child_wall = sum(c["end"] - c["start"] for c in self.spans
                         if c["parent"] == span["id"])
        wall = span["end"] - span["start"]
        stages = [x["biggest_stage"] for x in sub if x.get("biggest_stage")]
        biggest = max(stages, key=lambda x: x["task_ms"], default=None)
        return {
            "wall_s": wall,
            # children run one at a time on this thread, so the part of
            # the interval they cover is the sum of their durations
            "self_s": wall - child_wall,
            "jobs": sum(len(x["jobs"]) for x in sub),
            "task_s": sum(x["task_ms"] for x in sub) / 1000.0,
            "shuffle_mb": sum(x["shuffle_bytes"] for x in sub) / MIB,
            "spill_mb": sum(x["spill_bytes"] for x in sub) / MIB,
            "skew": biggest["skew"] if biggest else 1.0,
            "stages_run": sum(x["stages_run"] for x in sub),
            "stages_skipped": sum(x["stages_skipped"] for x in sub),
        }

    def per_op(self, op_roots: list[dict], names: list[str]) -> dict:
        """For each span name: the per-operation total of each figure
        (``skew``: the largest), as the median over the traced operations.
        A name with no span in an operation counts as 0 there."""
        fields = ("wall_s", "self_s", "jobs", "task_s", "shuffle_mb",
                  "spill_mb", "skew")
        per_name = {n: {f: [] for f in fields} for n in names}
        for roots in op_roots:
            sums = {n: dict.fromkeys(fields, 0.0) for n in names}
            for root in roots:
                for s in self.tree(root):
                    if s["name"] not in sums:
                        continue
                    fig = self.inclusive(s)
                    acc = sums[s["name"]]
                    for f in fields:
                        acc[f] = (max(acc[f], fig[f]) if f == "skew"
                                  else acc[f] + fig[f])
            for n in names:
                for f in fields:
                    per_name[n][f].append(sums[n][f])
        return {f"{n}.{f}": statistics.median(v) if v else 0.0
                for n, figs in per_name.items() for f, v in figs.items()}

    def dump(self, path: str) -> None:
        """Write every span once, one JSON object per line."""
        with open(path, "w") as f:
            for s in self.spans:
                row = {k: v for k, v in s.items() if k != "group"}
                f.write(json.dumps(row) + "\n")
