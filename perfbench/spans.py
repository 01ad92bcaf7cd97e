"""Span tracing around the engine's public functions, from outside the engine.

A traced run patches module attributes and ``SnapshotStore`` methods with
wrappers that open a span around each call.  A span records its name, start,
end, parent span and run id, and runs its Spark jobs under a job group of its
own, so after the run every span can be joined to the jobs it launched
(``statusTracker``) and to those jobs' stage metrics (executor CPU, shuffle
bytes, GC, tasks) from Spark's status store.  Spans are kept in memory and
written out when the run ends.  Untraced runs patch nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark import SparkContext


def _targets():
    """(owner, attribute, span name) per traced callable; a None name is
    derived per call (``tables.stage.<table>``)."""
    from crawlspark import tables
    from crawlspark.plans import crawler

    store = tables.SnapshotStore
    return [
        (crawler, "run_epoch", "plans.epoch.run_epoch"),
        (crawler, "maintain_store", "plans.crawler.maintain_store"),
        (crawler, "recrawl_pass", "operators.recrawl.recrawl_pass"),
        (store, "stage", None),
        (store, "stage_pandas", "tables.stage_pandas"),
        (store, "read", "tables.read"),
        (store, "commit", "tables.commit"),
        (store, "compact", "tables.compact"),
        (store, "compact_bucketed", "tables.compact_bucketed"),
        (store, "vacuum", "tables.vacuum"),
    ]


class Tracer:
    """In-memory span recorder.  ``span`` is a no-op when disabled."""

    def __init__(self, sc: SparkContext, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.loop_bytes = 0     # bytes staged in the measured loop
        self.loop_start = 0     # index of the measured loop's first span
        self.loop_end = None    # index after its last span, once it ended
        self.overhead_s = 0.0   # time the loop spent in the tracer's code
        self._looping = False

    # -- spans ----------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = {"id": sid, "name": name, "run": self.run_id,
                "parent": parent["id"] if parent else None,
                "group": f"{self.run_id}-{sid}"}
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span["start"] = time.perf_counter()
        self._overhead(span["start"] - t_in)
        try:
            yield span
        finally:
            t_out = time.perf_counter()
            span["end"] = t_out
            self._stack.pop()
            self._set_group(parent)
            self._overhead(time.perf_counter() - t_out)

    def _overhead(self, seconds: float) -> None:
        if self._looping:
            self.overhead_s += seconds

    def mark_loop(self) -> None:
        """The measured loop starts: later spans, staged bytes and tracer
        overhead are its."""
        self.loop_start = len(self.spans)
        self._looping = True

    def end_loop(self) -> None:
        """The measured loop ends: later spans belong to untimed passes."""
        self.loop_end = len(self.spans)
        self._looping = False

    # -- patching -------------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self

        def wrapper(*args, **kwargs):
            span_name = name
            if span_name is None:   # SnapshotStore.stage(self, df, table)
                table = args[2] if len(args) > 2 else kwargs["name"]
                span_name = f"tables.stage.{table}"
            with tracer.span(span_name) as span:
                out = fn(*args, **kwargs)
            if span_name.startswith("tables.stage"):
                tracer._count_bytes(args[0], out)
            elif span_name == "operators.recrawl.recrawl_pass":
                span["readmitted"] = int(out)
            return out

        return wrapper

    def _count_bytes(self, store, rels) -> None:
        if not self._looping:
            return
        t0 = time.perf_counter()
        for rel in rels or ():
            self.loop_bytes += os.path.getsize(os.path.join(store.root, rel))
        self.overhead_s += time.perf_counter() - t0

    def install(self) -> None:
        if not self.enabled:
            return
        for owner, attr, name in _targets():
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark metrics --------------------------------------------------------

    def attach_spark_metrics(self) -> None:
        """Give every span its own jobs/stages/tasks and stage metrics (the
        jobs launched under its job group, not its children's)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        stages = {}
        it = store.stageList(None, False, False,
                             gw.new_array(gw.jvm.double, 0), None).iterator()
        while it.hasNext():
            sd = it.next()
            m = stages.setdefault(int(sd.stageId()), [0, 0.0, 0, 0.0])
            m[0] += int(sd.numCompleteTasks())
            m[1] += int(sd.executorCpuTime()) / 1e9
            m[2] += int(sd.shuffleWriteBytes()) + int(sd.shuffleReadBytes())
            m[3] += int(sd.jvmGcTime()) / 1e3
        for span in self.spans:
            jobs = tracker.getJobIdsForGroup(span["group"])
            sids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    sids.update(info.stageIds)
            tot = [0, 0.0, 0, 0.0]
            for s in sids:
                for i, v in enumerate(stages.get(s, (0, 0.0, 0, 0.0))):
                    tot[i] += v
            span.update(jobs=len(jobs), tasks=tot[0], exec_cpu_s=tot[1],
                        shuffle_mb=tot[2] / 2 ** 20, gc_s=tot[3])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh, indent=0)


# -- aggregation ------------------------------------------------------------

def inclusive(spans: list[dict]) -> list[dict]:
    """Per span: wall plus job/CPU/shuffle/GC/tasks summed over its subtree."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = [dict(s, wall_s=s["end"] - s["start"]) for s in spans]

    def total(sid, key):
        return out[sid][key] + sum(total(k, key) for k in kids.get(sid, ()))

    for s in out:
        for key in ("jobs", "tasks", "exec_cpu_s", "shuffle_mb", "gc_s"):
            s[f"incl_{key}"] = total(s["id"], key)
    return out
