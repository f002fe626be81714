"""Spans around calls into the engine's layers, kept in memory.

A span records name, path, parent, start and end. While a span is open
its job group (path plus a sequence number) is the Spark job group of
the calling thread, so every job the layer call starts is tagged with
it. After the traced passes, ``attach_stages`` reads those jobs' stages
from the driver's status store (populated with the UI off) and attaches
executor run, CPU and GC time, shuffle and spill bytes and the task
count. With tracing off, ``span`` records nothing."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = ("run_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "tasks")


class Tracer:
    def __init__(self, spark, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        path = f"{parent['path']}/{name}" if parent else name
        rec = {"name": name, "path": path, "parent": parent["path"] if parent else None,
               "job_group": f"{path}#{len(self.spans) + len(self._stack)}"}
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["job_group"], path, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["job_group"], parent["path"], False)
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def attach_stages(self) -> None:
        """Read every span's stage figures from the status store. Done once
        after the traced passes, so the reads cost no pass time."""
        for rec in self.spans:
            rec.update(stage_stats(self.spark.sparkContext, rec["job_group"]))

    def self_time(self, rec: dict) -> float:
        """Span wall minus the part its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == rec["path"] and s["start"] >= rec["start"]
                and s["end"] <= rec["end"]]
        return rec["wall_s"] - sum(k["wall_s"] for k in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def stage_stats(sc, group: str) -> dict:
    """Sum the completed stages of every job tagged ``group``."""
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = 0
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            seq = store.stageData(stage_id, False, no_status, False, no_quantiles)
            it = seq.iterator()
            while it.hasNext():
                d = it.next()
                if str(d.status()) == "SKIPPED":
                    continue
                out["run_s"] += d.executorRunTime() / 1e3
                out["cpu_s"] += d.executorCpuTime() / 1e9
                out["gc_s"] += d.jvmGcTime() / 1e3
                out["shuffle_mb"] += (d.shuffleReadBytes() + d.shuffleWriteBytes()) / 1e6
                out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 1e6
                out["tasks"] += d.numTasks()
    return out
