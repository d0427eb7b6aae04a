"""Spans around calls into the program, Spark status-store attribution per
span, and the host readings every run is stamped with.

Spans live in memory and are written out once, at the end of a run. A Spark
stage belongs to the span its completion time falls in. Job groups would be
the obvious key, but they are thread-local and ``run_pipeline`` submits
jobs from its own thread pool.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, run_id) spans when enabled; a
    disabled tracer costs one ``yield`` per span and reads nothing."""

    def __init__(self, enabled: bool, run_id: str, cores: int):
        self.enabled = enabled
        self.run_id = run_id
        self.cores = cores
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own status-store reads
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
            )

    def spark_totals(self, spark, name: str) -> dict[str, float]:
        """Status-store totals over the stages that completed inside every
        span called ``name``: job, task and failed-task counts, executor run
        time, shuffle written, and busy share = run time ÷ (wall × cores)."""
        t0 = time.time()
        windows = [(s["start"] * 1000, s["end"] * 1000) for s in self.spans if s["name"] == name]
        wall = sum(e - s for s, e in windows) / 1000

        def inside(ms):
            return ms is not None and any(s <= ms <= e for s, e in windows)

        stages = [st for st in _store_json(spark, "stageList") if inside(st.get("completionTime"))]
        jobs = [j for j in _store_json(spark, "jobsList") if inside(j.get("completionTime"))]
        run_s = sum(st["executorRunTime"] for st in stages) / 1000
        out = {
            "jobs": float(len(jobs)),
            "tasks": float(sum(st["numCompleteTasks"] for st in stages)),
            "failed_tasks": float(sum(st["numFailedTasks"] for st in stages)),
            "exec_run_s": run_s,
            "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in stages) / 2**20,
            "busy_share": run_s / (wall * self.cores) if wall else 0.0,
        }
        self.self_s += time.time() - t0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _store_json(spark, what: str) -> list[dict]:
    """Jobs or stages of Spark's live status store (works with the UI off),
    serialized JVM-side in one call: walking the Scala objects field by
    field over py4j costs a round trip per field."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    if what == "stageList":
        seq = store.stageList(
            empty, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0), empty
        )
    else:
        seq = store.jobsList(empty)
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    return json.loads(mapper.writeValueAsString(seq))


def cpu_stat() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_window(a: list[int], b: list[int]) -> dict[str, float]:
    """Share of host CPU time per state between two /proc/stat readings."""
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return {n: round(100 * v / tot, 2) for n, v in zip(names, d)}


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20
