"""Where a call's Spark time went, read from the live status store.

Every job the library starts carries a description: ``<label>:<node>`` for
the nodes of ``run.run_plan`` (``run_pipeline:triples``,
``apply:mentions_adds``, ``link_mentions:prepare_lexicon``) and
``<op>:<section>`` for a delta batch's sections. ``breakdown`` sums the
jobs submitted since a point in time by description: job count, task
count, executor run time, shuffle read and write, spill, and the maximum
and median task run time (skew). The store is Spark's in-process one, so
it works with the UI off and starts no job.

Each of the three lists it reads (jobs, stages, tasks) is serialized
JVM-side in one py4j call: walking the Scala objects field by field costs a
round trip per field. A read still costs tens of milliseconds and grows
with the store's retention (``spark.ui.retainedJobs``/``retainedStages``,
1000 each), so callers read once per call, after its plan has ended, never
once per node.
"""

from __future__ import annotations

import json
import statistics

FIELDS = (
    "jobs", "tasks", "exec_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "task_max_s", "task_median_s",
)
_MB = 2**20


def breakdown(spark, since_ms: float, prefix: str | None = None, groups: dict | None = None):
    """``{job description: {FIELDS}}`` over the jobs submitted since
    ``since_ms`` (epoch milliseconds) whose description starts with
    ``prefix`` (every job when None). A job's stages count through their
    completed attempts, each stage once, for the first job that lists it;
    the task times are those attempts' successful tasks' executor run times.

    ``groups`` (``{key: [description, ...]}``) sums several descriptions
    under one key instead, e.g. a row whose seconds span two nodes; a key
    whose descriptions started no job gets zeros.

    Returns None when the store no longer holds every job or stage of the
    window (retention evicted some): a partial sum would read as a
    complete one."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # a job that has just ended reaches the store through the listener bus
    jsc.listenerBus().waitUntilEmpty(30_000)
    mapper = _mapper(spark)
    wrapped = _view(spark, mapper, "JobDataWrapper")  # in job id order
    jobs = [w["info"] for w in wrapped]
    # the store evicts the earliest-completed jobs first, so none of the
    # window's went if a retained job completed before the window began
    evicted = len(jobs) < 1 + max((j["jobId"] for j in jobs), default=-1)
    if evicted and not any((j.get("completionTime") or since_ms) < since_ms for j in jobs):
        return None
    mine = [
        w for w in wrapped
        if (w["info"].get("submissionTime") or 0) >= since_ms
        and (prefix is None or (w["info"].get("description") or "").startswith(prefix))
    ]
    tally: dict[str, dict] = {}
    owner: dict[int, dict] = {}  # stage id → tally of the first job listing it
    for w in mine:
        t = tally.setdefault(w["info"].get("description"), {"jobs": 0, "stages": [], "task_ms": []})
        t["jobs"] += 1
        for s in w["info"]["stageIds"]:
            owner.setdefault(s, t)
    if owner:
        first = _stage_key(spark, min(owner), 0)
        stages = [w["info"] for w in _view(spark, mapper, "StageDataWrapper", None, first)]
        # a skipped stage never completes, so the store evicts it before
        # any completed one: only a missing stage that ran means loss
        skipped = {s for w in mine for s in w["skippedStages"]}
        if set(owner) - skipped - {s["stageId"] for s in stages}:
            return None
        done = set()
        for s in stages:
            if s["status"] == "COMPLETE" and s["stageId"] in owner:
                done.add((s["stageId"], s["attemptId"]))
                owner[s["stageId"]]["stages"].append(s)
        for t in _view(spark, mapper, "TaskDataWrapper", "stage", first):
            if (t["stageId"], t["stageAttemptId"]) in done and t["status"] == "SUCCESS":
                owner[t["stageId"]]["task_ms"].append(t["executorRunTime"])
    if groups is None:
        return {d: _fields([t]) for d, t in tally.items()}
    return {k: _fields([tally[d] for d in ds if d in tally]) for k, ds in groups.items()}


def _fields(tallies: list[dict]) -> dict:
    stages = [s for t in tallies for s in t["stages"]]
    task_s = [ms / 1000 for t in tallies for ms in t["task_ms"]]

    def mb(key):
        return round(sum(s[key] for s in stages) / _MB, 3)

    return {
        "jobs": sum(t["jobs"] for t in tallies),
        "tasks": sum(s["numTasks"] for s in stages),
        "exec_s": round(sum(s["executorRunTime"] for s in stages) / 1000, 3),
        "shuffle_read_mb": mb("shuffleReadBytes"),
        "shuffle_write_mb": mb("shuffleWriteBytes"),
        "spill_mb": mb("diskBytesSpilled"),
        "task_max_s": max(task_s, default=0.0),
        "task_median_s": round(statistics.median(task_s), 3) if task_s else 0.0,
    }


def _stage_key(spark, stage_id: int, attempt: int):
    """A JVM ``int[]`` (stage id, attempt): the key of the store's stage
    and per-stage task indexes."""
    key = spark.sparkContext._gateway.new_array(spark._jvm.int, 2)
    key[0], key[1] = stage_id, attempt
    return key


def _view(spark, mapper, wrapper: str, index: str | None = None, first=None) -> list[dict]:
    """The store's ``org.apache.spark.status.<wrapper>`` entries in
    ``index`` order (the natural key when None), from ``first`` on."""
    cls = spark._jvm.java.lang.Class.forName(f"org.apache.spark.status.{wrapper}")
    view = spark.sparkContext._jsc.sc().statusStore().store().view(cls)
    if index is not None:
        view = view.index(index)
    if first is not None:
        view = view.first(first)
    it = view.closeableIterator()
    try:
        return json.loads(mapper.writeValueAsString(it))
    finally:
        it.close()


def _mapper(spark):
    """A JVM-side Jackson mapper that knows Scala's types."""
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    return mapper.registerModule(scala_module.__getattr__("MODULE$"))
