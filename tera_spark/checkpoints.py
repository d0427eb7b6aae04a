"""One checkpoint lifecycle: ``checkpoint(df)`` is the only caller of
``localCheckpoint`` in ``tera_spark``, ``checkpoint_scope()`` says when its
blocks are released, and ``closure`` is the one checkpointed fixpoint loop.

A local checkpoint cuts the plan's lineage and pins the materialized rows
in the block manager until its RDD is unpersisted. Every checkpoint taken
inside a scope — on the thread that opened it, or in a ``run_plan`` node
started from that thread — is unpersisted when the scope exits, normally
or by an exception. One taken on another thread, or outside every scope,
is the caller's, exactly as ``localCheckpoint``'s would be. Scopes nest;
each releases what was taken while it was the innermost one.

Iterative operators also release within the call: each round's checkpoint
supersedes the previous round's, which is released as soon as the new one
is materialized (``release``). A frame is released only once every
checkpoint that reads it has been materialized — a lazy checkpoint
(``eager=False``) is materialized only by a later job, so its inputs stay
pinned until then. The scope is the backstop for whatever a call keeps.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# the checkpoints of the innermost open scope, None outside every scope
_SCOPE: ContextVar[list | None] = ContextVar("checkpoint_scope", default=None)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded in the open scope if any."""
    out = df.localCheckpoint(eager)
    taken = _SCOPE.get()
    if taken is not None:
        taken.append(out)
    return out


def checkpoint_rdd(df: DataFrame):
    """The JVM RDD a checkpointed DataFrame reads: its logical plan is the
    bare ``LogicalRDD`` over the persisted blocks. Read from the DataFrame
    itself, so a checkpoint another driver thread takes at the same time is
    never mistaken for this one."""
    return df._jdf.queryExecution().logical().rdd()


def release(*dfs: DataFrame) -> None:
    """Unpersist the blocks of checkpointed DataFrames, without waiting for
    their removal. Safe to call more than once; a released frame must not
    be read again (a read raises). Calls the SparkContext's
    ``unpersistRDD`` directly: ``RDD.unpersist`` makes the same call, after
    logging a WARN for every locally checkpointed RDD."""
    for df in dfs:
        rdd = checkpoint_rdd(df)
        rdd.context().unpersistRDD(rdd.id(), False)


@contextmanager
def checkpoint_scope():
    """Release every checkpoint taken inside the ``with`` block when it
    exits (module docstring)."""
    taken: list[DataFrame] = []
    token = _SCOPE.set(taken)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        release(*taken)


def closure(seed: DataFrame, expand, keys: list[str], max_rounds: int) -> DataFrame:
    """Every row reachable from ``seed`` by repeated ``expand``: the
    semi-naive frontier loop behind the transitive queries.

    Each round expands the rows the previous round found (first the seed),
    anti-joins the result to every row found so far on ``keys`` and adds
    what is left; the first round that finds nothing ends the loop.
    ``seed`` and ``expand(frontier)`` must each be distinct on ``keys``, so
    the union needs no ``distinct``. Raises ``RuntimeError`` when
    ``max_rounds`` rounds end with the last one still finding rows: the
    closure would be truncated, i.e. wrong.

    A round is one Spark job: the new rows are an eager checkpoint whose
    count rides it as an observed metric, and the rows found so far a lazy
    checkpoint of the union, materialized by the next round's anti-join.
    What that lazy checkpoint reads (the previous union and the previous
    new rows) is released once it is materialized; until then it stays
    pinned, so a round whose job did not materialize the union (an empty
    expansion can skip it, and with AQE off no round's job does) only
    defers the release to the caller's scope.
    """
    visited = frontier = checkpoint(seed)
    held: list[DataFrame] = []  # what the lazy ``visited`` reads
    for _ in range(max_rounds):
        obs = Observation()
        nxt = checkpoint(
            expand(frontier)
            .join(visited.select(*keys), keys, "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if checkpoint_rdd(visited).isCheckpointed():
            release(*held)
            held = []
        if not obs.get["n"]:
            release(nxt)
            return visited
        held += [visited, nxt]
        visited = checkpoint(visited.unionByName(nxt), eager=False)
        frontier = nxt
    release(visited, *held)
    raise RuntimeError(f"closure did not converge within max_iter={max_rounds} rounds")
