"""One checkpoint lifecycle: ``checkpoint(df)`` is the only caller of
``localCheckpoint`` in ``tera_spark``, and ``checkpoint_scope()`` says
when its blocks are released.

A local checkpoint cuts the plan's lineage and pins the materialized rows
in the block manager until its RDD is unpersisted. Every checkpoint taken
inside a scope — on the thread that opened it, or in a ``run_plan`` node
started from that thread — is unpersisted when the scope exits, normally
or by an exception. One taken on another thread, or outside every scope,
is the caller's, exactly as ``localCheckpoint``'s would be. Scopes nest;
each releases what was taken while it was the innermost one.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

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
