"""The checkpoint lifecycle (tera_spark/checkpoints.py): one caller of
``localCheckpoint``, and a scope that releases what was taken inside it."""

from __future__ import annotations

import pathlib
import re
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from tera_spark.checkpoints import checkpoint, checkpoint_rdd, checkpoint_scope, release
from tera_spark.pipeline.run import run_plan

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "tera_spark"


def test_only_checkpoints_module_calls_local_checkpoint():
    calls = {
        str(p.relative_to(PACKAGE)): n
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "checkpoints.py"
        and (n := len(re.findall(r"\.localCheckpoint\b", p.read_text())))
    }
    assert not calls, calls


def _rdd_id(df) -> int:
    return int(checkpoint_rdd(df).id())


def test_scope_releases_run_plan_nodes_but_not_other_threads(spark, persistent_rdd_ids):
    """A checkpoint a run_plan node takes joins the scope of the thread
    that started the plan, also with more nodes than cores appending at
    once; one taken meanwhile on an unrelated thread, or outside every
    scope, stays pinned and readable until released."""
    df = spark.range(0, 1_000, 1, 2).selectExpr("id", "id * 3 AS x")
    n_nodes = 4 * spark.sparkContext.defaultParallelism
    plan = [(f"n{i}", lambda: checkpoint(df)) for i in range(n_nodes)]
    base = persistent_rdd_ids()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            with checkpoint_scope():
                own = checkpoint(df)
                nodes = run_plan(spark, "scope_test", plan).values()
                other = pool.submit(checkpoint, df).result(timeout=60)
                taken = {_rdd_id(own), _rdd_id(other), *map(_rdd_id, nodes)}
                assert len(taken) == n_nodes + 2
                assert taken <= persistent_rdd_ids() - base
    finally:
        sys.setswitchinterval(interval)
    outside = checkpoint(df)
    assert persistent_rdd_ids() - base == {_rdd_id(other), _rdd_id(outside)}
    assert other.count() == outside.count() == 1_000
    release(other, outside)
    assert not persistent_rdd_ids() - base


def test_scope_releases_on_failure_and_nests(spark, persistent_rdd_ids):
    df = spark.range(0, 100, 1, 2)
    base = persistent_rdd_ids()
    with pytest.raises(RuntimeError, match="inside the scope"):
        with checkpoint_scope():
            checkpoint(df)
            raise RuntimeError("inside the scope")
    assert not persistent_rdd_ids() - base

    with checkpoint_scope():
        outer = checkpoint(df)
        with checkpoint_scope():
            checkpoint(df)
        # the inner scope released its own checkpoint only
        assert persistent_rdd_ids() - base == {_rdd_id(outer)}
        assert outer.count() == 100
    assert not persistent_rdd_ids() - base
