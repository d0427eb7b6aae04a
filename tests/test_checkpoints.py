"""The checkpoint lifecycle (tera_spark/checkpoints.py): one caller of
``localCheckpoint``, a scope that releases what was taken inside it, and
iterative loops that release each superseded round."""

from __future__ import annotations

import pathlib
import re
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from tera_spark.checkpoints import checkpoint, checkpoint_rdd, checkpoint_scope, release
from tera_spark.operators import graph_metrics as G
from tera_spark.operators import query_api as Q
from tera_spark.operators import sparql as S
from tera_spark.operators.canonical import connected_components
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


SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def _chain(spark, n: int):
    """``urn:c0`` → … → ``urn:c<n>``: an edge list and the same links as
    ``rdfs:subClassOf`` triples."""
    links = [(f"urn:c{i}", f"urn:c{i + 1}") for i in range(n)]
    edges = spark.createDataFrame([(u, v, 1.0) for u, v in links], "u string, v string, w double")
    triples = spark.createDataFrame(
        [(u, SUB, v, False) for u, v in links],
        "subject string, predicate string, object string, obj_is_literal boolean",
    )
    return edges, triples


def _seed(spark, col: str):
    return spark.createDataFrame([("urn:c0",)], f"{col} string")


# every iterative loop that releases its superseded rounds; ``n`` sets its
# round count (chain length, iterations, walk length)
_LOOPS = {
    "subclass_closure": lambda spark, n: Q.subclass_closure(_chain(spark, n)[1], _seed(spark, "s")),
    "construct_subgraph": lambda spark, n: Q.construct_subgraph(_chain(spark, n)[1], _seed(spark, "s")),
    "bfs_distances": lambda spark, n: G.bfs_distances(
        _chain(spark, n)[0], _seed(spark, "node"), max_hops=n
    ),
    "sparql_rel_plus": lambda spark, n: S.query_graph(
        _chain(spark, n)[1], f"SELECT ?a ?b WHERE {{ ?a <{SUB}>+ ?b }}"
    ),
    "sparql_node_reachable": lambda spark, n: S.query_graph(
        _chain(spark, n)[1], f"SELECT ?x WHERE {{ <urn:c0> <{SUB}>* ?x }}"
    ),
    "pagerank": lambda spark, n: G.pagerank(_chain(spark, 3)[0], iterations=n),
    "personalized_pagerank": lambda spark, n: G.personalized_pagerank(
        _chain(spark, 3)[0], ["urn:c0"], iterations=n
    ),
    "pagerank_weighted": lambda spark, n: G.pagerank_weighted(_chain(spark, 3)[0], iterations=n),
    "hits": lambda spark, n: G.hits(_chain(spark, 3)[0], iterations=n),
    "shortest_paths": lambda spark, n: G.shortest_paths(
        _chain(spark, n)[0], _seed(spark, "node"), rounds=n
    ),
    "random_walks": lambda spark, n: G.random_walks(_chain(spark, n)[0], length=n),
    "k_core": lambda spark, n: G.k_core(_chain(spark, n)[0], k=2),
    "connected_components": lambda spark, n: connected_components(_chain(spark, n)[0].select("u", "v")),
}


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_loops_pin_the_same_whatever_their_round_count(spark, persistent_rdd_ids, loop):
    """Outside every scope, each round's checkpoint is released once the
    next round's is materialized: what a loop leaves pinned after the call
    does not grow with its round count."""

    def pinned_after(n: int) -> int:
        base = persistent_rdd_ids()
        out = _LOOPS[loop](spark, n)
        pinned = len(persistent_rdd_ids() - base)
        out.collect()  # the result still reads what stayed pinned
        return pinned

    assert pinned_after(3) == pinned_after(12)
