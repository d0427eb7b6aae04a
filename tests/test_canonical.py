import pytest

from tera_spark.operators import canonical
from tera_spark.operators.canonical import (
    canonical_mapping,
    canonicalize,
    connected_components,
    replace_entities_salted,
)
from tera_spark.operators.triples import replace_entities

E_SCHEMA = "u string, v string"
T_SCHEMA = "subject string, predicate string, object string, obj_is_literal boolean"


def test_cc_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("x", "y"), ("z", "z")], E_SCHEMA
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert labels["a"] == labels["b"] == labels["c"] == labels["d"] == "a"
    assert labels["x"] == labels["y"] == "x"
    assert "z" not in labels  # self-loop only → dropped (no aliasing info)


def test_cc_long_chain_converges(spark):
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], E_SCHEMA
    )
    labels = connected_components(edges).collect()
    assert len(labels) == n + 1
    assert {r.component for r in labels} == {"n000"}


def test_cc_unconverged_raises(spark):
    """Leaving the loop at max_iter unconverged must fail loudly — the
    labels would not be stars (a chain's far end would keep a non-min
    label)."""
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], E_SCHEMA
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)


def _star_forest(spark):
    """Alias edges as linking emits them: every provisional id points
    straight at a smaller lexicon id — already a converged star forest."""
    return spark.createDataFrame(
        [(f"urn:mention:m{i}", f"cas:{i % 3}") for i in range(12)], E_SCHEMA
    )


def _jobs_run(spark, fn):
    """(result, number of Spark jobs ``fn`` ran). With AQE on every
    materialized shuffle stage surfaces as its own tracker job; off, the
    tracker counts actions (see the pagerank budget)."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = len(tracker.getJobIdsForGroup(None))
        out = fn()
        after = len(tracker.getJobIdsForGroup(None))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return out, after - before


_STAR_MAP = {f"urn:mention:m{i}": f"cas:{i % 3}" for i in range(12)}


def test_canonical_mapping_converged_star_job_budget(spark):
    """At linking's sizes canonical_mapping takes the driver path: one job
    checkpoints the canonical edge set (its count rides that job) and one
    collects it for the union-find — at most two jobs in all."""
    m, jobs = _jobs_run(spark, lambda: canonical_mapping(_star_forest(spark)))
    assert jobs <= 2, f"canonical_mapping ran {jobs} jobs, want <= 2"
    assert {r.old: r.new for r in m.collect()} == _STAR_MAP


def test_canonical_mapping_loop_path_job_budget(spark, monkeypatch):
    """Above the driver bound canonical_mapping runs the distributed loop.
    A converged star forest's initial fingerprint equals round 1's, so
    the loop is the initial checkpoint plus ONE round, two jobs in all."""
    monkeypatch.setattr(canonical, "_DRIVER_CC_MAX_EDGES", 0)
    m, jobs = _jobs_run(spark, lambda: canonical_mapping(_star_forest(spark)))
    assert jobs == 2, f"canonical_mapping ran {jobs} jobs, want 2"
    assert {r.old: r.new for r in m.collect()} == _STAR_MAP


@pytest.mark.parametrize(
    "rows",
    [
        # chain + island + self-loop-only node
        [("b", "a"), ("c", "b"), ("d", "c"), ("x", "y"), ("z", "z")],
        # duplicate and both-direction edges, NULL endpoints
        [("b", "a"), ("a", "b"), ("b", "a"), ("c", "b"), ("c", "b"), (None, "a"), ("q", None)],
        # non-ASCII ids: "z" (U+007A) < "é" (U+00E9); U+FF5E < U+1F600,
        # although UTF-16 (Java String) order puts the emoji's surrogate
        # pair first — Spark compares UTF-8 bytes, i.e. code points
        [("é", "z"), ("é", "ü"), ("\U0001F600", "\uff5e"), ("\U0001F600", "ω")],
        [],
    ],
    ids=["chain_islands", "dup_bidir_null", "non_ascii", "empty"],
)
def test_canonical_mapping_driver_path_matches_cc(spark, rows):
    """The driver-side union-find gives exactly the map the distributed
    connected_components gives, identity rows dropped. The map is a
    LocalRelation (built from Arrow), not a LogicalRDD over a PythonRDD:
    reading it starts no Python worker."""
    edges = spark.createDataFrame(rows, E_SCHEMA)
    mapping = canonical_mapping(edges)
    assert mapping._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert mapping.schema.simpleString() == "struct<old:string,new:string>"
    got = {(r.old, r.new) for r in mapping.collect()}
    want = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
        if r.node != r.component
    }
    assert got == want


def test_canonical_mapping_transitive(spark):
    edges = spark.createDataFrame([("b", "a"), ("c", "b")], E_SCHEMA)
    m = {r.old: r.new for r in canonical_mapping(edges).collect()}
    assert m == {"b": "a", "c": "a"}


def test_canonicalize_rewrites_chains(spark):
    g = spark.createDataFrame(
        [
            ("c", "p", "lit", True),
            ("x", "p", "b", False),
            ("a", "p", "o", False),
        ],
        T_SCHEMA,
    )
    edges = spark.createDataFrame([("b", "a"), ("c", "b")], E_SCHEMA)
    out = {(r.subject, r.object) for r in canonicalize(g, edges).collect()}
    assert out == {("a", "lit"), ("x", "a"), ("a", "o")}


def test_salted_rewrite_equals_broadcast(spark):
    g = spark.createDataFrame(
        [(f"s{i % 3}", "p", f"o{i % 5}", False) for i in range(50)]
        + [("s0", "p", "hot", False)] * 1,
        T_SCHEMA,
    )
    mapping = spark.createDataFrame(
        [("s0", "S0"), ("o1", "O1"), ("hot", "HOT")], "old string, new string"
    )
    a = {tuple(r) for r in replace_entities(g, mapping).collect()}
    b = {tuple(r) for r in replace_entities_salted(g, mapping, salts=4).collect()}
    assert a == b


# --------------------------------------------------------------------------
# PageRank (operators/graph_metrics.py)
# --------------------------------------------------------------------------
def _numpy_pagerank(edge_list, iterations=5, damping=0.85):
    """Reference dense power iteration with uniform dangling redistribution."""
    import numpy as np

    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    idx = {nm: i for i, nm in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for u, v in set(edge_list):
        if u != v:
            out.setdefault(u, []).append(v)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        nxt = np.full(n, (1.0 - damping) / n)
        dangling = sum(r[idx[nm]] for nm in nodes if nm not in out)
        nxt += damping * dangling / n
        for u, vs in out.items():
            share = damping * r[idx[u]] / len(vs)
            for v in vs:
                nxt[idx[v]] += share
        r = nxt
    return {nm: r[idx[nm]] for nm in nodes}


def test_pagerank_matches_dense_reference(spark):
    from tera_spark.operators.graph_metrics import pagerank

    # chain into a hub, a cycle, a dangling sink, a duplicate edge + self-loop
    edge_list = [
        ("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "sink"),
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("a", "hub"),  # duplicate — must not double-count
        ("w", "w"),    # self-loop only — dropped entirely
        ("sink2", "a"),
    ]
    df = spark.createDataFrame(edge_list, "u string, v string")
    got = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    want = _numpy_pagerank([e for e in edge_list if e[0] != e[1]])
    assert set(got) == set(want)
    for nm in want:
        assert abs(got[nm] - want[nm]) < 1e-12, nm
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conservation
    # the dangling sink receives the hub's whole mass each round → tops the
    # ranking; hub (3 in-edges) still far outranks its leaf sources
    assert got["sink"] == max(got.values())
    assert got["hub"] > 3 * got["b"]


def test_pagerank_job_budget(spark):
    """Setup is ONE job (node count + initial dangling mass ride the node
    checkpoint via observe) on top of the edge checkpoint; each iteration
    is ONE job (rank checkpoint carrying the dangling-mass observe). Total
    for K iterations: 2 + K jobs, and the returned frame is already
    materialized (collecting it adds exactly one more)."""
    from tera_spark.operators.graph_metrics import pagerank

    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edge_list, "u string, v string")
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    # AQE surfaces every materialized shuffle stage as its own tracker job
    # (measured: 35 for this graph) — disable it so the tracker counts
    # ACTIONS, the thing the one-job-per-iteration claim is about
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = len(tracker.getJobIdsForGroup(None))
        pagerank(df, iterations=4)
        after = len(tracker.getJobIdsForGroup(None))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert after - before == 2 + 4, f"pagerank ran {after - before} jobs, want 6"


def test_closure_job_budget(spark):
    """``checkpoints.closure``: the seed checkpoint is ONE job and every
    round ONE more (its new-row count rides the checkpoint via observe).
    A 4-link chain from its head takes 4 rounds that add a row and a 5th
    that adds none: 6 jobs."""
    from pyspark.sql import functions as F

    from tera_spark.checkpoints import closure

    links = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(4)], "src string, dst string"
    )
    seed = spark.createDataFrame([("c0",)], "node string")

    def step(frontier):
        return (
            frontier.join(links, frontier["node"] == links["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )

    out, jobs = _jobs_run(spark, lambda: closure(seed, step, ["node"], 10))
    assert jobs == 1 + 5, f"closure ran {jobs} jobs, want 6"
    assert {r.node for r in out.collect()} == {f"c{i}" for i in range(5)}


def test_pagerank_empty_and_trivial(spark):
    from tera_spark.operators.graph_metrics import pagerank

    empty = spark.createDataFrame([], "u string, v string")
    assert pagerank(empty).count() == 0
    pair = spark.createDataFrame([("a", "b")], "u string, v string")
    got = {r.node: r.rank for r in pagerank(pair, iterations=3).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got["b"] > got["a"]


def test_triangle_stats_known_graph(spark):
    from tera_spark.operators.graph_metrics import triangle_stats

    # K4 on a-d (4 triangles, every node in 3), plus a pendant e-a
    # (degree 1, no triangle) and an isolated edge f-g.
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("e", "a"),
        ("f", "g"),
        # noise the operator must ignore: duplicate, reversed, self-loop
        ("b", "a"), ("a", "b"), ("c", "c"),
    ]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {r.node: (r.degree, r.triangles, r.lcc) for r in triangle_stats(df).collect()}
    assert got["a"] == (4, 3, 0.5)  # K4 member + pendant e
    for n in "bcd":
        assert got[n] == (3, 3, 1.0)  # pure K4 members: fully clustered
    assert got["e"] == (1, 0, 0.0)
    assert got["f"] == (1, 0, 0.0) and got["g"] == (1, 0, 0.0)
    total = sum(t for _, t, _ in got.values())
    assert total == 3 * 4  # 4 triangles, 3 credits each


def test_triangle_stats_star_has_none(spark):
    from tera_spark.operators.graph_metrics import triangle_stats

    # a hot hub with no closing edges: the degree-ordered orientation
    # must pivot the leaves (degree 1), never the hub — and find nothing
    edges = [("hub", f"leaf{i}") for i in range(20)]
    df = spark.createDataFrame(edges, "u string, v string")
    rows = triangle_stats(df).collect()
    assert all(r.triangles == 0 and r.lcc == 0.0 for r in rows)
    assert {r.degree for r in rows} == {1, 20}


def test_k_core_peels_to_fixpoint(spark):
    from tera_spark.operators.graph_metrics import k_core

    # K4 (a,b,c,d) + a tail c-e-f: 2-core is exactly the K4 (the tail
    # peels in two rounds: f first, then e), core degrees all 3
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("c", "e"), ("e", "f"),
    ]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {r.node: r.core_degree for r in k_core(df, k=2).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # k above the max degree: empty core
    assert k_core(df, k=4).count() == 0


def test_k_core_raises_when_unconverged(spark):
    from tera_spark.operators.graph_metrics import k_core

    # an 8-node path peels two end nodes per round at k=2: two rounds
    # leave 3 of its 7 edges, so the edge count is still changing
    df = spark.createDataFrame(
        [(f"p{i}", f"p{i + 1}") for i in range(7)], "u string, v string"
    )
    with pytest.raises(RuntimeError, match="max_iter=2"):
        k_core(df, k=2, max_iter=2)


def test_k_core_extra_rounds_are_identity(spark):
    from tera_spark.operators.graph_metrics import k_core

    # triangle: already a 2-core; the loop must stop at the fixpoint and
    # return every node with degree 2 regardless of max_iter headroom
    df = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("x", "z")], "u string, v string"
    )
    got = {r.node: r.core_degree for r in k_core(df, k=2, max_iter=10).collect()}
    assert got == {"x": 2, "y": 2, "z": 2}


def test_link_prediction_star_plus_edge(spark):
    from tera_spark.operators.graph_metrics import link_prediction

    # hub h-{x,y,z} plus x-y: the only distance-2 non-adjacent pairs are
    # (x,z) and (y,z), each through pivot h (degree 3)
    import math

    edges = [("h", "x"), ("h", "y"), ("h", "z"), ("x", "y")]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {(r.u, r.v): r for r in link_prediction(df).collect()}
    assert set(got) == {("x", "z"), ("y", "z")}
    for r in got.values():
        assert r.common_neighbors == 1
        # deg(x)=2, deg(z)=1 → jaccard = 1/(2+1-1)
        assert r.jaccard == 0.5
        assert abs(r.adamic_adar - round(1.0 / math.log(3.0), 6)) < 1e-9
    # celebrity-pivot cap below the hub's degree removes ALL evidence —
    # the guard is part of the contract, not a perturbation
    assert link_prediction(df, max_pivot_degree=2).count() == 0


def test_bfs_distances_path_and_directed(spark):
    from tera_spark.operators.graph_metrics import bfs_distances

    # path a-b-c-d-e, plus an isolated edge f-g; undirected from seed a,
    # max_hops=3 stops before e and never reaches f/g
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("f", "g")]
    df = spark.createDataFrame(edges, "u string, v string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in bfs_distances(df, seeds, max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # directed: edges point forward only, so seeding at c reaches d,e and
    # never walks back to b
    seeds_c = spark.createDataFrame([("c",)], "node string")
    got = {
        r.node: r.dist
        for r in bfs_distances(df, seeds_c, max_hops=4, directed=True).collect()
    }
    assert got == {"c": 0, "d": 1, "e": 2}
    # a seed absent from the graph still reports itself at distance 0
    seeds_q = spark.createDataFrame([("q",)], "node string")
    got = {r.node: r.dist for r in bfs_distances(df, seeds_q, max_hops=2).collect()}
    assert got == {"q": 0}


def test_label_propagation_two_cliques(spark):
    from tera_spark.operators.graph_metrics import label_propagation

    # two triangles bridged by one edge c-x: hand-traced synchronous LPA
    # with min-label tie-break settles at {a,b,c}→a and {x,y,z}→c by
    # round 4 (and stays there — round 5 reproduces it)
    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("x", "y"), ("y", "z"), ("x", "z"),
        ("c", "x"),
    ]
    df = spark.createDataFrame(edges, "u string, v string")
    got4 = {r.node: r.label for r in label_propagation(df, rounds=4).collect()}
    assert got4 == {"a": "a", "b": "a", "c": "a", "x": "c", "y": "c", "z": "c"}
    got5 = {r.node: r.label for r in label_propagation(df, rounds=5).collect()}
    assert got5 == got4


# --------------------------------------------------------------------------
# HITS (operators/graph_metrics.py)
# --------------------------------------------------------------------------
def _numpy_hits(edge_list, iterations=5):
    """Reference dense HITS: auth from hubs then L2-norm, hub from auths
    then L2-norm, starting from hub=1 everywhere."""
    import numpy as np

    edges = sorted({(u, v) for u, v in edge_list if u != v})
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {nm: i for i, nm in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for u, v in edges:
        A[idx[u], idx[v]] = 1.0
    h = np.ones(n)
    a = np.zeros(n)
    for _ in range(iterations):
        a = A.T @ h
        a /= np.linalg.norm(a) or 1.0
        h = A @ a
        h /= np.linalg.norm(h) or 1.0
    return {nm: (h[idx[nm]], a[idx[nm]]) for nm in nodes}


def test_hits_matches_dense_reference(spark):
    from tera_spark.operators.graph_metrics import hits

    edge_list = [
        ("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "sink"),
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("a", "hub"),  # duplicate — must not double-count
        ("w", "w"),    # self-loop only — dropped entirely
        ("sink2", "a"),
    ]
    df = spark.createDataFrame(edge_list, "u string, v string")
    got = {r.node: (r.hub, r.authority) for r in hits(df, iterations=5).collect()}
    want = _numpy_hits(edge_list)
    assert set(got) == set(want)
    for nm in want:
        assert abs(got[nm][0] - want[nm][0]) < 1e-12, nm
        assert abs(got[nm][1] - want[nm][1]) < 1e-12, nm
    # 'hub' is the top authority (3 in-edges from pure hubs); its sources
    # a/b/c are the top hubs; nodes with no out-edges have hub exactly 0
    assert got["hub"][1] == max(v[1] for v in got.values())
    assert got["sink"][0] == 0.0


def test_hits_job_budget(spark):
    """Two setup checkpoints (edges, nodes) + two observe()-fused
    checkpoints per iteration (authority, hub) — no hidden agg jobs."""
    from tera_spark.operators.graph_metrics import hits

    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edge_list, "u string, v string")
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = len(tracker.getJobIdsForGroup(None))
        hits(df, iterations=3)
        after = len(tracker.getJobIdsForGroup(None))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert after - before == 2 + 2 * 3, f"hits ran {after - before} jobs, want 8"


def test_shortest_paths_weighted(spark):
    from tera_spark.operators.graph_metrics import shortest_paths

    # s→a→b is cheaper (1+1=2) than the direct s→b (5); c only reachable
    # in 3 hops; parallel edge s→a keeps its min; d unreachable
    edges = spark.createDataFrame(
        [("s", "a", 1.0), ("s", "a", 9.0), ("a", "b", 1.0), ("s", "b", 5.0),
         ("b", "c", 1.0), ("d", "s", 1.0), ("x", "x", 0.0)],
        "u string, v string, w double",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    got3 = {r.node: r.dist for r in shortest_paths(edges, seeds, rounds=3).collect()}
    assert got3 == {"s": 0.0, "a": 1.0, "b": 2.0, "c": 3.0}
    # hop bound respected: at 1 round the direct s→b edge is the best
    got1 = {r.node: r.dist for r in shortest_paths(edges, seeds, rounds=1).collect()}
    assert got1 == {"s": 0.0, "a": 1.0, "b": 5.0}


def test_shortest_paths_seed_set_min(spark):
    from tera_spark.operators.graph_metrics import shortest_paths

    edges = spark.createDataFrame(
        [("p", "m", 10.0), ("q", "m", 2.0)], "u string, v string, w double"
    )
    seeds = spark.createDataFrame([("p",), ("q",)], "node string")
    got = {r.node: r.dist for r in shortest_paths(edges, seeds, rounds=2).collect()}
    assert got == {"p": 0.0, "q": 0.0, "m": 2.0}


def test_random_walks_deterministic_and_bounded(spark):
    import hashlib

    from tera_spark.operators.graph_metrics import random_walks

    edge_list = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("x", "x")]
    df = spark.createDataFrame(edge_list, "u string, v string")
    out = {r.walk_id: r for r in random_walks(df, walks_per_node=2, length=3).collect()}
    # x has only a self-loop → isolated after the drop → absent entirely
    assert not any(w.startswith("x#") for w in out)
    # d is a sink: walks from d take zero steps
    assert out["d#0"].path == "d" and out["d#0"].steps == 0
    # a's first hop replays the md5 argmin by hand
    for g in (0, 1):
        wid = f"a#{g}"
        pick = min(("b", "c"), key=lambda y: (hashlib.md5(f"{wid}:1:{y}".encode()).hexdigest(), y))
        assert out[wid].path.split(">")[1] == pick
    # every walk starts at its seed; steps == path length - 1
    for wid, r in out.items():
        parts = r.path.split(">")
        assert parts[0] == r.start == wid.split("#")[0]
        assert r.steps == len(parts) - 1 and r.steps <= 3
    # determinism: a second run returns identical paths
    again = {r.walk_id: r.path for r in random_walks(df, walks_per_node=2, length=3).collect()}
    assert again == {k: v.path for k, v in out.items()}


def test_walk_skipgrams_window_and_counts(spark):
    from tera_spark.operators.graph_metrics import walk_skipgrams

    walks = spark.createDataFrame(
        [("w1", "a>b>c>d"), ("w2", "a>b")], "walk_id string, path string"
    )
    got = {(r.center, r.context): r.cnt for r in walk_skipgrams(walks, window=2).collect()}
    # w1 window-2 pairs: a:(b,c) b:(a,c,d) c:(a,b,d) d:(b,c); w2 adds a:b, b:a
    assert got[("a", "b")] == 2 and got[("b", "a")] == 2
    assert got[("a", "c")] == 1 and got[("c", "a")] == 1
    assert ("a", "d") not in got  # beyond the window
    assert got[("b", "d")] == 1 and got[("d", "c")] == 1
    assert sum(got.values()) == 2 * (3 + 2) + 2  # symmetric pairs + w2


def test_hits_rejects_zero_iterations(spark):
    import pytest as _pt

    from tera_spark.operators.graph_metrics import hits

    df = spark.createDataFrame([("a", "b")], "u string, v string")
    with _pt.raises(ValueError, match="iterations"):
        hits(df, iterations=0)


def test_cc_duplicate_and_bidirectional_edges(spark):
    """Round-6 CC slimming dropped the per-step dedups (the star steps'
    min-aggregates are duplicate-insensitive): a multigraph with repeated
    and both-direction edges must label identically to its simple graph."""
    dup = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("b", "a"), ("c", "b"), ("c", "b"), ("x", "y")],
        E_SCHEMA,
    )
    simple = spark.createDataFrame([("b", "a"), ("c", "b"), ("x", "y")], E_SCHEMA)
    got = {(r.node, r.component) for r in connected_components(dup).collect()}
    want = {(r.node, r.component) for r in connected_components(simple).collect()}
    assert got == want
    assert dict(got)["c"] == "a"
