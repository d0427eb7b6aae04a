"""Graph metrics over the materialized KG: deterministic PageRank.

Companion to the connected-components canonicalizer (``canonical.py``) on
the analytics side: once the KG is materialized as an edge table, rank
queries ("which taxa/chemicals are structurally central?") are the natural
next ask. The reference has no rank operator (its graph lives in rdflib /
a SPARQL endpoint); this is one of the beyond-reference large-scale ops,
built Spark-first.

Scale design (the part that must survive 100 TB):

- Fixed iteration count, no convergence threshold → bit-stable run-to-run
  and oracle-replayable (the DuckDB oracle replays the same K iterations
  as a CTE chain).
- Per iteration: one shuffle of the (node-sized) rank table onto the edge
  table's source-hash partitioning (the edge checkpoint is pre-partitioned
  by src, so the fact-sized side never re-shuffles), then the contribution
  ``groupBy(dst)`` shuffle. Each edge's share of its source's rank
  (``frac``) rides the edge table, so no third table joins into the loop.
- Dangling-node mass (nodes with no out-edges) is redistributed uniformly
  each iteration — the textbook correction, without which rank leaks and
  the distribution no longer sums to 1. The dangling SET is static, so it
  is flagged once on the node table; the per-iteration dangling MASS rides
  the iteration's ``localCheckpoint`` action as an ``observe()`` metric —
  exactly ONE Spark job per iteration, same fused-fingerprint trick as
  ``canonical._checkpoint_fingerprint``.
- ``localCheckpoint`` per iteration keeps the plan constant-size (lineage
  would otherwise grow linearly and re-run every prior round), and the
  previous iteration's checkpoint is released once the new one is
  materialized, so the pinned blocks do not grow with the iteration count.
  The three PageRanks share one power iteration (``_power_iteration``);
  the frontier operators (BFS) run on ``checkpoints.closure``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from tera_spark.checkpoints import checkpoint, closure, release


def _power_iteration(
    edges: DataFrame, teleport, iterations: int, damping: float
) -> DataFrame:
    """The power iteration behind every PageRank here.

    ``edges(u, v, w)``: distinct directed edges, no self-loops, w > 0; a
    node's rank flows to its out-neighbours in proportion to ``w``
    (``frac`` = w / Σ out-weights). ``teleport`` is a Column over ``node``:
    each node's teleport weight before normalization. With ``t`` that
    weight over its total, ``dm`` the rank mass on dangling nodes (no
    out-edge) and ``contrib(v) = Σ rank(u)·frac(u, v)``: rank₀ = t and
    rank' = (1−d)·t + d·(contrib + dm·t).

    Jobs: one checkpoints the edge table with its ``frac`` (partitioned by
    ``u`` once; the window needs no exchange of its own), one the node
    table, its two teleport sums riding it as ``observe()`` metrics; each
    iteration is one more, its rank checkpoint carrying the next ``dm``.
    Iteration i−1's ranks are released once iteration i's are
    checkpointed, and the edge and node tables once the last are. Returns
    (node, rank); every rank is 0.0 when the total teleport weight is 0.
    """
    e = checkpoint(
        edges.repartition("u").select(
            "u", "v", (F.col("w") / F.sum("w").over(Window.partitionBy("u"))).alias("frac")
        )
    )
    obs0 = Observation()
    nodes = checkpoint(
        e.select(F.col("u").alias("node"), F.lit(False).alias("dangling"))
        .unionByName(e.select(F.col("v").alias("node"), F.lit(True).alias("dangling")))
        .groupBy("node")
        .agg(F.bool_and("dangling").alias("dangling"))
        .select("node", "dangling", teleport.cast("double").alias("t"))
        .observe(
            obs0,
            F.sum("t").alias("tw"),
            F.sum(F.when(F.col("dangling"), F.col("t")).otherwise(0.0)).alias("dw"),
        )
    )
    tw = float(obs0.get["tw"] or 0.0)
    if tw == 0.0:
        release(e)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    base = nodes.select("node", "dangling", (F.col("t") / F.lit(tw)).alias("t"))
    ranks = base.withColumn("rank", F.col("t"))
    dangling_mass = float(obs0.get["dw"]) / tw
    for i in range(iterations):
        contribs = (
            e.join(
                ranks.filter(~F.col("dangling") & (F.col("rank") != 0)).select(
                    F.col("node").alias("u"), "rank"
                ),
                "u",
            )
            .groupBy("v")
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("contrib"))
        )
        new_rank = F.lit(1.0 - damping) * F.col("t") + F.lit(damping) * (
            F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dangling_mass) * F.col("t")
        )
        obs = Observation()
        nxt = checkpoint(
            base.join(contribs, base["node"] == contribs["v"], "left")
            .select("node", "dangling", "t", new_rank.alias("rank"))
            .observe(
                obs,
                F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)).alias("dm"),
            )
        )
        if i:
            release(ranks)
        ranks = nxt
        dangling_mass = float(obs.get["dm"] or 0.0)
    release(e, *([nodes] if iterations else []))
    return ranks.select("node", "rank")


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """PageRank over a directed edge list (string node ids).

    Returns DataFrame(node string, rank double); ranks sum to 1.0. Edges
    are deduplicated and self-loops dropped (simple-graph semantics, the
    convention that makes the result independent of upstream emission
    multiplicity). ``iterations`` power-iteration rounds with uniform
    teleport and dangling-mass redistribution (``_power_iteration``, every
    edge of weight 1) — deterministic, no RNG, no threshold.
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    return _power_iteration(e.withColumn("w", F.lit(1.0)), F.lit(1.0), iterations, damping)


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph given as a 2-column edge table (string ids; direction
    and duplicates ignored, self-loops dropped).

    Algorithm is the degree-ordered node-iterator join (Suri & Vassilvitskii
    2011, "Counting triangles and the curse of the last reducer"): orient
    every undirected edge from its lower-(degree, id) endpoint to the
    higher, self-join the ORIENTED edge list on the pivot (source) node to
    enumerate open wedges, then semi-verify each wedge's closing edge
    against the oriented edge set. Orientation is what survives scale: a
    hot vertex of degree d pivots only its higher-degree neighbors, so
    wedge fan-out is bounded by O(m^1.5) total and the curse-of-the-last-
    reducer partition (a celebrity node's d² wedges) cannot form. Every
    triangle is enumerated exactly once (its minimum-(degree, id) corner
    is the unique pivot).

    Shuffles: degree aggregate, orientation join, wedge self-join, closing-
    edge join, final per-corner count — all on node/edge-sized tables; no
    corpus-sized window. The triangle SET is orientation-invariant, so a
    SQL oracle may verify with plain id-ordering.

    Returns (node, degree, triangles, lcc) where
    lcc = 2·triangles / (degree·(degree−1)) (0.0 when degree < 2),
    rounded to 6 places.
    """
    u0, v0 = edges.columns[0], edges.columns[1]
    # checkpoint: ``und`` fans out into deg (2x) and oriented, and through
    # them wedges/closing/tris/per_node — without the barrier the caller's
    # whole edge-generation lineage replicates ~50x through the join DAG
    # (the graph_triangles entry planned 932 operators / 94 parquet scans
    # of lineitem; ~1 scan after), and Catalyst planning time alone scales
    # with that tree.
    und = checkpoint(
        edges.select(
            F.least(F.col(u0), F.col(v0)).alias("a"),
            F.greatest(F.col(u0), F.col(v0)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # Orient a→b when (deg, id) of a < (deg, id) of b.
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    # second barrier: oriented feeds the wedge self-join (2x), closing and
    # — via tris — per_node (3x); checkpointing stops the und⋈deg⋈deg
    # orientation join re-running once per consumer.
    oriented = checkpoint(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(F.struct(F.col("b").alias("src"), F.col("a").alias("dst")))
            .alias("e")
        )
        .select("e.src", "e.dst")
    )
    w1 = oriented.select(F.col("src").alias("pivot"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src").alias("pivot"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "pivot").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    ).dropDuplicates(["x", "y"])
    tris = wedges.join(closing, ["x", "y"])  # (pivot, x, y) closed triangles
    per_node = (
        tris.select(F.col("pivot").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    lcc = F.when(
        F.col("degree") >= 2,
        F.round(
            2.0
            * F.col("triangles").cast("double")
            / (F.col("degree").cast("double") * (F.col("degree") - 1).cast("double")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_node, "node", "left")
        .na.fill({"triangles": 0})
        .select("node", "degree", "triangles", lcc.alias("lcc"))
    )


def link_prediction(
    edges: DataFrame,
    max_pivot_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Link-prediction scores for every non-adjacent node pair at distance
    2 in an undirected graph (2-column string-id edge input; direction,
    duplicates and self-loops ignored). The KG-construction use is
    entity-resolution candidate generation: two mentions that share many
    canonical neighbors but no direct edge are merge/link candidates.

    Scores per pair (u, v), u < v:
      - ``common_neighbors`` — |N(u) ∩ N(v)|
      - ``jaccard``          — |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
      - ``adamic_adar``      — Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w))
        (Adamic & Adar 2003; down-weights promiscuous shared neighbors —
        deg-1 pivots cannot occur since a pivot has ≥ 2 neighbors)

    Scale shape: candidate pairs are enumerated by a self-join of the
    neighbor table on the shared pivot w — Σ_w deg(w)² wedges, the same
    hazard as triangle counting. The guard here is ``max_pivot_degree``:
    a celebrity pivot (say the 'missing'-style hub entity every mention
    touches) contributes deg² pairs that are USELESS for linking (a shared
    hub is no evidence of identity — exactly why Adamic-Adar down-weights
    it toward 0), so production runs cap the pivot degree and the skipped
    mass is the least-informative evidence by construction. The cap is
    part of the operator's contract (the oracle replays it), not a silent
    truncation. Remaining joins (degrees, existing-edge anti-join) are
    edge-sized hash joins; no corpus-sized window.

    Returns (u, v, common_neighbors, jaccard, adamic_adar), jaccard and
    adamic_adar rounded to 6 places, filtered to
    ``common_neighbors ≥ min_common``.
    """
    u0, v0 = edges.columns[0], edges.columns[1]
    und = (
        edges.select(
            F.least(F.col(u0), F.col(v0)).alias("a"),
            F.greatest(F.col(u0), F.col(v0)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    nb = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = nb.groupBy("node").agg(F.count("*").alias("degree"))
    pivots = nb.join(deg.withColumnRenamed("node", "nbr"), "nbr").select(
        F.col("nbr").alias("w"),
        F.col("node"),
        F.col("degree").alias("degw"),
    )
    if max_pivot_degree is not None:
        pivots = pivots.filter(F.col("degw") <= max_pivot_degree)
    lhs = pivots.select("w", F.col("node").alias("u"), "degw")
    rhs = pivots.select("w", F.col("node").alias("v"))
    pairs = (
        lhs.join(rhs, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(1.0 / F.log(F.col("degw").cast("double"))).alias("aa"),
        )
        # distance exactly 2: drop pairs that are already edges
        .join(
            und.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "left_anti",
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa"), 6).alias("adamic_adar"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    directed: bool = False,
) -> DataFrame:
    """Shortest-path hop distance from a seed SET to every node within
    ``max_hops`` (unit edge weights). The KG read-path sibling of
    ``query_api.construct_subgraph`` (reference `DataAccess.py:232-260`),
    which returns the reachable edge set but discards WHICH hop reached a
    node — distances are what neighborhood-scoped queries ("entities
    within 2 hops of this chemical") and the linker's context windows
    need.

    Level-synchronous frontier expansion on ``checkpoints.closure``: hop
    h joins the (frontier-sized) distance table against the checkpointed
    edge table and anti-joins the visited set, and one checkpoint per hop
    keeps the plan constant-size. A frontier at ``max_hops`` expands to nothing, so the
    closure ends there (one empty round after the last hop) and its round
    cap is only a safety net. BFS layers are monotone (a node's first
    discovery hop IS its shortest distance), so a ``max_hops``-bounded run
    is exact for every node it emits — and a bounded recursive-CTE oracle
    replays it exactly.

    Returns (node, dist int) for reached nodes, seeds at dist 0.
    """
    u0, v0 = edges.columns[0], edges.columns[1]
    e = edges.select(F.col(u0).alias("src"), F.col(v0).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    if not directed:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = checkpoint(e.dropDuplicates(["src", "dst"]).repartition("src"))
    s0 = seeds.columns[0]
    # every frontier row carries the same dist, so (node, dist) rows
    # distinct as a whole are distinct on node
    out = closure(
        seeds.select(F.col(s0).alias("node")).distinct().withColumn("dist", F.lit(0)),
        lambda frontier: frontier.filter(F.col("dist") < max_hops)
        .join(e, frontier["node"] == e["src"])
        .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        .distinct(),
        ["node"],
        max_hops + 1,
    )
    release(e)
    return out


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over an undirected graph (2-column string-id edge input;
    direction, duplicates and self-loops ignored). Beyond-CC clustering
    for the KG: connected components glue everything reachable into one
    blob, LPA finds the dense sub-communities inside a component — the
    granularity entity-disambiguation actually wants.

    Determinism contract: labels init to the node's own id; each round
    EVERY node simultaneously takes the most frequent label among its
    neighbors, ties broken by minimum label. Synchronous LPA can
    oscillate on bipartite-ish structures, so the operator runs a FIXED
    round count rather than to convergence — run-to-run bit-stable and
    exactly replayable by a chained-CTE SQL oracle (same reasoning as
    ``pagerank``'s fixed iterations).

    Per round: one join of the (node-sized) label table onto the
    pre-partitioned neighbor table, one count aggregate, one argmax
    window over (node)-partitions — all node/edge-sized shuffles;
    ``localCheckpoint`` per round keeps the plan constant-size.

    Returns (node, label).
    """
    from pyspark.sql import Window

    u0, v0 = edges.columns[0], edges.columns[1]
    und = (
        edges.select(
            F.least(F.col(u0), F.col(v0)).alias("a"),
            F.greatest(F.col(u0), F.col(v0)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    nb = checkpoint(
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .repartition("nbr")
    )
    labels = nb.select("node").distinct().withColumn("label", F.col("node"))
    pick = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
        labels = checkpoint(
            nb.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("node", "label"),
            eager=False,
        )
    return labels


def k_core(edges: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """Nodes of the k-core — the maximal induced subgraph in which every
    node has degree ≥ k — with their within-core degrees. Undirected
    2-column string-id edge input; direction, duplicates and self-loops
    ignored.

    Iterative peeling: drop every node of degree < k, recompute degrees
    on the induced subgraph, repeat to fixpoint. Peeling is MONOTONE
    (once a node is out it can never come back; once stable, further
    rounds are identity), which is what makes a fixed-round SQL replay an
    exact oracle: any round count ≥ the convergence round yields the same
    table.

    Scale shape: each round is one degree aggregate + one double
    semi-join, all on the (only-shrinking) edge set; a checkpoint per round
    keeps the plan constant-size and releases the previous round's, and
    the convergence check is the edge count, which rides that checkpoint
    as an ``observe()`` metric — one job per round. At 100 TB the edge
    table is fact-sized but each round's survivors shrink geometrically
    for realistic degree distributions; the loop never touches a
    corpus-sized window. Raises ``RuntimeError`` when ``max_iter`` rounds
    end with the edge count still changing: the graph would be only partly
    peeled, i.e. not the k-core.

    Returns (node, core_degree).
    """
    u0, v0 = edges.columns[0], edges.columns[1]

    def counted(df: DataFrame) -> tuple[DataFrame, int]:
        obs = Observation()
        out = checkpoint(df.observe(obs, F.count(F.lit(1)).alias("n")))
        return out, int(obs.get["n"])

    e, prev = counted(
        edges.select(
            F.least(F.col(u0), F.col(v0)).alias("a"),
            F.greatest(F.col(u0), F.col(v0)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    for _ in range(max_iter):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("c"))
        )
        keep = deg.filter(F.col("c") >= k).select("node")
        nxt, n = counted(
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
        )
        release(e)
        e = nxt
        if n == prev:
            break
        prev = n
    else:
        release(e)
        raise RuntimeError(f"k_core did not converge within max_iter={max_iter} rounds")
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("core_degree"))
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution of an undirected 2-column edge
    table (same input contract as ``triangle_stats``: string ids,
    direction/duplicates ignored, self-loops dropped) — the first plot
    anyone makes of a KG's shape, and the skew probe that decides whether
    salting / the celebrity caps in this module are needed: a heavy tail
    at high buckets IS the hot-vertex warning.

    Returns one row per occupied bucket: (bucket = floor(log2(degree)),
    n_nodes, min_degree, max_degree). Bucket count is O(log max_degree),
    so the result is driver-sized at any corpus scale.

    Scale shape: canonical-pair dedup (one shuffle), one degree aggregate
    (map-side combine), one O(log d)-row aggregate. No window, no join.
    """
    u0, v0 = edges.columns[:2]
    und = (
        edges.select(
            F.least(F.col(u0), F.col(v0)).alias("a"),
            F.greatest(F.col(u0), F.col(v0)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # floor(log2(d)) via binary-representation length — integer-exact, so
    # no engine can disagree at the power-of-two boundaries (float log2
    # of 8 may land at 2.999… under log(x)/log(2))
    bucket = (
        F.length(F.conv(F.col("degree").cast("string"), 10, 2)) - 1
    ).cast("int")
    return deg.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_nodes"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling-mass) restricted to
    the ``seeds`` node set — relevance of every graph entity RELATIVE TO
    a query set, the related-entity ranking primitive (recommendations,
    KG neighborhood expansion, entity-resolution tie-breaks). The power
    iteration of :func:`pagerank` (``_power_iteration``) with teleport
    weight 1/|seeds| on the seeds and 0 elsewhere: deterministic, no RNG,
    no convergence threshold; ranks sum to 1.0 over the seed-reachable
    component, and are all 0.0 when no seed is in the graph. Seeds are a
    driver-side list (a query, not data).
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    return _power_iteration(
        e.withColumn("w", F.lit(1.0)), F.col("node").isin(list(seeds)), iterations, damping
    )


def size_histogram(df: DataFrame, group_col: str) -> DataFrame:
    """Log2-bucketed GROUP-SIZE distribution: how big are the connected
    components / duplicate clusters / conversations — the shape question
    asked of every grouping this engine produces (a giant component in
    the canonicalizer's CC output is the classic over-merge symptom, and
    this is the O(log n)-row probe that catches it). Same integer
    bit-length bucketing as ``degree_histogram`` (float-log2
    boundary-safe).

    Returns (bucket = floor(log2(size)), n_groups, min_size, max_size).

    Scale shape: one map-side-combine group count + one O(log n)-row
    aggregate. NULL group keys form their own group (they represent a
    real data population; dropping them silently would understate the
    histogram).
    """
    sizes = df.groupBy(group_col).agg(F.count("*").alias("sz"))
    bucket = (F.length(F.conv(F.col("sz").cast("string"), 10, 2)) - 1).cast(
        "int"
    )
    return sizes.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_groups"),
        F.min("sz").alias("min_size"),
        F.max("sz").alias("max_size"),
    )


def neighbor_feature_agg(
    edges: DataFrame,
    features: DataFrame,
    feat_col: str,
    node_col: str = "node",
) -> DataFrame:
    """One message-passing round over an undirected 2-column edge table:
    for every node, aggregate its neighbors' ``feat_col`` (count / mean /
    min / max) — the GraphSAGE-style layer primitive, and with degree as
    the feature, the per-node assortativity signal (do high-degree nodes
    attach to high-degree nodes?). Chain calls for multi-hop receptive
    fields; each round is the same fixed plan.

    Scale shape: canonical-pair dedup, neighbor-list expansion (edge
    table ×2 — plan-free union), ONE hash join against the node-sized
    feature table, one groupBy with map-side combine. A celebrity node
    costs its degree in join rows — linear, never quadratic; no window.
    Mean rounds to 6dp (summation-order portability).
    """
    u0, v0 = edges.columns[:2]
    und = (
        edges.select(
            F.least(F.col(u0), F.col(v0)).alias("a"),
            F.greatest(F.col(u0), F.col(v0)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    nb = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    feats = features.select(
        F.col(node_col).alias("nbr"), F.col(feat_col).alias("_f")
    )
    return (
        nb.join(feats, "nbr")
        .groupBy("node")
        .agg(
            F.count("*").alias("n_neighbors"),
            F.round(F.avg("_f"), 6).alias(f"mean_{feat_col}"),
            F.min("_f").alias(f"min_{feat_col}"),
            F.max("_f").alias(f"max_{feat_col}"),
        )
    )


def adjacency_lists(edges: DataFrame) -> DataFrame:
    """Materialize the undirected graph as adjacency lists: one row per
    node with its SORTED neighbor array and degree — the serving-table
    format BFS frontiers, recommendation candidate lookups, and GNN
    samplers read (one point-lookup per node instead of an edge-table
    scan). Sorted arrays make the table byte-deterministic under any
    partitioning.

    Scale shape: canonical-pair dedup + ONE groupBy on the node; a
    celebrity node's array is its degree — bounded by the same caps the
    pair-producing operators already enforce upstream. Write this table
    bucketed by node for O(1) serving lookups.
    """
    u0, v0 = edges.columns[:2]
    und = (
        edges.select(
            F.least(F.col(u0), F.col(v0)).alias("a"),
            F.greatest(F.col(u0), F.col(v0)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    nb = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    return nb.groupBy("node").agg(
        F.array_sort(F.collect_list("nbr")).alias("neighbors"),
        F.count("*").alias("degree"),
    )


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "u",
    dst_col: str = "v",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank: a node's rank flows to its out-neighbors in
    proportion to EDGE WEIGHT (w / Σ out-weights) instead of uniformly —
    the ranking that respects the KG's confidence scores (feed it the
    PMI-weighted co-occurrence edges from ``pipeline.kg.cooc_pmi_edges``
    and central entities are the strongly-associated ones, not merely
    the well-connected ones). Non-positive-weight edges are dropped
    (they would siphon or invert mass).

    The power iteration of :func:`pagerank` (``_power_iteration``) on the
    edge weights. Parallel edges are summed into one
    weighted edge first (multigraph semantics collapse deterministically).
    """
    e = (
        edges.select(
            F.col(src_col).alias("u"),
            F.col(dst_col).alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .filter((F.col("u") != F.col("v")) & (F.col("w") > 0))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    return _power_iteration(e, F.lit(1.0), iterations, damping)


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """HITS hubs & authorities over a directed edge list (string node ids).

    Returns DataFrame(node string, hub double, authority double), both
    scores L2-normalized. Beyond-reference analytics op (the reference's
    graph lives in rdflib; no rank operators): in a transcript KG,
    authorities are the entities many hub-turns point AT (canonical
    chemicals/species), hubs are the connectors (conversations/tools that
    reference many authorities) — the two-sided centrality PageRank's
    single score conflates.

    Scale design: same discipline as :func:`pagerank` —

    - Edge table deduplicated, self-loops dropped, pre-partitioned by src
      and ``localCheckpoint``-ed ONCE; each half-iteration joins only the
      node-sized score table into that fixed partitioning. An iteration's
      two score checkpoints are released once the next iteration's first
      is materialized, and the edge table once the last is.
    - Fixed iteration count (no convergence test) → bit-stable and
      CTE-replayable by the DuckDB oracle.
    - The L2 norm of each new score vector rides the half-iteration's
      checkpoint action as an ``observe()`` metric — exactly one Spark job
      per half-iteration, no separate ``agg().collect()``; the division by
      the norm is a lazy projection over the checkpointed table (no extra
      shuffle, constant-size plan).
    - Nodes with no out-edges have hub 0 after one iteration; no in-edges
      → authority 0 (standard HITS; no dangling correction exists here).
    """
    if iterations < 1:
        raise ValueError(f"hits: iterations must be ≥ 1, got {iterations}")
    e = checkpoint(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .repartition("u")
    )
    nodes = checkpoint(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # init: every node hub=1, authority derived first — matches the oracle
    hubs = nodes.select("node", F.lit(1.0).alias("hub"))
    a_un = h_un = None
    for _ in range(iterations):
        # authority(v) = Σ hub(u) over in-edges, then L2-normalize
        obs_a = Observation()
        nxt = checkpoint(
            e.join(hubs.select(F.col("node").alias("u"), "hub"), "u")
            .groupBy("v")
            .agg(F.sum("hub").alias("s"))
            .observe(obs_a, F.sum(F.col("s") * F.col("s")).alias("n2"))
        )
        if a_un is not None:
            release(a_un, h_un)
        a_un = nxt
        norm_a = float(obs_a.get["n2"] or 0.0) ** 0.5 or 1.0
        auths = a_un.select(
            F.col("v").alias("node"), (F.col("s") / F.lit(norm_a)).alias("authority")
        )
        # hub(u) = Σ authority(v) over out-edges, then L2-normalize
        obs_h = Observation()
        h_un = checkpoint(
            e.join(auths.select(F.col("node").alias("v"), "authority"), "v")
            .groupBy("u")
            .agg(F.sum("authority").alias("s"))
            .observe(obs_h, F.sum(F.col("s") * F.col("s")).alias("n2"))
        )
        norm_h = float(obs_h.get["n2"] or 0.0) ** 0.5 or 1.0
        hubs = h_un.select(
            F.col("u").alias("node"), (F.col("s") / F.lit(norm_h)).alias("hub")
        )
    release(e)
    return (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src_col: str = "u",
    dst_col: str = "v",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted single-source(-set) shortest paths, Bellman-Ford style,
    bounded to paths of at most ``rounds`` edges. Returns (node, dist
    double) for every node reachable within the bound; seeds at 0.0;
    distance = min total weight over all ≤``rounds``-edge paths from any
    seed. The weighted sibling of :func:`bfs_distances` — "how CLOSE is
    this entity" (confidence-weighted KG edges, latency-weighted event
    graphs) rather than "how many hops".

    Directed; pass a pre-reversed / symmetrized edge list for undirected
    semantics. Weights may be any double (the bounded-hop minimum is
    well-defined even with negative edges — there is no negative-cycle
    divergence because the hop count is capped).

    Scale design — the same fixed-round discipline as :func:`pagerank`:

    - Edge table deduplicated to min-weight per (u, v) (parallel edges
      can never beat their cheapest member), pre-partitioned by src and
      checkpointed ONCE; every relaxation round re-shuffles only the
      node-sized distance table onto that fixed layout.
    - One relaxation round = join + ``groupBy(node).min(dist)`` — the min
      combines map-side, so the reduce shuffle carries one row per
      (partition, node), not one per relaxed edge.
    - Fixed ``rounds`` (no convergence test) → bit-stable, one job per
      round, and a chained-CTE oracle replays it exactly.
    - ``localCheckpoint`` per round keeps the plan constant-size; each
      round releases the previous round's distances once its own are
      materialized, and the edge table is released after the last round.
    """
    e = checkpoint(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .repartition("src")
    )
    s0 = seeds.columns[0]
    dist = checkpoint(
        seeds.select(F.col(s0).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
    )
    for _ in range(rounds):
        relaxed = (
            dist.join(e, dist["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        nxt = checkpoint(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        release(dist)
        dist = nxt
    release(e)
    return dist


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 1,
    length: int = 3,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """Deterministic pseudo-random walks over a directed edge list — the
    DeepWalk/node2vec corpus-generation step for KG embeddings, made
    reproducible: at step s, walk w standing at node x moves to the
    out-neighbor y minimizing ``md5(walk_id || ':s:' || y)`` (ties by y).
    Every engine computes the same md5 bytes, so the walk corpus is a
    pure function of the graph — append-stable, resumable, and replayable
    by a chained-CTE oracle — while still mixing like a uniform pick
    (md5 is effectively a per-(walk, step, neighbor) uniform draw).

    Returns (walk_id string, start string, path string, steps int) where
    ``path`` is '>'-joined node ids starting at the seed and ``steps``
    counts edges taken. A walk at a node with no out-edges simply stops
    (its remaining steps append nothing). ``walk_id = node || '#' || i``
    for i in [0, walks_per_node).

    Scale design — the :func:`pagerank` fixed-round shape:

    - Edge table deduplicated and self-loops dropped (a walk stepping to
      itself generates no skip-gram signal); parallel edges collapse —
      the simple-graph convention of the other operators here.
    - Pre-partitioned by src + ``localCheckpoint`` once; each step joins
      the walk-sized frontier into that fixed layout, then the argmin is
      a map-side-combinable ``min(struct(hash, dst))`` groupBy — never a
      per-walk Python loop, never neighbor lists collected to the driver.
    - Fixed ``length`` → constant plan size via per-step checkpoint; each
      step releases the previous step's walks once its own are
      materialized, and the edge table is released after the last step.
    """
    e = checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition("src")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    walks = checkpoint(
        nodes.select(
            "node", F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("_g")
        )
        .select(
            F.concat("node", F.lit("#"), F.col("_g").cast("string")).alias("walk_id"),
            F.col("node").alias("start"),
            F.col("node").alias("cur"),
            F.col("node").alias("path"),
            F.lit(0).alias("steps"),
        )
    )
    for s in range(1, length + 1):
        pick = (
            walks.join(e, walks["cur"] == e["src"])
            .groupBy("walk_id")
            .agg(
                F.min(
                    F.struct(
                        F.md5(
                            F.concat(F.col("walk_id"), F.lit(f":{s}:"), F.col("dst"))
                        ).alias("h"),
                        F.col("dst"),
                    )
                )["dst"].alias("_next")
            )
        )
        nxt = checkpoint(
            walks.join(pick, "walk_id", "left")
            .select(
                "walk_id",
                "start",
                F.coalesce("_next", "cur").alias("cur"),
                F.when(
                    F.col("_next").isNotNull(),
                    F.concat("path", F.lit(">"), F.col("_next")),
                )
                .otherwise(F.col("path"))
                .alias("path"),
                F.when(F.col("_next").isNotNull(), F.col("steps") + 1)
                .otherwise(F.col("steps"))
                .alias("steps"),
            )
        )
        release(walks)
        walks = nxt
    release(e)
    return walks.select("walk_id", "start", "path", "steps")


def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram training pairs from a walk corpus (the node2vec/DeepWalk
    step after :func:`random_walks`): every ordered (center, context)
    node pair within ``window`` positions on some walk, with its corpus
    multiplicity ``cnt`` — exactly the (word, context, count) table a
    distributed SGNS/GloVe-style embedding trainer consumes.

    Input: (walk_id, path) with '>'-joined node ids. Returns (center,
    context, cnt long), center ≠ context positions (a node CAN co-occur
    with itself if it reappears along the walk — that is real signal and
    is kept).

    Scale shape: one posexplode, one same-walk self-equi-join bounded by
    walk length (a constant, so the per-key blow-up is ≤ L·(2·window) —
    NOT a data-dependent quadratic), one map-side-combined count. The
    aggregated output is what ships; raw pairs never materialize beyond
    the shuffle.
    """
    toks = walks.select(
        "walk_id", F.posexplode(F.split("path", ">")).alias("pos", "node")
    )
    a = toks.select("walk_id", F.col("pos").alias("pa"), F.col("node").alias("center"))
    b = toks.select("walk_id", F.col("pos").alias("pb"), F.col("node").alias("context"))
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("pa") != F.col("pb"))
            & (F.abs(F.col("pa") - F.col("pb")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
