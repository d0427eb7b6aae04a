"""Graph read API — Q1-Q14 (SURVEY.md §2.8), over the ``triples`` DataFrame.

The reference dispatches template SPARQL to rdflib or a remote endpoint
(/root/reference/tera/DataAccess.py:86-105); every query it actually runs
is a fixed-shape BGP, so each becomes a declarative DataFrame expression —
Catalyst plans the joins, pushes the constant filters into the scan, and
broadcasts the small sides.

Batched by construction: where the reference loops one URI at a time
(``do_recursively_in_class``, utils.py:361-381) or re-queries per
(chemical, species) pair (DataAccess.py:995-1022), these functions take
whole DataFrames of bindings and answer with joins — the per-pair loop
J9 collapses into one semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tera_spark.checkpoints import checkpoint, closure
from tera_spark.constants import (
    NS_UNIT,
    OWL_SUBPROPERTYOF,
    RDF_TYPE,
    RDF_VALUE,
    RDFS_LABEL,
    RDFS_SUBCLASSOF,
)


def _s(g: DataFrame, pred: str, obj: str | None = None) -> DataFrame:
    out = g.filter(F.col("predicate") == pred)
    if obj is not None:
        out = out.filter(F.col("object") == obj)
    return out


def query_type(g: DataFrame, t: str) -> DataFrame:
    """Q1: ``?s rdf:type <t>`` (DataAccess.py:107-124)."""
    return _s(g, RDF_TYPE, t).select(F.col("subject").alias("s")).distinct()


def query_child(g: DataFrame, t: str) -> DataFrame:
    """Q2: ``?s rdfs:subClassOf <t>`` (DataAccess.py:126-143)."""
    return _s(g, RDFS_SUBCLASSOF, t).select(F.col("subject").alias("s")).distinct()


def query_parent(g: DataFrame, t: str) -> DataFrame:
    """Q3: ``<t> rdfs:subClassOf ?s`` (DataAccess.py:163-179)."""
    return (
        g.filter((F.col("subject") == t) & (F.col("predicate") == RDFS_SUBCLASSOF))
        .select(F.col("object").alias("s"))
        .distinct()
    )


def query_label(g: DataFrame, label: str) -> DataFrame:
    """Q4: ``?s rdfs:label "label"`` (DataAccess.py:145-161)."""
    return (
        _s(g, RDFS_LABEL)
        .filter(F.col("object") == label)
        .select(F.col("subject").alias("s"))
        .distinct()
    )


def query_alt_labels(g: DataFrame, t: str) -> DataFrame:
    """Q6/J12 (DataAccess.py:213-230): literal objects of ``t`` via
    properties that are ``subPropertyOf rdfs:label``. Label-property set is
    tiny → broadcast semi-join."""
    label_props = (
        _s(g, OWL_SUBPROPERTYOF, RDFS_LABEL)
        .select(F.col("subject").alias("p"))
        .distinct()
    )
    return (
        g.filter((F.col("subject") == t) & F.col("obj_is_literal"))
        .join(F.broadcast(label_props), F.col("predicate") == F.col("p"), "inner")
        .select(F.col("predicate").alias("p"), F.col("object").alias("s"))
        .distinct()
    )


def subclass_step(g: DataFrame, frontier: DataFrame, up: bool = True) -> DataFrame:
    """One ``rdfs:subClassOf`` hop for a frontier of ids (column ``s``)."""
    sub = _s(g, RDFS_SUBCLASSOF)
    if up:
        return (
            sub.join(frontier, sub["subject"] == frontier["s"], "left_semi")
            .select(F.col("object").alias("s"))
            .distinct()
        )
    return (
        sub.join(frontier, sub["object"] == frontier["s"], "left_semi")
        .select(F.col("subject").alias("s"))
        .distinct()
    )


def subclass_closure(
    g: DataFrame, seeds: DataFrame, up: bool = True, max_iter: int = 25
) -> DataFrame:
    """Transitive ``rdfs:subClassOf`` closure (depth=-1 of Q5), seeds
    included: ``checkpoints.closure`` over ``subclass_step``. Converges in
    O(hierarchy depth) rounds; raises ``RuntimeError`` if ``max_iter``
    rounds do not reach the fixpoint."""
    return closure(
        seeds.select("s").distinct(),
        lambda frontier: subclass_step(g, frontier, up=up),
        ["s"],
        max_iter,
    )


def query_siblings(g: DataFrame, t: str, depth: int = 1, max_iter: int = 25) -> DataFrame:
    """Q5 with the *intended* semantics (the reference's implementation is
    broken — returns an undefined variable, DataAccess.py:181-211; SURVEY.md
    §8 item 1): go ``depth`` hops up, then ``depth`` hops down, excluding
    ``t`` itself. ``depth=-1`` = full closure both ways."""
    spark = g.sparkSession
    seeds = spark.createDataFrame([(t,)], "s string")
    if depth == -1:
        ancestors = subclass_closure(g, seeds, up=True, max_iter=max_iter)
        out = subclass_closure(g, ancestors, up=False, max_iter=max_iter)
    else:
        up = seeds
        for _ in range(depth):
            up = subclass_step(g, up, up=True)
        out = up
        for _ in range(depth):
            out = subclass_step(g, out, up=False)
    return out.filter(F.col("s") != t).distinct()


def construct_subgraph(g: DataFrame, seeds: DataFrame, max_iter: int = 25) -> DataFrame:
    """Q7/J10 (DataAccess.py:232-260): BFS over outgoing edges from seed
    entities; returns the triples whose subject it reaches. The reached
    node set is a ``checkpoints.closure`` (literals are terminal nodes),
    then one semi-join of the graph on ``subject``; raises
    ``RuntimeError`` if ``max_iter`` rounds do not reach the fixpoint."""
    nodes = closure(
        seeds.select("s").distinct(),
        lambda frontier: g.join(frontier, g["subject"] == frontier["s"], "left_semi")
        .filter(~F.col("obj_is_literal"))
        .select(F.col("object").alias("s"))
        .distinct(),
        ["s"],
        max_iter,
    )
    return g.join(nodes, g["subject"] == nodes["s"], "left_semi").dropDuplicates(
        ["subject", "predicate", "object"]
    )


def compounds(g: DataFrame, prefix: str) -> DataFrame:
    """Q10 (DataAccess.py:642-655): prefix scan over subjects."""
    return (
        g.filter(F.col("subject").startswith(prefix))
        .select(F.col("subject").alias("s"))
        .distinct()
    )


# --------------------------------------------------------------------------
# Effects read path (Q12-Q14 / J1/J8/J9)
# --------------------------------------------------------------------------
def get_chemicals_from_species(g: DataFrame, ns: str, species: DataFrame) -> DataFrame:
    """Q12 (DataAccess.py:882-902), batched: species is a DataFrame with
    column ``s`` instead of a per-URI loop."""
    tests = query_type(g, ns + "Test").withColumnRenamed("s", "test")
    sp = _s(g, ns + "species").select(
        F.col("subject").alias("test"), F.col("object").alias("s")
    )
    ch = _s(g, ns + "chemical").select(
        F.col("subject").alias("test"), F.col("object").alias("c")
    )
    return (
        sp.join(species, "s", "left_semi")
        .join(tests, "test", "left_semi")
        .join(ch, "test", "inner")
        .select("c")
        .distinct()
    )


def get_chemicals(g: DataFrame, ns: str) -> DataFrame:
    """Q13 (DataAccess.py:926-939)."""
    tests = query_type(g, ns + "Test").withColumnRenamed("s", "test")
    ch = _s(g, ns + "chemical").select(
        F.col("subject").alias("test"), F.col("object").alias("c")
    )
    return ch.join(tests, "test", "left_semi").select("c").distinct()


def get_species(g: DataFrame, ns: str) -> DataFrame:
    """Q13 (DataAccess.py:941-954)."""
    tests = query_type(g, ns + "Test").withColumnRenamed("s", "test")
    sp = _s(g, ns + "species").select(
        F.col("subject").alias("test"), F.col("object").alias("c")
    )
    return sp.join(tests, "test", "left_semi").select("c").distinct()


def get_endpoint(
    g: DataFrame, ns: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Q14/J8 — the flagship star join (DataAccess.py:956-1023)::

        SELECT ?c ?s ?cc ?cu ?ep ?ef ?sd ?sdu WHERE {
          ?test rdf:type ns:Test ; ns:chemical ?c ; ns:species ?s ;
                ns:hasResult [ ns:endpoint ?ep ; ns:effect ?ef ;
                               ns:concentration [ rdf:value ?cc ;
                                                  unit:units ?cu ] ] .
          OPTIONAL { ?test ns:studyDuration [ rdf:value ?sd ;
                                              unit:units ?sdu ] . } }

    Physical shape: the predicate filters carve the triple table into
    narrow edge tables (each scan prunes on ``predicate`` — partition the
    materialized graph by predicate and these become partition-pruned
    scans); the star is equi-joins on the shared subject. The OPTIONAL
    block is a left join (SPARQL OPTIONAL ≡ left outer). The reference's
    per-(c,s) query loop (J9, O(|c|·|s|) full-graph queries) is replaced by
    one semi-join against ``pairs`` (columns c, s).
    """
    unit_units = NS_UNIT + "units"

    def edge(pred: str, src: str, dst: str) -> DataFrame:
        return _s(g, pred).select(
            F.col("subject").alias(src), F.col("object").alias(dst)
        )

    tests = query_type(g, ns + "Test").withColumnRenamed("s", "test")
    chem = edge(ns + "chemical", "test", "c")
    spec = edge(ns + "species", "test", "s")
    has_result = edge(ns + "hasResult", "test", "r")
    endpoint = edge(ns + "endpoint", "r", "ep")
    effect = edge(ns + "effect", "r", "ef")
    conc = edge(ns + "concentration", "r", "b")
    conc_val = edge(RDF_VALUE, "b", "cc")
    conc_unit = edge(unit_units, "b", "cu")

    sd_block = (
        edge(ns + "studyDuration", "test", "bd")
        .join(edge(RDF_VALUE, "bd", "sd"), "bd")
        .join(edge(unit_units, "bd", "sdu"), "bd")
        .select("test", "sd", "sdu")
    )

    core = (
        tests.join(chem, "test")
        .join(spec, "test")
        .join(has_result, "test")
        .join(endpoint, "r")
        .join(effect, "r")
        .join(conc, "r")
        .join(conc_val, "b")
        .join(conc_unit, "b")
    )
    out = core.join(sd_block, "test", "left").select(
        "c", "s", "cc", "cu", "ep", "ef", "sd", "sdu"
    )
    if pairs is not None:
        out = out.join(F.broadcast(pairs.select("c", "s").distinct()), ["c", "s"], "left_semi")
    return out.distinct()


def _parents(g: DataFrame) -> DataFrame:
    """The ``rdfs:subClassOf`` edges as (child, parent), checkpointed and
    partitioned by child for the ancestor climb."""
    return checkpoint(
        _s(g, RDFS_SUBCLASSOF)
        .select(F.col("subject").alias("child"), F.col("object").alias("parent"))
        .filter(F.col("child") != F.col("parent"))
        .dropDuplicates(["child", "parent"])
        .repartition("child")
    )


def _climb(parents: DataFrame, nodes: DataFrame, max_depth: int) -> DataFrame:
    """(node, anc, depth) for every route of ``depth`` ≤ ``max_depth`` hops
    from each node of ``nodes`` up ``parents`` to an ancestor ``anc``,
    every node its own depth-0 ancestor; a multi-parent DAG keeps every
    route, so each caller picks its own aggregate. Bounded join rounds of
    the (frontier-sized) chain table against the parent table, one lazy
    checkpoint per round. Not a ``checkpoints.closure``: the climb keeps
    every route rather than a visited set, so an anti-join per round would
    buy nothing, and a climb on ``closure`` made the LCA and Wu–Palmer
    leaves 1.1–1.5× slower on an interleaved A/B."""
    anc = nodes.select("node", F.col("node").alias("anc"), F.lit(0).alias("depth"))
    frontier = anc
    for d in range(1, max_depth + 1):
        frontier = checkpoint(
            frontier.join(parents, frontier["anc"] == parents["child"])
            .select("node", F.col("parent").alias("anc"), F.lit(d).alias("depth")),
            eager=False,
        )
        if frontier.isEmpty():
            break
        anc = anc.unionByName(frontier)
    return anc


def _lca(parents: DataFrame, pairs: DataFrame, max_depth: int) -> DataFrame:
    """``lowest_common_ancestor`` over a ``_parents`` table."""
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .distinct()
    )
    # DAG safety: keep the cheapest route to each ancestor
    anc = (
        _climb(parents, nodes, max_depth)
        .groupBy("node", "anc")
        .agg(F.min("depth").alias("depth"))
    )
    aa = anc.select(F.col("node").alias("a"), "anc", F.col("depth").alias("da"))
    ab = anc.select(F.col("node").alias("b"), "anc", F.col("depth").alias("db"))
    cand = (
        pairs.join(aa, "a")
        .join(ab, ["b", "anc"])
        .select("a", "b", "anc", "da", "db", (F.col("da") + F.col("db")).alias("dist"))
    )
    best = (
        cand.groupBy("a", "b")
        .agg(
            F.min(
                F.struct(
                    F.col("dist"), F.col("anc"), F.col("da"), F.col("db")
                )
            ).alias("_m")
        )
    )
    return best.select(
        "a",
        "b",
        F.col("_m.anc").alias("lca"),
        F.col("_m.da").alias("depth_a"),
        F.col("_m.db").alias("depth_b"),
        F.col("_m.dist").alias("dist"),
    )


def lowest_common_ancestor(
    g: DataFrame, pairs: DataFrame, max_depth: int = 25
) -> DataFrame:
    """Batched lowest-common-ancestor + taxonomy distance over the
    ``rdfs:subClassOf`` hierarchy — the primitive behind taxonomy-based
    species similarity (the reference walks one ancestor chain at a time
    in Python, utils.py ``do_recursively_in_class``-style; this answers
    a whole DataFrame of pairs with joins).

    ``pairs`` is (a, b) of class URIs. Returns one row per input pair
    that HAS a common ancestor: (a, b, lca, depth_a, depth_b, dist)
    where depth_x is the hop count from x up to the lca and
    dist = depth_a + depth_b (the standard taxonomy path distance
    through the LCA). Pairs with no shared ancestor (forest roots in
    different trees) are absent. The LCA is selected per pair as the
    common ancestor minimizing ``dist`` (unique in a tree — every
    shallower common ancestor is ABOVE the true LCA on both chains, so
    it costs strictly more hops; ties, possible only in a subClassOf
    DAG with multiple parents, break on the lexicographically smallest
    ancestor URI for determinism).

    Scale shape: ancestor chains are built ONLY for the node set the
    pairs mention (frontier-sized, never hierarchy-sized) by a
    ``max_depth``-bounded climb (``_climb``) against the checkpointed
    parent table; the per-pair argmin is one map-side-combinable
    ``min(struct(dist, lca))`` groupBy. A node's chain stops at its root;
    multi-parent DAGs keep the MIN depth per (node, ancestor).
    """
    return _lca(_parents(g), pairs, max_depth)


def taxonomy_similarity(
    g: DataFrame, pairs: DataFrame, max_depth: int = 25
) -> DataFrame:
    """Wu-Palmer taxonomy similarity for a pair table:
    wup = 2·depth_root(lca) / (depth_root(a) + depth_root(b)) ∈ (0, 1],
    the classic taxonomy-distance similarity (the reference's
    species-similarity use case for its NCBI hierarchy). Builds on
    :func:`lowest_common_ancestor`; root depths come from one bounded
    ancestor climb seeded with the pair endpoints AND the LCA nodes, so
    depth_root(lca) is measured directly from the LCA's own chain
    rather than derived as rd_a − depth_a — the derived form is only
    valid in a strict tree, and in a multi-parent subClassOf DAG (or
    when ``max_depth`` truncates one side's chain) the a-side and
    b-side derivations can disagree and push wup outside (0, 1].
    As a belt-and-braces guard against residual ``max_depth``
    truncation asymmetry, wup is clamped to (0, 1].

    Returns (a, b, lca, dist, wup) — dist is the LCA path distance,
    wup rounded to 6. Pairs without a common ancestor are absent.
    Self-pairs at the root (root depth 0 both sides) would divide 0/0
    and are emitted with wup 1.0 (identical nodes are maximally
    similar by definition).
    """
    parents = _parents(g)
    lca = _lca(parents, pairs, max_depth)
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .unionByName(lca.select(F.col("lca").alias("node")))
        .distinct()
    )
    # root depth per node: length of its longest (bounded) parent chain
    rootd = (
        _climb(parents, nodes, max_depth)
        .groupBy("node")
        .agg(F.max("depth").alias("rd"))
    )
    ra = rootd.select(F.col("node").alias("a"), F.col("rd").alias("rd_a"))
    rb = rootd.select(F.col("node").alias("b"), F.col("rd").alias("rd_b"))
    rl = rootd.select(F.col("node").alias("lca"), F.col("rd").alias("rd_lca"))
    out = lca.join(ra, "a").join(rb, "b").join(rl, "lca")
    wup = F.when(
        (F.col("rd_a") + F.col("rd_b")) == 0, F.lit(1.0)
    ).otherwise(
        F.least(
            F.lit(1.0),
            2.0 * F.col("rd_lca") / (F.col("rd_a") + F.col("rd_b")),
        )
    )
    return out.select("a", "b", "lca", "dist", F.round(wup, 6).alias("wup"))
