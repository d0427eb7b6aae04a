"""Read-path tests (Q1-Q14) including the flagship star join vs a
pandas-side oracle built from the same fixtures."""

import pandas as pd
import pytest

from tera_spark.constants import NS_ECOTOX, NS_UNIT
from tera_spark.operators import query_api as Q
from tera_spark.operators.extract.effects import (
    clean_results,
    clean_tests,
    effects_graph,
)
from tests.test_effects import RESULTS_ROWS, TESTS_ROWS, _spark_df

T_SCHEMA = "subject string, predicate string, object string, obj_is_literal boolean"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
SUBPROP = "http://www.w3.org/2002/07/owl#subPropertyOf"


def g(spark, rows):
    return spark.createDataFrame(rows, T_SCHEMA)


def test_query_type_child_parent_label(spark):
    gr = g(
        spark,
        [
            ("a", RDF_TYPE, "T", False),
            ("b", RDF_TYPE, "T", False),
            ("c", SUB, "a", False),
            ("a", SUB, "root", False),
            ("a", LABEL, "Alpha", True),
        ],
    )
    assert {r.s for r in Q.query_type(gr, "T").collect()} == {"a", "b"}
    assert {r.s for r in Q.query_child(gr, "a").collect()} == {"c"}
    assert {r.s for r in Q.query_parent(gr, "a").collect()} == {"root"}
    assert {r.s for r in Q.query_label(gr, "Alpha").collect()} == {"a"}


def test_query_alt_labels(spark):
    gr = g(
        spark,
        [
            ("p1", SUBPROP, LABEL, False),
            ("e", "p1", "Name1", True),
            ("e", "p2", "Name2", True),  # p2 not a label property
            ("e", "p1", "iri-obj", False),  # not a literal
        ],
    )
    out = {(r.p, r.s) for r in Q.query_alt_labels(gr, "e").collect()}
    assert out == {("p1", "Name1")}


def test_siblings_and_closure(spark):
    gr = g(
        spark,
        [
            ("child1", SUB, "parent", False),
            ("child2", SUB, "parent", False),
            ("gchild", SUB, "child1", False),
            ("parent", SUB, "root", False),
        ],
    )
    sib = {r.s for r in Q.query_siblings(gr, "child1", depth=1).collect()}
    assert sib == {"child2"}
    closure = {r.s for r in Q.query_siblings(gr, "gchild", depth=-1).collect()}
    assert closure == {"child1", "child2", "parent", "root"}


def test_siblings_closure_raises_at_max_iter(spark):
    # a 3-level chain needs two rounds to reach the root; one round would
    # return a truncated closure
    gr = g(spark, [("c0", SUB, "c1", False), ("c1", SUB, "c2", False)])
    with pytest.raises(RuntimeError, match="max_iter=1"):
        Q.query_siblings(gr, "c0", depth=-1, max_iter=1).collect()


def test_construct_subgraph_bfs(spark):
    gr = g(
        spark,
        [
            ("a", "p", "b", False),
            ("b", "p", "c", False),
            ("b", LABEL, "B!", True),
            ("z", "p", "zz", False),  # unreachable
        ],
    )
    seeds = spark.createDataFrame([("a",)], "s string")
    out = Q.construct_subgraph(gr, seeds)
    assert out.count() == 3
    assert {r.subject for r in out.collect()} == {"a", "b"}


def test_compounds_prefix_scan(spark):
    gr = g(spark, [("http://pc/CID1", "p", "x", False), ("http://other/1", "p", "y", False)])
    assert {r.s for r in Q.compounds(gr, "http://pc/").collect()} == {"http://pc/CID1"}


# --- flagship: get_endpoint vs pandas oracle --------------------------------
def _endpoint_oracle():
    """Pandas port of the SPARQL star (DataAccess.py:976-994) over the
    cleaned fixture rows: inner block requires cc AND cu; OPTIONAL needs
    both sd and sdu."""
    from tera_spark.functions.units import unit_parser
    from tests.oracles.effects_oracle import clean_rows
    from tests.test_effects import RESULTS_ROWS, TESTS_ROWS

    ns = NS_ECOTOX
    tests = clean_rows(
        TESTS_ROWS,
        ["test_id", "test_cas", "species_number", "study_duration_mean",
         "study_duration_unit", "organism_habitat", "organism_lifestage",
         "organism_age_mean", "organism_age_unit", "organism_init_wt_mean",
         "organism_init_wt_unit"],
        ["test_id", "test_cas", "species_number"],
    )
    results = clean_rows(
        RESULTS_ROWS,
        ["test_id", "endpoint", "conc1_mean", "conc1_unit", "effect"],
        ["test_id", "endpoint", "conc1_mean", "conc1_unit", "effect"],
    )
    out = set()
    for r in results:
        for t_ in tests:
            if t_["test_id"] != r["test_id"]:
                continue
            digits = "".join(filter(str.isdigit, r["conc1_mean"]))
            if not digits:
                continue
            pu = unit_parser(r["conc1_unit"]) if r["conc1_unit"] != "missing" else ""
            if not pu:
                continue
            sd = sdu = None
            if t_["study_duration_mean"] != "missing" and t_["study_duration_unit"] != "missing":
                spu = unit_parser(t_["study_duration_unit"])
                if spu:
                    sd = t_["study_duration_mean"]
                    sdu = NS_UNIT + spu
            out.add(
                (
                    ns + "cas/" + t_["test_cas"],
                    ns + "taxon/" + t_["species_number"],
                    digits,
                    NS_UNIT + pu,
                    ns + "endpoint/" + r["endpoint"],
                    ns + "effect/" + r["effect"],
                    sd,
                    sdu,
                )
            )
    return out


def test_get_endpoint_star_join(spark):
    graph = effects_graph(_spark_df(spark, TESTS_ROWS), _spark_df(spark, RESULTS_ROWS))
    got = {
        (r.c, r.s, r.cc, r.cu, r.ep, r.ef, r.sd, r.sdu)
        for r in Q.get_endpoint(graph, NS_ECOTOX).collect()
    }
    assert got == _endpoint_oracle()


def test_get_endpoint_pairs_semijoin(spark):
    graph = effects_graph(_spark_df(spark, TESTS_ROWS), _spark_df(spark, RESULTS_ROWS))
    ns = NS_ECOTOX
    pairs = spark.createDataFrame(
        [(ns + "cas/50000", ns + "taxon/101")], "c string, s string"
    )
    got = Q.get_endpoint(graph, ns, pairs=pairs)
    assert got.count() > 0
    assert all(r.c == ns + "cas/50000" for r in got.collect())


def test_relational_equals_star_join(spark):
    """J1 fast path ≡ J8 graph star join on the same inputs."""
    from tera_spark.operators.extract.effects import get_endpoint_relational

    tests = clean_tests(_spark_df(spark, TESTS_ROWS))
    results = clean_results(_spark_df(spark, RESULTS_ROWS))
    rel = {tuple(r) for r in get_endpoint_relational(tests, results).collect()}
    graph = effects_graph(_spark_df(spark, TESTS_ROWS), _spark_df(spark, RESULTS_ROWS))
    star = {tuple(r) for r in Q.get_endpoint(graph, NS_ECOTOX).collect()}
    assert rel == star


def test_get_chemicals_and_species(spark):
    graph = effects_graph(_spark_df(spark, TESTS_ROWS), _spark_df(spark, RESULTS_ROWS))
    ns = NS_ECOTOX
    chems = {r.c for r in Q.get_chemicals(graph, ns).collect()}
    assert ns + "cas/50000" in chems and ns + "cas/50003" in chems
    species = {r.c for r in Q.get_species(graph, ns).collect()}
    assert ns + "taxon/101" in species
    from_species = Q.get_chemicals_from_species(
        graph, ns, spark.createDataFrame([(ns + "taxon/101",)], "s string")
    )
    assert {r.c for r in from_species.collect()} == {ns + "cas/50000"}


def test_lowest_common_ancestor_binary_tree(spark):
    from tera_spark.constants import RDFS_SUBCLASSOF
    from tera_spark.operators.query_api import lowest_common_ancestor

    # binary tree: k subClassOf k//2, rooted at 1
    g = spark.createDataFrame(
        [(str(k), RDFS_SUBCLASSOF, str(k // 2), False) for k in range(2, 32)],
        "subject string, predicate string, object string, obj_is_literal boolean",
    )
    pairs = spark.createDataFrame(
        [("12", "13"), ("12", "7"), ("8", "9"), ("5", "5"), ("20", "21")],
        "a string, b string",
    )
    got = {(r.a, r.b): (r.lca, r.depth_a, r.depth_b, r.dist)
           for r in lowest_common_ancestor(g, pairs, max_depth=10).collect()}
    assert got[("12", "13")] == ("6", 1, 1, 2)    # siblings
    assert got[("12", "7")] == ("3", 2, 1, 3)     # cousin/uncle via 6→3
    assert got[("8", "9")] == ("4", 1, 1, 2)
    assert got[("5", "5")] == ("5", 0, 0, 0)      # identical pair
    assert got[("20", "21")] == ("10", 1, 1, 2)


def test_lca_disjoint_forest_absent(spark):
    from tera_spark.constants import RDFS_SUBCLASSOF
    from tera_spark.operators.query_api import lowest_common_ancestor

    g = spark.createDataFrame(
        [("a1", RDFS_SUBCLASSOF, "ra", False), ("b1", RDFS_SUBCLASSOF, "rb", False)],
        "subject string, predicate string, object string, obj_is_literal boolean",
    )
    pairs = spark.createDataFrame([("a1", "b1"), ("a1", "ra")], "a string, b string")
    got = {(r.a, r.b): r.lca for r in lowest_common_ancestor(g, pairs, max_depth=5).collect()}
    assert ("a1", "b1") not in got          # different trees → no row
    assert got[("a1", "ra")] == "ra"        # ancestor pair → the ancestor


def test_taxonomy_similarity_wu_palmer(spark):
    from tera_spark.constants import RDFS_SUBCLASSOF
    from tera_spark.operators.query_api import taxonomy_similarity

    g = spark.createDataFrame(
        [(str(k), RDFS_SUBCLASSOF, str(k // 2), False) for k in range(2, 16)],
        "subject string, predicate string, object string, obj_is_literal boolean",
    )
    pairs = spark.createDataFrame(
        [("12", "13"), ("12", "3"), ("8", "15"), ("1", "1")], "a string, b string"
    )
    got = {(r.a, r.b): (r.lca, r.dist, r.wup)
           for r in taxonomy_similarity(g, pairs, max_depth=8).collect()}
    # siblings 12,13 under 6: root depths 3,3; lca depth 2 → 2*2/6
    assert got[("12", "13")] == ("6", 2, round(4 / 6, 6))
    # 12 vs its grandparent 3: lca=3 (root depth 1) → 2*1/(3+1)
    assert got[("12", "3")] == ("3", 2, 0.5)
    # 8 (depth 3) vs 15 (depth 3), lca=1 (root) → 0 similarity numerator
    assert got[("8", "15")] == ("1", 6, 0.0)
    # root self-pair: 0/0 band → defined as 1.0
    assert got[("1", "1")] == ("1", 0, 1.0)


def test_taxonomy_similarity_multi_parent_dag(spark):
    """wup in a multi-parent subClassOf DAG: depth_root(lca) must be the
    LCA's OWN measured chain depth, not the tree-only rd_a − depth_a
    derivation (which here would claim rd_lca = 4 − 1 = 3 and report a
    saturated wup of 1.0 for two clearly non-identical nodes)."""
    from tera_spark.constants import RDFS_SUBCLASSOF
    from tera_spark.operators.query_api import taxonomy_similarity

    # A has two routes to root R: short (A→X→R) and long (A→Y→Y2→Z→R),
    # so rd_A = 4 (longest chain) while the lca X has rd_X = 1.
    edges = [
        ("A", "X"), ("X", "R"),
        ("A", "Y"), ("Y", "Y2"), ("Y2", "Z"), ("Z", "R"),
        ("B", "X"),
    ]
    g = spark.createDataFrame(
        [(c, RDFS_SUBCLASSOF, p, False) for c, p in edges],
        "subject string, predicate string, object string, obj_is_literal boolean",
    )
    pairs = spark.createDataFrame([("A", "B")], "a string, b string")
    r = taxonomy_similarity(g, pairs, max_depth=8).collect()[0]
    assert (r.lca, r.dist) == ("X", 2)
    # rd_A=4 (via Y chain), rd_B=2, rd_X=1 → wup = 2·1/(4+2)
    assert r.wup == round(2 / 6, 6)
    assert 0.0 <= r.wup <= 1.0
