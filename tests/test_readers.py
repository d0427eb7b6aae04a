"""Reader/format tests against self-authored fixture files in the
reference's on-disk formats (SURVEY.md §2.1)."""

import pytest

from tera_spark.sources.readers import (
    clean_strings,
    read_csv_schema_fallback,
    read_dmp,
    read_logmap_txt,
    read_mapping_csv,
    read_ntriples,
    read_pc_ttl,
    read_pipe_csv,
)


def test_read_dmp(spark, tmp_path):
    p = tmp_path / "nodes.dmp"
    p.write_text("1\t|\t1\t|\tno rank\t|\t\t|\t8\t|\n2\t|\t131567\t|\tsuperkingdom\t|\t\t|\t0\t|\n")
    df = read_dmp(spark, str(p), {0: "child", 1: "parent", 2: "rank", 4: "division"})
    rows = clean_strings(df, drop_subset=["child"]).collect()
    assert [(r.child, r.parent, r.rank, r.division) for r in rows] == [
        ("1", "1", "no rank", "8"),
        ("2", "131567", "superkingdom", "0"),
    ]


def test_read_pipe_csv(spark, tmp_path):
    p = tmp_path / "species.txt"
    p.write_text("species_number|common_name|latin_name\n1|Minnow|Pimephales promelas\n")
    df = read_pipe_csv(spark, str(p), ["species_number", "latin_name"])
    assert df.columns == ["species_number", "latin_name"]
    assert df.collect()[0].latin_name == "Pimephales promelas"


def test_read_csv_schema_fallback(spark, tmp_path):
    with_header = tmp_path / "a.csv"
    with_header.write_text("child,parent\nhttp://e/1,http://e/2\n")
    headerless = tmp_path / "b.csv"
    headerless.write_text("http://e/2,http://e/3\n")
    a = read_csv_schema_fallback(spark, str(with_header)).collect()
    assert (a[0].child, a[0].parent) == ("http://e/1", "http://e/2")
    b = read_csv_schema_fallback(spark, str(headerless)).collect()
    # headerless variant is (parent, child) — reference behavior
    assert (b[0].child, b[0].parent) == ("http://e/3", "http://e/2")


def test_read_ntriples(spark, tmp_path):
    p = tmp_path / "x.nt"
    p.write_text(
        '<http://e/s> <http://e/p> <http://e/o> .\n'
        '<http://e/s> <http://e/label> "a \\"quoted\\" name" .\n'
        "junk line\n"
    )
    rows = read_ntriples(spark, str(p)).collect()
    assert len(rows) == 2
    by_pred = {r.predicate: r for r in rows}
    assert by_pred["http://e/p"].object == "http://e/o"
    assert not by_pred["http://e/p"].obj_is_literal
    assert by_pred["http://e/label"].object == 'a "quoted" name'
    assert by_pred["http://e/label"].obj_is_literal


def test_read_pc_ttl(spark, tmp_path):
    p = tmp_path / "pc.ttl"
    p.write_text(
        "@prefix vocab:\t<http://rdf.ncbi.nlm.nih.gov/pubchem/vocabulary#> .\n"
        "@prefix compound:\t<http://rdf.ncbi.nlm.nih.gov/pubchem/compound/> .\n"
        "compound:CID1\tvocab:has_parent\tcompound:CID2 .\n"
    )
    rows = read_pc_ttl(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.subject == "http://rdf.ncbi.nlm.nih.gov/pubchem/compound/CID1"
    assert r.predicate == "http://rdf.ncbi.nlm.nih.gov/pubchem/vocabulary#has_parent"
    assert r.object == "http://rdf.ncbi.nlm.nih.gov/pubchem/compound/CID2"


def test_read_ttl_lines_general(spark, tmp_path):
    """Beyond the pc profile: SPARQL-style PREFIX, empty prefix, <iri>
    terms, 'a' shorthand, quoted literals with escapes/@lang/^^type,
    bare numerics, and comment/blank lines."""
    from tera_spark.constants import RDF_TYPE
    from tera_spark.sources.readers import read_ttl_lines

    p = tmp_path / "gen.ttl"
    p.write_text(
        "@prefix ex: <http://e.org/> .\n"
        "PREFIX x: <http://x.org/#>\n"
        "@prefix : <http://default.org/> .\n"
        "\n"
        "# a comment line\n"
        "ex:s1 x:p1 ex:o1 .\n"
        "<http://raw.org/s2> a ex:Thing .\n"
        ':s3 ex:label "a \\"quoted\\" name" .\n'
        "ex:s4 ex:lang \"bonjour\"@fr .\n"
        "ex:s5 ex:typed \"42\"^^<http://www.w3.org/2001/XMLSchema#int> .\n"
        "ex:s6 ex:count 17 .\n"
    )
    rows = {r.subject: r for r in read_ttl_lines(spark, str(p)).collect()}
    assert len(rows) == 6
    assert rows["http://e.org/s1"].predicate == "http://x.org/#p1"
    assert rows["http://e.org/s1"].object == "http://e.org/o1"
    assert not rows["http://e.org/s1"].obj_is_literal
    assert rows["http://raw.org/s2"].predicate == RDF_TYPE
    assert rows["http://default.org/s3"].object == 'a "quoted" name'
    assert rows["http://default.org/s3"].obj_is_literal
    assert rows["http://e.org/s4"].object == "bonjour"
    assert rows["http://e.org/s5"].object == "42"
    assert rows["http://e.org/s6"].object == "17"
    assert rows["http://e.org/s6"].obj_is_literal


def test_read_ttl_lines_rejects_multiline_constructs(spark, tmp_path):
    import pytest

    from tera_spark.sources.readers import read_ttl_lines

    p = tmp_path / "multi.ttl"
    p.write_text(
        "@prefix ex: <http://e.org/> .\n"
        "ex:s1 ex:p ex:o1 ;\n"
        "      ex:q ex:o2 .\n"
    )
    with pytest.raises(ValueError, match="line-oriented"):
        read_ttl_lines(spark, str(p))

    p2 = tmp_path / "undeclared.ttl"
    p2.write_text("ex:s1 ex:p ex:o1 .\n")
    with pytest.raises(ValueError, match="undeclared prefix"):
        read_ttl_lines(spark, str(p2))


def test_read_mapping_csv(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text("from,to\nIK1,50-00-0\n")
    r = read_mapping_csv(spark, str(p)).collect()[0]
    assert (r.from_id, r.to_id) == ("IK1", "50-00-0")


def test_read_logmap_txt_both_schemas(spark, tmp_path):
    p5 = tmp_path / "l5.txt"
    p5.write_text("e1|e2|type|score|inst\nhttp://a|http://b|=|0.97|true\n")
    r = read_logmap_txt(spark, str(p5)).collect()[0]
    assert (r.e1, r.e2, r.score) == ("http://a", "http://b", 0.97)
    p3 = tmp_path / "l3.txt"
    p3.write_text("e1|e2|score\nhttp://a|http://b|0.8\n")
    r = read_logmap_txt(spark, str(p3)).collect()[0]
    assert (r.e1, r.e2, r.score) == ("http://a", "http://b", 0.8)


def test_write_read_table_bucketed(spark, tmp_path):
    from tera_spark.pipeline.run import write_bucketed
    from tera_spark.sources.writers import read_table

    df = spark.createDataFrame([(f"c{i}", i) for i in range(20)], "conv_id string, x int")
    path = str(tmp_path / "t")
    write_bucketed(df, "convs_applied", path)
    back = read_table(spark, path)
    assert back.count() == 20
    assert set(back.columns) == {"conv_id", "x"}
