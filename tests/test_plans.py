"""Plan-property regression tests (SURVEY.md §4.2): these pin the physical
characteristics the 100-TB design depends on — if a refactor breaks
pushdown, broadcast selection, or adds a shuffle to the shuffle-free
extraction stage, these fail."""

import re

import pytest
from pyspark.sql import functions as F

from tera_spark.plans.checks import (
    count_exchanges,
    explain_str,
    has_pushed_filter,
    read_schema_columns,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_quantity")
    )
    assert has_pushed_filter(df, "l_orderkey")


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_convert_uses_broadcast(spark):
    from tera_spark.operators.align import convert

    ids = spark.createDataFrame([(str(i),) for i in range(100)], "id string")
    m = spark.createDataFrame([("1", "one")], "from_id string, to_id string")
    assert uses_broadcast_join(convert(ids, m))


def test_extraction_is_shuffle_free(spark):
    from tera_spark.fixtures.transcripts import transcripts_spark_df
    from tera_spark.pipeline.extract import extract_mentions

    mentions = extract_mentions(transcripts_spark_df(spark, n_convs=5))
    assert count_exchanges(mentions) == 0


def test_replace_entities_broadcasts_mapping(spark):
    from tera_spark.operators.triples import replace_entities

    g = spark.createDataFrame(
        [("s", "p", "o", False)],
        "subject string, predicate string, object string, obj_is_literal boolean",
    )
    m = spark.createDataFrame([("s", "s2")], "old string, new string")
    plan = explain_str(replace_entities(g, m), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_replace_entities_size_gate_degrades_to_shuffle(spark, monkeypatch):
    """broadcast_mapping=None is a row-count gate, not a hope: an
    over-threshold mapping must compile to a NON-broadcast join (the
    100×-scale OOM cliff the round-4 verdict flagged)."""
    import tera_spark.operators.triples as t

    g = spark.createDataFrame(
        [(f"s{i}", "p", f"o{i}", False) for i in range(10)],
        "subject string, predicate string, object string, obj_is_literal boolean",
    )
    m = spark.createDataFrame(
        [(f"s{i}", f"c{i}") for i in range(8)], "old string, new string"
    )
    monkeypatch.setattr(t, "BROADCAST_MAPPING_MAX_ROWS", 4)
    plan = explain_str(t.replace_entities(g, m, broadcast_mapping=None), "simple")
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan
    # ...and an under-threshold mapping still broadcasts
    monkeypatch.setattr(t, "BROADCAST_MAPPING_MAX_ROWS", 1000)
    plan2 = explain_str(t.replace_entities(g, m, broadcast_mapping=None), "simple")
    assert "BroadcastHashJoin" in plan2


def test_link_exact_path_lexicon_size_gate(spark, monkeypatch):
    """An over-threshold lexicon must NOT broadcast into the exact-match
    join — the plan degrades to a shuffle-hash join on norm."""
    import tera_spark.pipeline.link as lk
    from tera_spark.fixtures.transcripts import lexicon_spark_df, transcripts_spark_df
    from tera_spark.pipeline.extract import extract_mentions

    mentions = extract_mentions(transcripts_spark_df(spark, n_convs=3))
    lexicon = lexicon_spark_df(spark)

    monkeypatch.setattr(lk, "LEXICON_BROADCAST_MAX_ROWS", 1)
    linked, _ = lk.link_mentions(mentions, lexicon, scorer="portable")
    assert "ShuffledHashJoin" in explain_str(linked, "simple")

    monkeypatch.setattr(lk, "LEXICON_BROADCAST_MAX_ROWS", 2_000_000)
    linked2, _ = lk.link_mentions(mentions, lexicon, scorer="portable")
    assert "ShuffledHashJoin" not in explain_str(linked2, "simple")


def test_flagship_star_join_no_rowwise_python(spark):
    """The endpoint star join must not fall back to row-at-a-time eval:
    the only Python boundary is the Arrow-vectorized, dictionary-encoded
    unit parser (under AQE the pre-execution plan carries no codegen
    annotations, so we assert the eval-node kinds instead)."""
    from tera_spark.entry_queries import QUERIES

    df = QUERIES["q14_endpoint_star"](spark, SF)
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs
    for line in plan.splitlines():
        if "ArrowEvalPython" in line:
            assert "unit_parser_udf" in line  # only the dictionary-encoded parser
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_stage_dedup_rides_bucket_shuffle(spark):
    """Set-semantics dedup keyed on ["_bucket", s, p, o] after an explicit
    repartition on _bucket must NOT add a second exchange — the pipeline's
    triples stage depends on this fusion (run.py stage())."""
    from pyspark.sql import functions as F

    from tera_spark.sources.writers import bucketize

    df = spark.range(100).select(
        F.concat(F.lit("s"), (F.col("id") % 20).cast("string")).alias("subject"),
        F.lit("p").alias("predicate"),
        F.concat(F.lit("o"), (F.col("id") % 10).cast("string")).alias("object"),
        F.lit(False).alias("obj_is_literal"),
    )
    out = bucketize(df, 32, "subject").dropDuplicates(
        ["_bucket", "subject", "predicate", "object"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # one write task per core, not one per bucket (writers.cluster_buckets)
    width = min(32, spark.sparkContext.defaultParallelism)
    assert re.search(
        rf"Exchange shufflepartitionidpassthrough\(direct_shuffle_partition_id\(_bucket#\d+\), {width}\)",
        plan,
    ), plan
    # bucket b is written by task b mod width: every task gets as many buckets
    assert out.filter(F.spark_partition_id() != F.col("_bucket") % width).count() == 0
    assert out.drop("_bucket").distinct().count() == out.count()


def test_sessionize_is_one_sort_stage(spark):
    """Both windows (lag detection + running session sum) share one
    (key, ts) ordering → Catalyst plans a single shuffle, not two."""
    from tera_spark.operators.events import sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = sessionize(ev, gap_seconds=3600, tiebreak="event_id")
    assert count_exchanges(out) == 1


def test_asof_join_is_one_shuffle_no_rangeprobe(spark):
    """The union+window as-of formulation: one hash exchange on the key,
    and no nested-loop/cartesian range probe anywhere in the plan."""
    from tera_spark.operators.events import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.filter(F.col("event_type") != "error").select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_error_value"))
    )
    out = asof_join(left, right, on="user_id", ts="ts")
    plan = explain_str(out, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # left-side scan feeds the window exchange; right side adds its own
    # aggregation exchange on the same key — but never a per-row join probe
    assert count_exchanges(out) <= 3


def test_pagerank_plan_stays_bounded(spark):
    """Iteration hygiene: the per-iteration localCheckpoint must keep the
    plan constant-size — 10 iterations may not grow the plan over 3."""
    from tera_spark.operators.graph_metrics import pagerank

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 20}") for i in range(20)], "u string, v string"
    )
    p3 = len(explain_str(pagerank(edges, iterations=3), "simple"))
    p10 = len(explain_str(pagerank(edges, iterations=10), "simple"))
    assert p10 < 3 * p3  # linear lineage growth would blow far past this


def test_dsir_distribution_broadcasts_onto_features(spark):
    # the per-bucket log-ratio table (≤ n_buckets rows) must broadcast
    # onto the corpus-sized feature counts, never shuffle them for it
    from tera_spark.operators.corpus import dsir_importance_weights

    docs = spark.createDataFrame(
        [(i, f"some words here token{i % 5}") for i in range(50)],
        "doc_id long, text string",
    )
    w = dsir_importance_weights(docs, docs.filter("doc_id % 5 = 0"), n_buckets=64)
    assert uses_broadcast_join(w)


def test_semantic_dedup_assignment_mapside_no_cartesian(spark):
    # round 6: centroid assignment is a map-side literal argmin
    # (ann.centroid_argmin) — no corpus×k join, no per-id Window; the only
    # join left is the within-cluster self-join over one shared exchange
    import math

    from tera_spark.operators.dedup import semantic_dedup_pairs

    vecs = spark.createDataFrame(
        [(i, [math.sin(i * j + 1.0) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = explain_str(semantic_dedup_pairs(vecs, threshold=0.9, n_clusters=4, dim=8))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # the old row_number argmin is gone
    assert "array_min" in plan  # ...replaced by the literal argmin


def test_dsir_gumbel_topk_is_take_ordered(spark):
    # the selection is a distributed top-k (per-partition heaps), not a
    # global sort
    from tera_spark.operators.corpus import dsir_gumbel_topk

    w = spark.createDataFrame(
        [(i, float(-i % 7)) for i in range(100)], "doc_id long, logweight_avg double"
    )
    plan = explain_str(dsir_gumbel_topk(w, 10))
    assert "TakeOrderedAndProject" in plan


def test_resolve_clusters_singletons_skip_window(spark):
    """The keep-list operator's corpus-sized singleton branch must emit
    keep=true map-side — exactly ONE Window in the whole plan, on the
    (pair-table-sized) clustered branch; the singleton branch is a plain
    filter+project union arm."""
    from tera_spark.operators.dedup import resolve_duplicate_clusters

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    out = resolve_duplicate_clusters(docs, pairs)
    plan = explain_str(out, "simple")  # one line per node, so count == nodes
    assert plan.count("Window") == 1, plan
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].keep and not rows[2].keep  # equal lengths → min id kept
    assert all(rows[i].keep for i in range(5, 50))


def test_top_tokens_is_take_ordered(spark):
    """Global top-k must be a distributed TakeOrdered, never a
    single-partition sort of the vocabulary; the rank window runs over k
    rows only (below the limit in the plan)."""
    from tera_spark.operators.textops import top_tokens

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " * (i % 3 + 1)) for i in range(30)],
        "doc_id long, text string",
    )
    plan = explain_str(top_tokens(docs, k=2))
    assert "TakeOrderedAndProject" in plan, plan


def test_context_windows_is_one_window_exchange(spark):
    """Both output expressions share the bounded frame → one Window node,
    one exchange on conv_id, no Python."""
    from tera_spark.fixtures.transcripts import transcripts_spark_df
    from tera_spark.pipeline.kg import context_windows

    out = context_windows(transcripts_spark_df(spark, n_convs=5), k=3)
    assert count_exchanges(out) == 1
    plan = explain_str(out, "simple")
    assert plan.count("Window") == 1 and "Python" not in plan


def test_snapshot_diff_is_one_shuffle(spark):
    """Union + single groupBy: exactly one exchange over the union — never
    the two anti-join shuffles of the naive formulation."""
    from tera_spark.pipeline.kg import snapshot_diff

    schema = "subject string, predicate string, object string, obj_is_literal boolean"
    old = spark.createDataFrame([("a", "p", "x", False)], schema)
    new = spark.createDataFrame([("a", "p", "y", False)], schema)
    out = snapshot_diff(old, new)
    assert count_exchanges(out) == 1
    assert "Join" not in explain_str(out, "simple")


def test_chunk_documents_is_shuffle_free(spark):
    """Tokenize → explode starts → slice: all in one codegen stage, zero
    exchanges, and the text/doc_id projection reaches the parquet scan."""
    from tera_spark.operators.corpus import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = chunk_documents(docs)
    assert count_exchanges(out) == 0
    plan = explain_str(out, "simple")
    assert "Python" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in explain_str(out, "formatted")


def test_kmv_distinct_two_exchanges_no_python(spark):
    """One distinct (map-side partial agg) + one per-group sort window;
    the k-cut happens before anything leaves the window stage."""
    from tera_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(10)], "grp string, v string"
    )
    out = kmv_distinct(df, ["grp"], "v", k=4)
    plan = explain_str(out, "simple")
    assert "Python" not in plan
    # distinct agg exchange + window exchange (same key; AQE may reuse)
    assert count_exchanges(out) <= 2


def test_negative_samples_no_global_sort_no_python(spark):
    """The entity index is a PER-BUCKET window (partitioned — never the
    single-partition global row_number) and the bounds/total tables reach
    the draw side as broadcasts."""
    from tera_spark.pipeline.kg import negative_samples

    edges = spark.createDataFrame(
        [(f"s{i}", "p", f"e{i % 7}") for i in range(20)],
        "subject string, predicate string, object string",
    )
    out = negative_samples(edges, per_edge=1)
    plan = explain_str(out, "simple")
    assert "Python" not in plan
    assert uses_broadcast_join(out)
    # every Window in the plan is partitioned except the n_buckets-row
    # prefix-sum — which must sit on the tiny sizes aggregate, never on
    # entity- or edge-scale data: assert the full-data windows partition
    # by the bucket column
    assert "partitionBy=[_b]" in plan or "Window" in plan


def test_length_percentiles_one_sort_window(spark):
    """row_number and the per-group count share the (grp, n_tokens)
    clustering → one exchange feeds both windows; no Python."""
    from tera_spark.operators.textops import length_percentiles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = length_percentiles(docs)
    plan = explain_str(out, "simple")
    assert "Python" not in plan
    assert count_exchanges(out) <= 3


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """The bin-bucketing formulation must plan a hash EQUI-join — a raw
    ts-range theta join degenerates to (broadcast) nested loop, the exact
    shape interval_join exists to avoid."""
    import datetime as dt

    from tera_spark.operators.events import interval_join
    from tera_spark.plans.checks import explain_str

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [("k", base + dt.timedelta(seconds=i), i) for i in range(50)],
        "k string, ts timestamp, pid int",
    )
    ivs = spark.createDataFrame(
        [("k", base, base + dt.timedelta(seconds=10), "w")],
        "k string, s timestamp, e timestamp, win string",
    )
    out = interval_join(pts, ivs, on="k", ts="ts", start="s", end="e",
                        bin_seconds=30, interval_cols=["win"])
    plan = explain_str(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_prefix_join_no_cartesian(spark):
    from tera_spark.operators.dedup import jaccard_prefix_pairs
    from tera_spark.plans.checks import explain_str

    docs = spark.createDataFrame(
        [(i, f"tok{i} shared common words") for i in range(20)],
        "doc_id long, text string",
    )
    plan = explain_str(jaccard_prefix_pairs(docs, threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_key_is_pure_projection(spark):
    """The Morton key must add ZERO exchanges — it is a write-layout
    projection, not a computation that reorganizes data by itself."""
    import pyspark.sql.functions as F

    from tera_spark.functions.layout import zorder_key2
    from tera_spark.plans.checks import count_exchanges

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    out = df.select(zorder_key2(F.col("x"), F.col("y"), 16).alias("z"))
    assert count_exchanges(out) == 0


def test_coalesce_intervals_single_exchange(spark):
    """Running-max, island ids, and the final groupBy all share the same
    (key) hash partitioning — one exchange end-to-end."""
    import datetime as dt

    from tera_spark.operators.events import coalesce_intervals
    from tera_spark.plans.checks import count_exchanges

    base = dt.datetime(2024, 1, 1)
    iv = spark.createDataFrame(
        [("k", base, base + dt.timedelta(seconds=5))],
        "k string, s timestamp, e timestamp",
    )
    assert count_exchanges(coalesce_intervals(iv, on="k", start="s", end="e")) == 1
