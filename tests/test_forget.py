"""Decremental maintenance (pipeline/forget.py): forgetting conversations
from a built KG yields tables set-equal to a build that never saw them —
including entity un-merges — through the live view AND after compact();
forgotten conversations can be re-ingested; unknown/already-forgotten ids
no-op."""

import pytest
from pyspark.sql import functions as F

from tera_spark.fixtures.transcripts import lexicon_spark_df, transcripts_spark_df
from tera_spark.pipeline.forget import _conv_ids_df, run_pipeline_forget
from tera_spark.pipeline.incremental import (
    compact,
    read_live,
    read_refcounts,
    run_pipeline_incremental,
)
from tera_spark.pipeline.run import run_pipeline
from tests.util import lexicon_rdd_ids

TABLES = ("triples", "nodes", "edges", "mentions", "linked", "alias_edges")


def _rc_rows(spark, out_dir):
    return {
        tuple(r)
        for r in read_refcounts(spark, out_dir).select("rk", "k1", "k2", "n").collect()
    }


def _rows(spark, out_dir, table, live):
    df = (
        read_live(spark, out_dir, table)
        if live
        else spark.read.parquet(f"{out_dir}/{table}").drop("_bucket")
    )
    cols = sorted(df.columns)
    return {tuple(r) for r in df.select(cols).collect()}


def _assert_equal(spark, ref_dir, got_dir, live=True, tables=TABLES):
    for t in tables:
        a = _rows(spark, ref_dir, t, live=False)
        b = _rows(spark, got_dir, t, live=live)
        assert a == b, (
            f"{t}: expected {len(a)} rows, got {len(b)} "
            f"(missing {len(a - b)}, extra {len(b - a)})"
        )


def test_forget_equals_never_ingested(spark, lexicon_fixture, tmp_path):
    """The whole forget contract in one chained scenario (expensive
    fixtures reused): forget(B) == build(A); re-forget no-ops; compaction
    preserves it; re-ingesting B restores build(A ∪ B)."""
    lexicon = lexicon_fixture
    t_all = transcripts_spark_df(spark, n_convs=40).cache()
    convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
    keep, drop = convs[:28], convs[28:]
    t_a = t_all.filter(F.col("conv_id").isin(keep))

    work = str(tmp_path / "work")
    ref_a = str(tmp_path / "ref_a")
    ref_all = str(tmp_path / "ref_all")
    run_pipeline(spark, t_all, lexicon, work)
    run_pipeline(spark, t_a, lexicon, ref_a)
    run_pipeline(spark, t_all, lexicon, ref_all)

    map_pre = _rows(spark, work, "canonical_map", live=True)
    edges_pre = _rows(spark, work, "alias_edges", live=True)

    res = run_pipeline_forget(spark, drop, lexicon, work)
    assert res.stages_run  # something was actually written

    # the forgotten convs carried unique misspelling norms: edges were
    # removed and at least one canonical merge was undone — the split
    # path genuinely ran, this is not an append-only degenerate case
    map_post = _rows(spark, work, "canonical_map", live=True)
    edges_post = _rows(spark, work, "alias_edges", live=True)
    assert edges_post < edges_pre
    assert map_pre - map_post, "no canonical entry was retracted"

    _assert_equal(spark, ref_a, work, live=True)
    _assert_equal(
        spark, ref_a, work, live=True, tables=("canonical_map", "ent_index")
    )
    # the emission refcounts decrement to exactly the never-ingested
    # build's counts (counts are additive over conv-disjoint batches)
    assert _rc_rows(spark, work) == _rc_rows(spark, ref_a)

    # idempotent: same ids again (and unknown ids) are guarded no-ops
    res2 = run_pipeline_forget(spark, drop, lexicon, work)
    assert res2.stages_run == []
    res3 = run_pipeline_forget(spark, ["no-such-conv"], lexicon, work)
    assert res3.stages_run == []

    # compaction folds the forget batch into the base without drift
    compact(spark, work)
    _assert_equal(spark, ref_a, work, live=False)
    _assert_equal(
        spark, ref_a, work, live=False, tables=("canonical_map", "ent_index")
    )
    assert _rc_rows(spark, work) == _rc_rows(spark, ref_a)

    # a forgotten conversation is re-ingestable: tombstones are sequenced,
    # so the re-add wins and the graph returns to the full-corpus state
    res4 = run_pipeline_incremental(
        spark, t_all.filter(F.col("conv_id").isin(drop)), lexicon, work
    )
    assert res4.stages_run
    _assert_equal(spark, ref_all, work, live=True)
    assert _rc_rows(spark, work) == _rc_rows(spark, ref_all)


def test_forget_then_reingest_after_compact(
    spark, lexicon_fixture, tmp_path, monkeypatch, persistent_rdd_ids
):
    """Same re-ingest guarantee when the forget was compacted first (the
    tombstones are gone from the log; the guard state must still allow the
    conversation back). The forget and the apply each prepare the raw
    lexicon once and release it before they return."""
    import tera_spark.pipeline.forget as fg
    import tera_spark.pipeline.incremental as inc

    prepared = []
    for mod in (fg, inc):
        monkeypatch.setattr(
            mod,
            "prepare_lexicon",
            lambda lex, real=mod.prepare_lexicon: prepared.append(real(lex)) or prepared[-1],
        )
    lexicon = lexicon_fixture
    t_all = transcripts_spark_df(spark, n_convs=14).cache()
    convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
    drop = convs[10:]

    work = str(tmp_path / "work")
    ref_all = str(tmp_path / "ref_all")
    run_pipeline(spark, t_all, lexicon, work)
    run_pipeline(spark, t_all, lexicon, ref_all)

    run_pipeline_forget(spark, drop, lexicon, work)
    compact(spark, work)
    res = run_pipeline_incremental(
        spark, t_all.filter(F.col("conv_id").isin(drop)), lexicon, work
    )
    assert res.stages_run
    _assert_equal(spark, ref_all, work, live=True)
    # the re-ingested batch's refcounts_adds restore the full-corpus counts
    assert _rc_rows(spark, work) == _rc_rows(spark, ref_all)

    assert len(prepared) == 2
    pinned = persistent_rdd_ids()
    for p in prepared:
        assert not lexicon_rdd_ids(p) & pinned


@pytest.fixture(scope="module")
def lexicon_fixture(spark):
    return lexicon_spark_df(spark).cache()


@pytest.fixture(scope="module")
def built_dir(spark, lexicon_fixture, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("built") / "kg")
    run_pipeline(spark, transcripts_spark_df(spark, n_convs=6), lexicon_fixture, out)
    return out


@pytest.mark.parametrize("side", ["canonical_map", "ent_index", "convs_applied", "refcounts"])
def test_apply_and_forget_need_every_side_table(
    spark, lexicon_fixture, built_dir, side, tmp_path
):
    """A run_pipeline output missing one of its side tables is refused by
    both apply and forget with a ValueError that names the table, before
    any batch dir is made."""
    import os
    import shutil

    work = str(tmp_path / "kg")
    shutil.copytree(built_dir, work)
    shutil.rmtree(f"{work}/{side}")
    missing = rf"missing tables: \['{side}'\]"
    with pytest.raises(ValueError, match=missing):
        run_pipeline_incremental(
            spark, transcripts_spark_df(spark, n_convs=8), lexicon_fixture, work
        )
    with pytest.raises(ValueError, match=missing):
        run_pipeline_forget(spark, ["no-such-conv"], lexicon_fixture, work)
    assert not os.path.exists(f"{work}/_batches")


def test_forget_crash_retry(spark, lexicon_fixture, tmp_path, monkeypatch):
    """A crash mid-forget leaves the live view bit-identical to the
    pre-batch state (the half-written batch dir has no commit marker),
    and the retry converges to the never-ingested build."""
    import pytest as _pytest

    import tera_spark.pipeline.forget as fg
    import tera_spark.pipeline.incremental as inc

    lexicon = lexicon_fixture
    t_all = transcripts_spark_df(spark, n_convs=14).cache()
    convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
    drop = convs[10:]

    work = str(tmp_path / "work")
    ref_a = str(tmp_path / "ref_a")
    run_pipeline(spark, t_all, lexicon, work)
    run_pipeline(
        spark, t_all.filter(~F.col("conv_id").isin(drop)), lexicon, ref_a
    )

    pre = {t: _rows(spark, work, t, live=True) for t in ("triples", "nodes")}

    real = inc._write_part

    def boom(out_dir, batch_dir, name, df, **kw):
        if name == "nodes_adds":
            raise RuntimeError("injected crash before nodes write")
        return real(out_dir, batch_dir, name, df, **kw)

    monkeypatch.setattr(inc, "_write_part", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        fg.run_pipeline_forget(spark, drop, lexicon, work, batch_id="crash")

    for t, rows in pre.items():
        assert _rows(spark, work, t, live=True) == rows, t

    monkeypatch.setattr(inc, "_write_part", real)
    res = fg.run_pipeline_forget(spark, drop, lexicon, work, batch_id="crash")
    assert res.stages_run
    _assert_equal(spark, ref_a, work, live=True)


def test_forget_lineage_counts_its_tombstones(spark, lexicon_fixture, built_dir, tmp_path):
    """A forget batch records its tombstone parts: for each, the lineage
    rows sum to the part's metrics rows_out, and each lineage row equals
    the rows in that part's ``_bucket=i`` dir."""
    import shutil

    from tera_spark.pipeline.incremental import committed_batches

    work = str(tmp_path / "kg")
    shutil.copytree(built_dir, work)
    convs = sorted(r.conv_id for r in read_live(spark, work, "convs_applied").collect())
    res = run_pipeline_forget(spark, convs[:2], lexicon_fixture, work, batch_id="lin")
    (batch,) = committed_batches(work)
    lineage = spark.read.parquet(f"{work}/lineage")
    metrics = {r.stage: r.rows_out for r in spark.read.parquet(f"{work}/metrics").collect()}
    assert res.stages_run and all(t.endswith("@lin") for t in res.stages_run)
    total = 0
    for tag in res.stages_run:
        recorded = {
            r.bucket: r.rows for r in lineage.filter(F.col("stage") == tag).collect()
        }
        assert sum(recorded.values()) == metrics[tag], tag
        part = f"{batch}/{tag.split('@')[0]}_dels"
        on_disk = (
            {
                r["_bucket"]: r["count"]
                for r in spark.read.parquet(part).groupBy("_bucket").count().collect()
            }
            if metrics[tag]
            else {}
        )
        assert recorded == on_disk, tag
        total += metrics[tag]
    assert total > 0


@pytest.mark.parametrize("ids", [["c2", "c1", "c2"], []], ids=["ids", "empty"])
def test_conv_ids_df_is_local_relation(spark, ids):
    """A list of conversation ids becomes a LocalRelation built from Arrow
    (no PythonRDD, so no Python worker starts), with the duplicates dropped."""
    df = _conv_ids_df(spark, ids)
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())] == [
        "LocalRelation"
    ]
    assert df.schema.simpleString() == "struct<conv_id:string>"
    assert sorted(r.conv_id for r in df.collect()) == sorted(set(ids))
