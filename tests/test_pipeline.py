"""End-to-end pipeline tests (SURVEY.md §5.3 item 3): full 4-stage run on
the deterministic synthetic corpus, resume-from-checkpoint bit-equality,
linking quality on planted mentions, salting invariance."""

import pytest
from pyspark.sql import functions as F

from tera_spark.constants import NS_KG
from tera_spark.fixtures.transcripts import (
    gen_transcripts,
    lexicon_spark_df,
    transcripts_spark_df,
)
from tera_spark.pipeline.extract import extract_mentions
from tera_spark.pipeline.link import FUZZY_THRESHOLD, link_mentions
from tera_spark.pipeline.run import run_pipeline
from tests.util import lexicon_rdd_ids


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_spark_df(spark, n_convs=30, hot_convs=1, hot_factor=10).cache()


@pytest.fixture(scope="module")
def lexicon(spark):
    return lexicon_spark_df(spark).cache()


def test_generator_deterministic():
    a = gen_transcripts(n_convs=5)
    b = gen_transcripts(n_convs=5)
    assert a.equals(b)


def test_extract_finds_planted_mentions(spark, transcripts):
    m = extract_mentions(transcripts)
    kinds = {r.kind for r in m.select("kind").distinct().collect()}
    assert {"term", "code", "quantity"} <= kinds
    # every LC50-style code in the text is found
    has_code = transcripts.filter(F.col("text").contains("LC50")).count()
    found = m.filter((F.col("kind") == "code") & (F.col("mention") == "LC50")).count()
    assert found >= has_code > 0


def test_linking_exact_and_fuzzy(spark, transcripts, lexicon):
    from collections import Counter

    from tera_spark.pipeline.link import PROVISIONAL_PREFIX, _norm

    mentions = extract_mentions(transcripts)
    linked, alias_edges = link_mentions(mentions, lexicon)
    methods = {r.link_method for r in linked.select("link_method").distinct().collect()}
    assert "exact" in methods
    # exact links resolve to real lexicon entities
    ex = linked.filter(F.col("link_method") == "exact")
    assert ex.join(lexicon.select("entity").distinct(), "entity", "left_anti").count() == 0
    # fuzzy path recovers at least some misspelled mentions
    assert linked.filter(F.col("link_method") == "fuzzy").count() > 0

    # every mention row appears in linked exactly once
    cols = mentions.columns
    assert Counter(tuple(r) for r in linked.select(cols).collect()) == Counter(
        tuple(r) for r in mentions.collect()
    )
    # each band's entity and score
    lex_entities = {r.entity for r in lexicon.select("entity").collect()}
    rows = linked.withColumn("_norm", _norm(F.col("mention"))).collect()
    by_method = Counter(r.link_method for r in rows)
    assert set(by_method) == {"exact", "fuzzy", "provisional", "rule"}
    for r in rows:
        if r.link_method == "exact":
            assert r.link_score == 100.0 and r.entity in lex_entities, r
        elif r.link_method == "fuzzy":
            assert r.link_score >= FUZZY_THRESHOLD and r.entity in lex_entities, r
        elif r.link_method == "provisional":
            assert r.entity == PROVISIONAL_PREFIX + r._norm and r.link_score == 0.0, r
        # rule rows are exactly the non-term kinds
        assert (r.link_method == "rule") == (r.kind != "term"), r


def test_pipeline_end_to_end_and_resume(spark, transcripts, lexicon, tmp_path):
    out1 = str(tmp_path / "run1")
    res1 = run_pipeline(spark, transcripts, lexicon, out1)
    assert res1.stages_run == [
        "mentions", "linked", "refcounts", "canonical_map", "triples",
        "ent_index", "nodes", "edges",
    ]

    edges = spark.read.parquet(out1 + "/edges")
    nodes = spark.read.parquet(out1 + "/nodes")
    assert edges.count() > 0 and nodes.count() > 0
    assert nodes.filter(F.col("id").startswith(NS_KG)).count() > 0

    # canonicalization really merged the merge-band provisionals: every
    # alias-edge source (urn:mention:<norm>) was rewritten out of the graph
    alias = spark.read.parquet(out1 + "/alias_edges")
    assert alias.count() > 0
    triples = spark.read.parquet(out1 + "/triples")
    leftover = (
        triples.join(alias.select(F.col("u").alias("subject")), "subject", "left_semi").count()
        + triples.join(alias.select(F.col("u").alias("object")), "object", "left_semi").count()
    )
    assert leftover == 0

    # resume: second run skips everything and output is bit-identical
    res2 = run_pipeline(spark, transcripts, lexicon, out1)
    assert res2.stages_run == [] and len(res2.stages_skipped) == 8

    # partial resume: delete the last two stages, rerun, triples unchanged
    import shutil

    t_before = {tuple(r) for r in spark.read.parquet(out1 + "/triples").collect()}
    shutil.rmtree(out1 + "/nodes")
    shutil.rmtree(out1 + "/edges")
    res3 = run_pipeline(spark, transcripts, lexicon, out1)
    assert res3.stages_run == ["nodes", "edges"]
    t_after = {tuple(r) for r in spark.read.parquet(out1 + "/triples").collect()}
    assert t_before == t_after

    # lineage + metrics recorded
    lineage = spark.read.parquet(out1 + "/lineage")
    assert lineage.filter(F.col("stage") == "mentions").count() > 0
    metrics = spark.read.parquet(out1 + "/metrics")
    assert {r.stage for r in metrics.collect()} >= {"mentions", "linked", "triples"}

    # every stored table keeps its layout: one parquet file per bucket
    # dir, every row in the bucket TABLE_LAYOUT assigns it, and a recorded
    # stage's lineage counts are the rows actually in each dir
    import glob
    import os

    from tera_spark.pipeline.run import STAGES, TABLE_LAYOUT
    from tera_spark.sources.writers import bucket_expr

    recorded = {(r.stage, r.bucket): r.rows for r in lineage.collect()}
    for table, (key, n) in TABLE_LAYOUT.items():
        dirs = glob.glob(f"{out1}/{table}/_bucket=*")
        assert dirs, table
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
        df = spark.read.parquet(f"{out1}/{table}")
        assert df.filter(F.col("_bucket") != bucket_expr(key, n)).count() == 0, table
        if table in STAGES:
            on_disk = {r["_bucket"]: r["count"] for r in df.groupBy("_bucket").count().collect()}
            assert on_disk == {b: rows for (st, b), rows in recorded.items() if st == table}, table

    # the delta parts of an apply batch and a forget batch, tombstones
    # included, keep the same layout
    from tera_spark.pipeline.forget import run_pipeline_forget
    from tera_spark.pipeline.incremental import committed_batches, run_pipeline_incremental

    more = transcripts_spark_df(spark, n_convs=34, hot_convs=1, hot_factor=10)
    run_pipeline_incremental(spark, more, lexicon, out1, batch_id="grow")
    convs = sorted(r.conv_id for r in transcripts.select("conv_id").distinct().collect())
    run_pipeline_forget(spark, convs[:3], lexicon, out1, batch_id="shrink")
    parts = {}
    for batch in committed_batches(out1):
        for name in os.listdir(batch):
            if name.endswith(("_adds", "_dels")):
                parts[f"{os.path.basename(batch)}/{name}"] = os.path.join(batch, name)
    kinds = {p.split("/")[1].rsplit("_", 1)[1] for p in parts}
    assert kinds == {"adds", "dels"} and any("shrink/triples_dels" in p for p in parts)
    for part, path in parts.items():
        key, n = TABLE_LAYOUT[part.split("/")[1].rsplit("_", 1)[0]]
        dirs = glob.glob(f"{path}/_bucket=*")
        assert dirs, part
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
        df = spark.read.parquet(path)
        assert df.filter(F.col("_bucket") != bucket_expr(key, n)).count() == 0, part


def test_partial_write_is_rerun_not_resumed(spark, transcripts, lexicon, tmp_path):
    """A stage dir holding parquet files but NO _SUCCESS (writer died between
    task commits and the job commit) must be treated as absent: the stage
    re-runs instead of resuming partial data (round-2 verdict fix)."""
    import os
    import shutil

    out = str(tmp_path / "partial")
    run_pipeline(spark, transcripts, lexicon, out)
    n_before = spark.read.parquet(out + "/edges").count()

    # simulate the torn write: drop the commit marker AND some data files
    os.remove(out + "/edges/_SUCCESS")
    buckets = sorted(
        d for d in os.listdir(out + "/edges") if d.startswith("_bucket=")
    )
    for d in buckets[: max(1, len(buckets) // 2)]:
        shutil.rmtree(os.path.join(out, "edges", d))

    res = run_pipeline(spark, transcripts, lexicon, out)
    assert "edges" in res.stages_run
    assert os.path.exists(out + "/edges/_SUCCESS")
    assert spark.read.parquet(out + "/edges").count() == n_before


def test_auto_salt_above_broadcast_gate_same_output(
    spark, transcripts, lexicon, tmp_path, monkeypatch
):
    """With the canonical-map broadcast gate forced to 0 rows, the
    pipeline must take the salted shuffle rewrite (not the broadcast) and
    still produce byte-identical triples."""
    import tera_spark.pipeline.run as runmod

    out_a = str(tmp_path / "auto_a")
    out_b = str(tmp_path / "auto_b")
    run_pipeline(spark, transcripts, lexicon, out_a)
    monkeypatch.setattr(runmod, "CANONICAL_BROADCAST_MAX_ROWS", 0)
    res = run_pipeline(spark, transcripts, lexicon, out_b)
    assert "triples" in res.stages_run
    ta = {tuple(r) for r in spark.read.parquet(out_a + "/triples").collect()}
    tb = {tuple(r) for r in spark.read.parquet(out_b + "/triples").collect()}
    assert ta == tb


def test_prepared_lexicon_release(spark, lexicon, persistent_rdd_ids):
    """release() must drop exactly the checkpoint blocks a PreparedLexicon
    pinned (no RDD growth across repeated prepare/release cycles), and an
    already-prepared lexicon passes through prepare_lexicon unchanged."""
    from tera_spark.pipeline.link import prepare_lexicon

    lexicon.count()  # materialize the cached fixture outside the window
    base = persistent_rdd_ids()
    for _ in range(3):
        p = prepare_lexicon(lexicon)
        assert lexicon_rdd_ids(p) <= persistent_rdd_ids() - base
        assert prepare_lexicon(p) is p
        p.release()
        assert persistent_rdd_ids() == base

    # a checkpoint another driver thread takes while the lexicon is being
    # prepared (link_mentions overlaps its mentions checkpoint this way)
    # is not the lexicon's: release() must leave it pinned
    from concurrent.futures import ThreadPoolExecutor

    other_df = spark.range(0, 20_000, 1, 4).selectExpr("id", "id * 2 AS x")
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(other_df.localCheckpoint)
        p = prepare_lexicon(lexicon)
        other = fut.result()
    other_ids = persistent_rdd_ids() - base - lexicon_rdd_ids(p)
    assert len(other_ids) == 1
    p.release()
    assert persistent_rdd_ids() == base | other_ids
    assert other.count() == 20_000


def _job_ids(spark) -> set[int]:
    """Ids of every job outside a job group in the status store, once it
    has seen every event posted so far. The store keeps only the last
    ``spark.ui.retainedJobs`` jobs, so ids of old jobs may drop out of a
    later call: compare which ids are new, not the whole set."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _stored_tables(spark, out_dir) -> dict:
    tables = ("mentions", "linked", "alias_edges", "refcounts", "canonical_map",
              "triples", "ent_index", "nodes", "edges", "convs_applied")
    out = {}
    for t in tables:
        df = spark.read.parquet(f"{out_dir}/{t}").drop("_bucket")
        out[t] = {tuple(r) for r in df.select(sorted(df.columns)).collect()}
    return out


def test_run_pipeline_labels_jobs_and_releases_lexicon(
    spark, transcripts, lexicon, tmp_path, monkeypatch, persistent_rdd_ids
):
    """Every job a run_pipeline call starts is described
    `run_pipeline:<node>` (set in the scheduling thread that starts it) and
    belongs to the caller's job group, and every checkpoint the call takes,
    the PreparedLexicon it builds included, is released before it returns
    — the persistent-RDD set is back to its pre-call value — without
    changing any stored table. Every stage row carries the Spark breakdown
    of its own call's jobs, in the result and in ``metrics/``."""
    import tera_spark.pipeline.run as runmod
    from tera_spark.obs import FIELDS
    from tera_spark.pipeline.run import STAGES

    transcripts.count()  # materialize the cached fixtures outside the window
    lexicon.count()
    prepared = []
    real_prepare = runmod.prepare_lexicon
    monkeypatch.setattr(
        runmod, "prepare_lexicon", lambda lex: prepared.append(real_prepare(lex)) or prepared[-1]
    )
    out = str(tmp_path / "released")
    sc = spark.sparkContext
    before = _job_ids(spark)
    pinned = persistent_rdd_ids()
    sc.setJobGroup("caller-group", "the caller's own group")
    try:
        res = run_pipeline(spark, transcripts, lexicon, out)
    finally:
        sc._jsc.clearJobGroup()
    # RDD ids only grow: a new id still pinned is a checkpoint the call
    # kept (the context cleaner may drop older ones meanwhile)
    assert not persistent_rdd_ids() - pinned
    # every job the call started is in the caller's group: none ungrouped
    assert not _job_ids(spark) - before
    new = sorted(sc.statusTracker().getJobIdsForGroup("caller-group"))

    store = spark.sparkContext._jsc.sc().statusStore()
    descriptions = {}
    for j in new:
        d = store.job(j).description()
        descriptions[j] = d.get() if d.isDefined() else None
    unlabeled = {j: d for j, d in descriptions.items() if not (d or "").startswith("run_pipeline:")}
    assert new and not unlabeled, f"jobs without a run_pipeline label: {unlabeled}"
    assert "run_pipeline:mentions" in descriptions.values()

    assert len(prepared) == 1
    assert not lexicon_rdd_ids(prepared[0]) & persistent_rdd_ids()

    tracker = sc.statusTracker()

    def check_breakdown(res, descriptions):
        """Every stage row carries FIELDS; its jobs are the call's jobs
        with the row's description(s) (``linked`` spans the ``link`` node
        too) and its tasks the status tracker's count over their completed
        stages, each stage once."""
        assert [m["stage"] for m in res.metrics] == list(STAGES)
        for m in res.metrics:
            assert None not in [m[f] for f in FIELDS], m
            names = {f"run_pipeline:{m['stage']}"}
            if m["stage"] == "linked":
                names.add("run_pipeline:link")
            jobs = [j for j, d in descriptions.items() if d in names]
            assert m["jobs"] == len(jobs) >= 1, m
            infos = [
                tracker.getStageInfo(s) for s in {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
            ]
            # None: a skipped stage the store has since evicted
            assert m["tasks"] == sum(
                i.numTasks for i in infos if i and i.numTasks and i.numCompletedTasks >= i.numTasks
            ), m
            assert m["exec_s"] > 0 and m["task_max_s"] >= m["task_median_s"] >= 0, m

    check_breakdown(res, descriptions)
    # metrics/ holds the same rows, breakdown columns included
    stored = {r.stage: r.asDict() for r in spark.read.parquet(f"{out}/metrics").collect()}
    assert stored == {m["stage"]: m for m in res.metrics}

    # the same tables as a run that releases none of its checkpoints; this
    # second call's rows count only its own jobs
    import tera_spark.checkpoints as checkpoints

    monkeypatch.setattr(checkpoints, "release", lambda *dfs: None)
    ref = str(tmp_path / "kept")
    before = _job_ids(spark)
    res = run_pipeline(spark, transcripts, lexicon, ref)
    check_breakdown(res, {j: store.job(j).description().get() for j in _job_ids(spark) - before})
    assert _stored_tables(spark, out) == _stored_tables(spark, ref)


def test_tools_hold_no_event_log_reader():
    """Run attribution comes from the library (tera_spark/obs.py), not from
    probe scripts that parse Spark's event log."""
    import pathlib

    tools = pathlib.Path(__file__).resolve().parent.parent / "tools"
    readers = [p.name for p in sorted(tools.rglob("*.py")) if "eventlog" in p.read_text().lower()]
    assert not readers, readers


def test_stage_writes_one_task_per_core(spark, transcripts, lexicon, tmp_path):
    """Every bucket-shuffled stage write runs min(bucket count,
    defaultParallelism) tasks: the result stage of the last job each
    shuffled node starts (its stage write; `linked` also writes
    alias_edges before it) has that width."""
    from tera_spark.pipeline.run import TABLE_LAYOUT

    transcripts.count()
    lexicon.count()
    sc = spark.sparkContext
    sc.setJobGroup("width-group", "stage write width")
    try:
        run_pipeline(spark, transcripts, lexicon, str(tmp_path / "width"))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    last_job = {}
    for j in sorted(tracker.getJobIdsForGroup("width-group")):
        d = store.job(j).description()
        last_job[d.get() if d.isDefined() else None] = j
    widths = {}
    for node in ("mentions", "linked", "refcounts", "canonical_map", "triples", "nodes"):
        job = tracker.getJobInfo(last_job[f"run_pipeline:{node}"])
        widths[node] = tracker.getStageInfo(max(job.stageIds)).numTasks
    assert widths == {n: min(TABLE_LAYOUT[n][1], sc.defaultParallelism) for n in widths}


def test_resume_with_linked_done_prepares_no_lexicon(
    spark, transcripts, lexicon, tmp_path, monkeypatch
):
    """A run resumed after `linked` is written does no lexicon work: it
    calls prepare_lexicon zero times and rebuilds the same tables."""
    import shutil

    import tera_spark.pipeline.run as runmod

    out = str(tmp_path / "resume")
    run_pipeline(spark, transcripts, lexicon, out)
    before = _stored_tables(spark, out)
    for t in ("refcounts", "canonical_map", "triples", "ent_index", "nodes", "edges"):
        shutil.rmtree(f"{out}/{t}")

    calls = []
    real_prepare = runmod.prepare_lexicon
    monkeypatch.setattr(
        runmod, "prepare_lexicon", lambda lex: calls.append(1) or real_prepare(lex)
    )
    res = run_pipeline(spark, transcripts, lexicon, out)
    assert res.stages_skipped == ["mentions", "linked"]
    assert calls == []
    assert _stored_tables(spark, out) == before


def test_resume_relinks_without_complete_alias_edges(spark, transcripts, lexicon, tmp_path):
    """A `linked` table whose alias_edges lost its commit marker (only
    task-committed files left) is not resumed: linking re-runs, rewrites
    both, and every stored table comes out the same."""
    import glob
    import os
    import shutil

    out = str(tmp_path / "partial_alias")
    run_pipeline(spark, transcripts, lexicon, out)
    before = _stored_tables(spark, out)
    os.remove(f"{out}/alias_edges/_SUCCESS")
    os.remove(sorted(glob.glob(f"{out}/alias_edges/_bucket=*/*.parquet"))[0])
    for t in ("canonical_map", "triples", "ent_index", "nodes", "edges"):
        shutil.rmtree(f"{out}/{t}")

    res = run_pipeline(spark, transcripts, lexicon, out)
    assert res.stages_skipped == ["mentions", "refcounts"]
    assert "linked" in res.stages_run
    assert os.path.exists(f"{out}/alias_edges/_SUCCESS")
    assert _stored_tables(spark, out) == before


def test_read_table_with_written_schema(spark, tmp_path):
    """read_table(schema=<the schema written>) gives the columns, types and
    rows of the inferred read, `_bucket` dropped, and the read-back starts
    no Spark job (the inferred one runs a footer-schema job)."""
    from tera_spark.pipeline.run import write_bucketed
    from tera_spark.sources.writers import read_table

    df = spark.range(0, 200, 1, 4).selectExpr(
        "CAST(id AS STRING) AS conv_id",
        "CAST(id AS INT) AS turn_idx",
        "id / 3.0D AS score",
        "id % 2 = 0 AS flag",
        "array(CAST(id AS STRING), 'x') AS tags",
    )
    path = str(tmp_path / "t")
    _, schema = write_bucketed(df, "convs_applied", path)

    before = _job_ids(spark)
    given = read_table(spark, path, schema=schema)
    assert _job_ids(spark) == before
    inferred = read_table(spark, path)
    assert given.columns == inferred.columns == ["conv_id", "turn_idx", "score", "flag", "tags"]
    assert given.schema == inferred.schema
    assert sorted(given.collect()) == sorted(inferred.collect())
    assert given.count() == 200


def test_per_turn_text_equality_invariant(spark, transcripts):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the pipeline never mutates transcripts,
    and reassembling conversations via the W1 window preserves text."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    assembled = (
        transcripts.withColumn("rn", F.row_number().over(w))
        .groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "text"))).alias("turns"))
    )
    back = assembled.select(
        "conv_id", F.explode("turns").alias("t")
    ).select("conv_id", F.col("t.turn_idx").alias("turn_idx"), F.col("t.text").alias("text"))
    diff = transcripts.select("conv_id", "turn_idx", "text").exceptAll(back)
    assert diff.isEmpty()


def test_triple_pr_against_planted_truth(spark, lexicon):
    """The north-rule headline metric: emitted mention triples vs the
    generator's planted ground truth at P/R >= 0.95. Scores the FULL chain
    (extract -> link -> triples -> canonical rewrite): a planted entity
    counts as recalled only if the final graph contains
    (turn, kg:mentions, <lexicon entity>) after provisional mentions have
    been CC-merged back onto their lexicon ids; any extra cas:/taxon:
    mention triple is a precision error. Corpus includes misspellings
    (fuzzy band), merge-band provisionals, and the 100x hot conversations."""
    from tera_spark.operators.canonical import canonical_mapping
    from tera_spark.operators.triples import replace_entities
    from tera_spark.pipeline.kg import build_triples

    pdf, truth_pdf = gen_transcripts(n_convs=400, return_truth=True)
    transcripts = spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    mentions = extract_mentions(transcripts)
    linked, alias_edges = link_mentions(mentions, lexicon)
    triples = replace_entities(
        build_triples(transcripts, linked), canonical_mapping(alias_edges)
    )
    pred_rows = (
        triples.filter(
            (F.col("predicate") == NS_KG + "mentions")
            & (F.col("object").startswith("cas:") | F.col("object").startswith("taxon:"))
        )
        .select("subject", "object")
        .distinct()
        .collect()
    )
    prefix = NS_KG + "turn/"
    pred = set()
    for r in pred_rows:
        conv, idx = r.subject[len(prefix):].rsplit("/", 1)
        pred.add((conv, int(idx), r.object))
    truth = {
        (r.conv_id, int(r.turn_idx), r.entity) for r in truth_pdf.itertuples()
    }
    tp = len(pred & truth)
    precision = tp / len(pred)
    recall = tp / len(truth)
    print(f"planted-truth P/R: precision={precision:.4f} recall={recall:.4f} "
          f"(pred={len(pred)} truth={len(truth)})")
    assert precision >= 0.95, (precision, len(pred), tp)
    assert recall >= 0.95, (recall, len(truth), tp)
    # verbatim (non-misspelled) plants must be essentially perfectly recalled
    verbatim = {
        (r.conv_id, int(r.turn_idx), r.entity)
        for r in truth_pdf.itertuples()
        if r.verbatim
    }
    assert len(pred & verbatim) / len(verbatim) >= 0.99


def _assert_tables_equal(spark, full_dir, inc_dir, read_live, via_live=True):
    for table in ("triples", "nodes", "edges", "mentions", "linked", "alias_edges"):
        fa = spark.read.parquet(f"{full_dir}/{table}").drop("_bucket")
        fb = (
            read_live(spark, inc_dir, table)
            if via_live
            else spark.read.parquet(f"{inc_dir}/{table}").drop("_bucket")
        )
        cols = sorted(fa.columns)
        a = {tuple(r) for r in fa.select(cols).collect()}
        b = {tuple(r) for r in fb.select(cols).collect()}
        assert a == b, f"{table}: full {len(a)} rows vs incremental {len(b)}"


def test_incremental_matches_full(spark, lexicon, tmp_path, persistent_rdd_ids):
    """Incremental maintenance equivalence: applying batches to a completed
    run yields live tables set-equal to a from-scratch run over the union —
    through the merge-on-read view AND, after compact(), through the plain
    base files; re-applying an applied batch is a no-op (seen-conversation
    guard). A PreparedLexicon the caller passes in stays the caller's: the
    batch's checkpoint scope leaves it pinned and usable."""
    from tera_spark.pipeline.incremental import (
        compact,
        read_live,
        run_pipeline_incremental,
    )
    from tera_spark.pipeline.link import prepare_lexicon

    t_all = transcripts_spark_df(spark, n_convs=40).cache()
    convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
    first = convs[:25]
    t1 = t_all.filter(F.col("conv_id").isin(first))
    t2 = t_all.filter(F.col("conv_id").isin(convs[25:33]))
    t3 = t_all.filter(F.col("conv_id").isin(convs[33:]))

    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")
    run_pipeline(spark, t_all, lexicon, full_dir)
    run_pipeline(spark, t1, lexicon, inc_dir)
    res = run_pipeline_incremental(spark, t2, lexicon, inc_dir, batch_id="b2")
    assert len(res.stages_run) == 6 and not res.stages_skipped
    # an explicitly reused batch_id refuses (lineage would collide); t3 is
    # not applied yet, so its delta is non-empty and the id check must fire
    # BEFORE anything is written
    with pytest.raises(ValueError, match="already committed"):
        run_pipeline_incremental(spark, t3, lexicon, inc_dir, batch_id="b2")
    # second batch: exercises merge-on-read state as the apply input
    prepared = prepare_lexicon(lexicon)
    n_lex = prepared.lex.count()
    res3 = run_pipeline_incremental(spark, t3, prepared, inc_dir, batch_id="b3")
    assert len(res3.stages_run) == 6
    assert lexicon_rdd_ids(prepared) <= persistent_rdd_ids()
    assert prepared.lex.count() == n_lex and not prepared.l_tok.isEmpty()
    prepared.release()

    # the base table files were NOT rewritten by apply (delta-sized cost):
    # live view differs from the raw base for at least one table
    base_triples = spark.read.parquet(f"{inc_dir}/triples").count()
    live_triples = read_live(spark, inc_dir, "triples").count()
    assert live_triples > base_triples > 0

    _assert_tables_equal(spark, full_dir, inc_dir, read_live, via_live=True)

    # the summed refcounts side table matches the full run's (additive
    # maintenance: base counts + each batch's refcounts_adds)
    from tera_spark.pipeline.incremental import read_refcounts

    def _rc(d):
        return {
            tuple(r)
            for r in read_refcounts(spark, d).select("rk", "k1", "k2", "n").collect()
        }

    assert _rc(inc_dir) == _rc(full_dir)

    # idempotency: resubmitting an applied batch is a guarded no-op
    res2 = run_pipeline_incremental(spark, t2, lexicon, inc_dir, batch_id="b2-again")
    assert res2.stages_run == [] and len(res2.stages_skipped) == 6

    # batch-scoped lineage rows exist alongside the base run's
    metrics = spark.read.parquet(f"{inc_dir}/metrics")
    stages = {r.stage for r in metrics.collect()}
    assert "triples@b2" in stages and "triples@b3" in stages and "mentions" in stages

    # compaction folds the deltas into the base and preserves equality
    compact(spark, inc_dir)
    assert not spark.read.parquet(f"{inc_dir}/triples").isEmpty()
    _assert_tables_equal(spark, full_dir, inc_dir, read_live, via_live=False)
    # live view over a compacted dir is just the base
    _assert_tables_equal(spark, full_dir, inc_dir, read_live, via_live=True)
    assert _rc(inc_dir) == _rc(full_dir)
    # the guard still knows every conversation after compaction
    res4 = run_pipeline_incremental(spark, t2, lexicon, inc_dir, batch_id="b2-postc")
    assert res4.stages_run == []


def test_incremental_mentionless_batch(spark, lexicon, tmp_path):
    """A batch whose turns yield zero mentions still applies (structure
    triples only; empty mention/linked/alias delta files are dropped, not
    written unreadable) and is guarded as applied on resubmit."""
    import datetime

    from tera_spark.pipeline.incremental import read_live, run_pipeline_incremental
    from tera_spark.streaming.extract_stream import TRANSCRIPT_SCHEMA

    out = str(tmp_path / "mb")
    run_pipeline(spark, transcripts_spark_df(spark, n_convs=8), lexicon, out)

    rows = [("zz-conv-1", 0, "user", "ok go on", None, datetime.datetime(2026, 1, 1))]
    batch = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    res = run_pipeline_incremental(spark, batch, lexicon, out, batch_id="mb")
    assert "triples@mb" in res.stages_run

    triples = read_live(spark, out, "triples")
    conv = triples.filter(F.col("subject") == NS_KG + "conv/zz-conv-1")
    assert conv.count() > 0  # structure triples for the new conversation
    # the other live views still read cleanly despite empty deltas
    assert read_live(spark, out, "mentions").count() >= 0
    assert read_live(spark, out, "alias_edges").count() > 0

    res2 = run_pipeline_incremental(spark, batch, lexicon, out, batch_id="mb2")
    assert res2.stages_run == []


def test_streaming_kg_ingest(spark, lexicon, tmp_path):
    """Structured Streaming incremental ingest: per-conversation transcript
    files stream into a live KG via foreachBatch → run_pipeline_incremental.
    After the stream drains, the live tables equal a from-scratch batch run
    over everything; restarting the drained stream applies nothing (replay
    idempotency); compact_every folds the batch dirs away mid-stream."""
    from tera_spark.pipeline.incremental import committed_batches, read_live
    from tera_spark.streaming.extract_stream import stream_kg_ingest

    t_all = transcripts_spark_df(spark, n_convs=24).cache()
    convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
    base = t_all.filter(F.col("conv_id").isin(convs[:12]))
    rest = t_all.filter(~F.col("conv_id").isin(convs[:12]))

    out = str(tmp_path / "kg")
    full_dir = str(tmp_path / "full")
    run_pipeline(spark, base, lexicon, out)
    run_pipeline(spark, t_all, lexicon, full_dir)

    # conversation-atomic landing files (the input contract): range
    # partitioning puts each conv_id in exactly one file
    in_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    rest.repartitionByRange(3, "conv_id").write.parquet(in_dir)

    q = stream_kg_ingest(spark, in_dir, out, ck, lexicon, max_files_per_trigger=1)
    q.awaitTermination(300)
    q.stop()
    n_batches = len(committed_batches(out))
    assert n_batches >= 2  # genuinely several micro-batches, each atomic
    _assert_tables_equal(spark, full_dir, out, read_live, via_live=True)

    # restart over the same checkpoint: nothing replays, nothing applies
    q2 = stream_kg_ingest(spark, in_dir, out, ck, lexicon, max_files_per_trigger=1)
    q2.awaitTermination(120)
    q2.stop()
    assert len(committed_batches(out)) == n_batches

    # a fresh checkpoint re-delivers everything — the seen-conv guard makes
    # every epoch a no-op (no new batch dirs, tables unchanged)
    q3 = stream_kg_ingest(
        spark, in_dir, out, str(tmp_path / "ck2"), lexicon, compact_every=1
    )
    q3.awaitTermination(120)
    q3.stop()
    # compact_every folded the existing batches into the base on the first
    # epoch; the no-op epochs added none
    assert committed_batches(out) == []
    _assert_tables_equal(spark, full_dir, out, read_live, via_live=False)


def test_incremental_crash_retry(spark, lexicon, tmp_path, monkeypatch):
    """A crash mid-apply leaves the live view bit-identical to the
    pre-batch state (uncommitted batch dirs are invisible), and the retry
    converges to exactly the from-scratch result — including the derived
    nodes/edges tables the old bucket-overwrite design could leave stale
    (the round-3 ADVICE scenario)."""
    import tera_spark.pipeline.incremental as inc

    t_all = transcripts_spark_df(spark, n_convs=24).cache()
    convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
    t1 = t_all.filter(F.col("conv_id").isin(convs[:18]))
    t2 = t_all.filter(~F.col("conv_id").isin(convs[:18]))

    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")
    run_pipeline(spark, t_all, lexicon, full_dir)
    run_pipeline(spark, t1, lexicon, inc_dir)

    pre = {
        t: inc.read_live(spark, inc_dir, t).count()
        for t in ("triples", "nodes", "edges")
    }

    # crash AFTER the triples delta commits its files but BEFORE nodes —
    # exactly the window that silently corrupted the overwrite design
    real = inc._write_part

    def boom(out_dir, batch_dir, name, df, **kw):
        if name == "nodes_adds":
            raise RuntimeError("injected crash before nodes write")
        return real(out_dir, batch_dir, name, df, **kw)

    monkeypatch.setattr(inc, "_write_part", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        inc.run_pipeline_incremental(spark, t2, lexicon, inc_dir, batch_id="cr")

    # live view unchanged — the half-written batch is invisible
    for t, n in pre.items():
        assert inc.read_live(spark, inc_dir, t).count() == n, t

    # retry (same batch) completes and matches the from-scratch run
    monkeypatch.setattr(inc, "_write_part", real)
    res = inc.run_pipeline_incremental(spark, t2, lexicon, inc_dir, batch_id="cr")
    assert len(res.stages_run) == 6
    _assert_tables_equal(spark, full_dir, inc_dir, inc.read_live, via_live=True)


def test_run_plan_waits_for_every_node_and_skips_dependents(spark):
    """run_plan returns each node's result. A node that raises while a
    sibling still sleeps is raised only after the sibling has ended (no
    thread is left writing into a dir a retry sweeps), and a node that
    reads the failed one never runs its fn."""
    import threading
    import time

    from tera_spark.pipeline.run import run_plan

    assert run_plan(spark, "t", [("a", lambda: 1), ("b", lambda a: a + 1, "a")]) == {
        "a": 1,
        "b": 2,
    }

    ended, ran = threading.Event(), []

    def sibling():
        time.sleep(1.0)
        ended.set()

    def boom():
        raise RuntimeError("node failed")

    with pytest.raises(RuntimeError, match="node failed"):
        run_plan(spark, "t", [
            ("sibling", sibling),
            ("boom", boom),
            ("after", lambda _: ran.append(1), "boom"),
        ])
    assert ended.is_set()
    assert ran == []


def _group_descriptions(spark, group: str) -> list:
    """The descriptions of every job in ``group``, None for an undescribed
    one."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(j).description()
        out.append(d.get() if d.isDefined() else None)
    return out


def _local_props(sc) -> dict:
    p = sc._jsc.sc().getLocalProperties()
    return {k: p.getProperty(k) for k in p.stringPropertyNames()}


def test_maintenance_jobs_are_labeled_and_recorded_in_order(
    spark, transcripts, lexicon, tmp_path, monkeypatch, persistent_rdd_ids
):
    """Every job of an apply, a forget and a compact() is in the caller's
    job group and described ``apply:``/``forget:``/``compact:``, and the
    caller's local properties and persistent-RDD set come back unchanged
    (every checkpoint the batch took is released), also from an apply
    whose part raised. With one queued part delayed so it finishes last,
    ``stages_run``, the part rows of ``metrics`` and the commit marker's
    ``stages`` still come out in declaration order. Every part and section
    row carries the Spark breakdown of its own ``<op>:<part or section>``
    jobs, in the result and in ``metrics/``."""
    import json
    import time

    import tera_spark.pipeline.incremental as inc
    from tera_spark.obs import FIELDS
    from tera_spark.pipeline.forget import run_pipeline_forget

    transcripts.count()
    lexicon.count()
    convs = sorted(r[0] for r in transcripts.select("conv_id").distinct().collect())
    out = str(tmp_path / "maint")
    run_pipeline(spark, transcripts.filter(~F.col("conv_id").isin(convs[26:])), lexicon, out)
    new = transcripts.filter(F.col("conv_id").isin(convs[26:]))
    sc = spark.sparkContext
    real = inc._write_part

    def call(op, fn, slow=None, fail=None):
        def write(out_dir, batch_dir, name, df, **kw):
            if name == fail:
                raise RuntimeError("injected part failure")
            if name == slow:
                time.sleep(1.0)
            return real(out_dir, batch_dir, name, df, **kw)

        monkeypatch.setattr(inc, "_write_part", write)
        group = f"maint-{op}-{fail}"
        before = _job_ids(spark)
        pinned = persistent_rdd_ids()
        sc.setJobGroup(group, op)
        props = _local_props(sc)
        try:
            try:
                return fn()
            finally:
                assert _local_props(sc) == props
                assert not persistent_rdd_ids() - pinned
        finally:
            sc._jsc.clearJobGroup()
            assert not _job_ids(spark) - before
            descriptions = _group_descriptions(spark, group)
            assert descriptions and all(
                (d or "").startswith(f"{op}:") for d in descriptions
            ), descriptions

    def check_order(res, parts, op):
        bid = res.stages_run[0].split("@")[1]
        assert res.stages_run == [f"{t}@{bid}" for t in parts]
        assert [m["stage"] for m in res.metrics if m["rows_out"] >= 0] == res.stages_run
        with open(f"{inc.committed_batches(out)[-1]}/_COMMITTED") as fh:
            assert json.load(fh)["stages"] == res.stages_run
        # a part row covers its part's jobs (apply writes adds, forget
        # tombstones), a section row the jobs started in that section
        descriptions = _group_descriptions(spark, f"maint-{op}-None")
        suffix = {"apply": "_adds", "forget": "_dels"}[op]
        for m in res.metrics:
            assert None not in [m[f] for f in FIELDS], m
            name = m["stage"].split("@")[0]
            name = name[1:] if name.startswith("_") else name + suffix
            assert m["jobs"] == descriptions.count(f"{op}:{name}"), m
            assert m["rows_out"] < 0 or m["jobs"] >= 1 and m["tasks"] >= 1, m
        stored = {r.stage: r.asDict() for r in spark.read.parquet(f"{out}/metrics").collect()}
        assert all(stored[m["stage"]] == m for m in res.metrics if m["rows_out"] >= 0)
        return bid

    with pytest.raises(RuntimeError, match="injected part failure"):
        call("apply", lambda: inc.run_pipeline_incremental(spark, new, lexicon, out),
             fail="mentions_adds")
    res = call("apply", lambda: inc.run_pipeline_incremental(spark, new, lexicon, out),
               slow="alias_edges_adds")
    check_order(res, ("mentions", "linked", "alias_edges", "triples", "nodes", "edges"), "apply")

    res = call("forget", lambda: run_pipeline_forget(spark, convs[:3], lexicon, out),
               slow="triples_dels")
    bid = check_order(res, ("triples", "ent_index", "edges", "nodes", "mentions", "linked",
                            "refcounts", "alias_edges", "canonical_map", "convs_applied"),
                      "forget")
    assert [m["stage"].split("@")[0] for m in res.metrics] == [
        "_open", "_collect_deleted", "_edges_removed", "_recanonicalize",
        "_slice_replace", "_survival_probe", "triples", "ent_index", "edges",
        "_conv_scoped", "nodes", "mentions", "linked", "refcounts", "alias_edges",
        "canonical_map", "convs_applied", "_nodes",
    ]
    assert all(m["stage"].endswith(f"@{bid}") for m in res.metrics)

    assert call("compact", lambda: inc.compact(spark, out))


def test_conversation_stats_profile(spark):
    from datetime import datetime

    from tera_spark.pipeline.kg import conversation_stats

    rows = [
        # c1: contiguous 0..2, tool on turn 1, ends with assistant
        ("c1", 0, "user", "hi", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("c1", 1, "assistant", "let me check", "search", datetime(2024, 1, 1, 0, 0, 1)),
        ("c1", 2, "assistant", "done", None, datetime(2024, 1, 1, 0, 0, 2)),
        # c2: GAP in turn_idx (0 then 2) → contiguous must be false
        ("c2", 0, "user", "a", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("c2", 2, "user", "b", None, datetime(2024, 1, 1, 0, 0, 2)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {r.conv_id: r for r in conversation_stats(df).collect()}
    c1 = got["c1"]
    assert (c1.n_turns, c1.n_user, c1.n_assistant) == (3, 1, 2)
    assert (c1.n_tool_calls, c1.n_tools) == (1, 1)
    assert c1.total_chars == len("hi") + len("let me check") + len("done")
    assert c1.contiguous and c1.last_role == "assistant"
    c2 = got["c2"]
    assert not c2.contiguous and c2.n_turns == 2 and c2.last_role == "user"


def test_cooc_pmi_hand_computed(spark):
    """PMI on a 4-turn micro-corpus: c1 is ubiquitous (3 turns), c2 rare
    (1 turn); both co-occur once with s1 (2 turns) — the rare chemical's
    association must score higher, and within-turn repeats count once."""
    import math

    from tera_spark.pipeline.kg import cooc_pmi_edges

    transcripts = spark.createDataFrame(
        [("k", i, "user", "t", None) for i in range(4)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    rows = [
        # turn 0: c1 + s1 (c1 twice in the turn — presence still 1)
        ("k", 0, "c1", "chemical"), ("k", 0, "c1", "chemical"), ("k", 0, "s1", "species"),
        # turn 1: c2 + s1
        ("k", 1, "c2", "chemical"), ("k", 1, "s1", "species"),
        # turns 2-3: c1 alone (drives its presence up, PMI down)
        ("k", 2, "c1", "chemical"), ("k", 3, "c1", "chemical"),
    ]
    linked = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, entity string, entity_kind string"
    )
    got = {(r.chem, r.spec): r for r in cooc_pmi_edges(linked, transcripts).collect()}
    assert set(got) == {("c1", "s1"), ("c2", "s1")}
    # N=4; c1: n_c=3, c2: n_c=1, s1: n_s=2, both coocs 1
    assert got[("c1", "s1")].n_cooc == 1 and got[("c2", "s1")].n_cooc == 1
    assert got[("c1", "s1")].pmi == round(math.log(1 * 4 / (3 * 2)), 6)
    assert got[("c2", "s1")].pmi == round(math.log(1 * 4 / (1 * 2)), 6)
    assert got[("c2", "s1")].pmi > got[("c1", "s1")].pmi


def test_entity_activity_intervals(spark):
    from datetime import datetime

    from tera_spark.pipeline.kg import entity_activity

    t0, t1, t2 = (datetime(2026, 1, 1, 0, m) for m in range(3))
    transcripts = spark.createDataFrame(
        [("a", 0, t0), ("a", 1, t1), ("b", 0, t2)],
        "conv_id string, turn_idx int, ts timestamp",
    )
    linked = spark.createDataFrame(
        [
            # e1 in both convs; twice in turn (a,0) — counted once
            ("a", 0, "e1", "chemical", "term"),
            ("a", 0, "e1", "chemical", "term"),
            ("b", 0, "e1", "chemical", "term"),
            ("a", 1, "e2", "species", "term"),
            # quantity rows never count
            ("a", 1, None, "quantity", "quantity"),
        ],
        "conv_id string, turn_idx int, entity string, entity_kind string, kind string",
    )
    got = {r.entity: r for r in entity_activity(linked, transcripts).collect()}
    assert set(got) == {"e1", "e2"}
    e1, e2 = got["e1"], got["e2"]
    assert (e1.first_seen, e1.last_seen, e1.n_turns, e1.n_convs) == (t0, t2, 2, 2)
    assert (e2.first_seen, e2.last_seen, e2.n_turns, e2.n_convs) == (t1, t1, 1, 1)


def test_context_windows_hand_traced(spark):
    """Sliding k=2 context over two conversations: frame is bounded,
    ordering is (conv_id, turn_idx), NULL text keeps its separator."""
    from tera_spark.pipeline.kg import context_windows

    rows = [
        ("c1", 0, "user", "hi", None, None),
        ("c1", 1, "assistant", "yo", None, None),
        ("c1", 2, "user", None, None, None),  # NULL text
        ("c1", 3, "assistant", "bye", None, None),
        ("c2", 0, "user", "solo", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        (r.conv_id, r.turn_idx): r
        for r in context_windows(df, k=2, sep="\n").collect()
    }
    assert got[("c1", 0)].context == "user: hi"
    assert got[("c1", 0)].n_context_turns == 1
    assert got[("c1", 2)].context == "user: hi\nassistant: yo\nuser: "
    assert got[("c1", 2)].n_context_turns == 3
    # k=2 frame: turn 3 sees turns 1..3 only, not turn 0
    assert got[("c1", 3)].context == "assistant: yo\nuser: \nassistant: bye"
    assert got[("c2", 0)].context == "user: solo"


def test_snapshot_diff_add_remove_and_set_semantics(spark):
    from tera_spark.pipeline.kg import snapshot_diff

    schema = "subject string, predicate string, object string, obj_is_literal boolean"
    old = spark.createDataFrame(
        [
            ("a", "p", "x", False),
            ("a", "p", "x", False),  # dup within snapshot → set semantics
            ("b", "p", "y", False),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [("a", "p", "x", False), ("c", "p", "z", True)], schema
    )
    got = {
        (r.subject, r.predicate, r.object, r.obj_is_literal): r.change
        for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        ("b", "p", "y", False): "removed",
        ("c", "p", "z", True): "added",
    }


def test_chunk_documents_windows_and_suffix_rule(spark):
    """chunk=4, stride=3 over a 10-token doc: starts 0,3,6,9; the start-9
    window (len 1 <= 4-3) is a pure suffix of the start-6 window and must
    be dropped; empty/NULL docs yield no chunks."""
    from tera_spark.operators.corpus import chunk_documents

    text10 = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text10), (2, "  only  two "), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    one = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [(r.chunk_start, r.chunk_len, r.chunk_text) for r in one] == [
        (0, 4, "w0 w1 w2 w3"),
        (3, 4, "w3 w4 w5 w6"),
        (6, 4, "w6 w7 w8 w9"),
        # start 9 dropped: len 1 <= chunk_tokens - stride
    ]
    # every token appears in >= 1 kept chunk
    covered = set()
    for r in one:
        covered.update(r.chunk_text.split(" "))
    assert covered == {f"w{i}" for i in range(10)}
    assert [(r.chunk_idx, r.chunk_len, r.chunk_text) for r in by_doc[2]] == [
        (0, 2, "only two")
    ]
    assert 3 not in by_doc and 4 not in by_doc


def test_tool_transitions_markov_counts(spark):
    """Plain-text turns are transparent (c1: search@1 → calc@3 is one
    transition); each conversation's first tool call transitions from
    '<start>'; counts aggregate across conversations."""
    from tera_spark.pipeline.kg import tool_transitions

    rows = [
        ("c1", 0, "user", "q", None, None),
        ("c1", 1, "assistant", "a", "search", None),
        ("c1", 2, "assistant", "b", None, None),  # transparent
        ("c1", 3, "assistant", "c", "calc", None),
        ("c2", 0, "assistant", "d", "search", None),
        ("c2", 1, "assistant", "e", "search", None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        (r.prev_tool, r.tool): r.n_transitions
        for r in tool_transitions(df).collect()
    }
    assert got == {
        ("<start>", "search"): 2,
        ("search", "calc"): 1,
        ("search", "search"): 1,
    }


def test_negative_samples_filtered_and_deterministic(spark):
    """Corruptions come from the object universe, never reproduce a true
    (subject, predicate, object) edge, and the whole sample is a pure
    function of the edge set (two runs byte-identical)."""
    from tera_spark.pipeline.kg import negative_samples

    rows = [
        ("s1", "p", "e1"),
        ("s1", "p", "e2"),
        ("s2", "p", "e1"),
        ("s2", "p", "e3"),
    ]
    df = spark.createDataFrame(rows, "subject string, predicate string, object string")
    out1 = sorted(map(tuple, negative_samples(df, per_edge=2).collect()))
    out2 = sorted(map(tuple, negative_samples(df, per_edge=2).collect()))
    assert out1 == out2 and 0 < len(out1) <= 8
    universe = {"e1", "e2", "e3"}
    true_edges = set(rows)
    for s, p, o, k, neg in out1:
        assert neg in universe and k in (0, 1)
        assert (s, p, neg) not in true_edges
        assert (s, p, o) in true_edges


def test_render_conversations_order_and_nulls(spark):
    """Render is (turn_idx)-ordered regardless of input row order; NULL
    text keeps its 'role: ' line."""
    from tera_spark.pipeline.kg import render_conversations

    rows = [  # deliberately out of order
        ("c1", 2, "user", None, None, None),
        ("c1", 0, "user", "hi", None, None),
        ("c1", 1, "assistant", "yo", None, None),
        ("c2", 0, "user", "solo", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {r.conv_id: r for r in render_conversations(df).collect()}
    assert got["c1"].rendered == "user: hi\nassistant: yo\nuser: "
    assert got["c1"].n_turns == 3
    assert got["c2"].rendered == "user: solo"


def test_negative_samples_typed_stays_in_class(spark):
    """Every corruption carries the true object's class; accidental
    positives drop; determinism holds; unclassed objects are excluded."""
    from tera_spark.pipeline.kg import negative_samples_typed

    edges = [
        ("s1", "p", "c1"),
        ("s1", "p", "c2"),
        ("s2", "p", "x1"),
        ("s3", "p", "unclassed"),
    ]
    df = spark.createDataFrame(edges, "subject string, predicate string, object string")
    classes = spark.createDataFrame(
        [("c1", "chem"), ("c2", "chem"), ("c3", "chem"), ("x1", "spec"), ("x2", "spec")],
        "entity string, cls string",
    )
    out1 = sorted(map(tuple, negative_samples_typed(df, classes, per_edge=3).collect()))
    out2 = sorted(map(tuple, negative_samples_typed(df, classes, per_edge=3).collect()))
    assert out1 == out2 and len(out1) > 0
    cls_of = {"c1": "chem", "c2": "chem", "c3": "chem", "x1": "spec", "x2": "spec"}
    true_edges = set(edges)
    for s, p, o, k, neg in out1:
        assert o != "unclassed"          # no universe → excluded
        assert cls_of[neg] == cls_of[o]  # hard-negative constraint
        assert (s, p, neg) not in true_edges


def test_turn_gaps_median_and_singleton(spark):
    """Gaps 60s/120s/600s → median = value at ceil(3/2)=2nd smallest
    (120s), max 600s, exact microseconds; single-turn conv reports
    n_gaps=0 with NULL stats."""
    from datetime import datetime

    from tera_spark.pipeline.kg import turn_gaps

    rows = [
        ("c1", 0, "user", "a", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("c1", 1, "assistant", "b", None, datetime(2024, 1, 1, 0, 1, 0)),
        ("c1", 2, "user", "c", None, datetime(2024, 1, 1, 0, 3, 0)),
        ("c1", 3, "assistant", "d", None, datetime(2024, 1, 1, 0, 13, 0)),
        ("c2", 0, "user", "solo", None, datetime(2024, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {r.conv_id: r for r in turn_gaps(df).collect()}
    c1 = got["c1"]
    assert c1.n_gaps == 3
    assert c1.median_gap_us == 120 * 1_000_000
    assert c1.max_gap_us == 600 * 1_000_000
    c2 = got["c2"]
    assert c2.n_gaps == 0 and c2.median_gap_us is None and c2.max_gap_us is None


def test_read_live_time_travel(spark, lexicon, tmp_path):
    """as_of_seq prefix reads reproduce each historical snapshot exactly:
    0 = the pre-apply base, 1 = after the first batch (captured before the
    second batch existed), full read = after both."""
    from tera_spark.pipeline.incremental import read_live, run_pipeline_incremental

    t_all = transcripts_spark_df(spark, n_convs=12).cache()
    convs = sorted(r[0] for r in t_all.select("conv_id").distinct().collect())
    t1 = t_all.filter(F.col("conv_id").isin(convs[:6]))
    t2 = t_all.filter(F.col("conv_id").isin(convs[6:9]))
    t3 = t_all.filter(F.col("conv_id").isin(convs[9:]))

    out = str(tmp_path / "tt")
    run_pipeline(spark, t1, lexicon, out)

    def snap(table, **kw):
        return set(map(tuple, read_live(spark, out, table, **kw).collect()))

    base0 = snap("triples")
    run_pipeline_incremental(spark, t2, lexicon, out, batch_id="tt2")
    after1 = snap("triples")
    nodes_after1 = snap("nodes")
    run_pipeline_incremental(spark, t3, lexicon, out, batch_id="tt3")

    assert snap("triples", as_of_seq=0) == base0
    assert snap("triples", as_of_seq=1) == after1
    assert snap("triples", as_of_seq=99) == snap("triples")  # beyond head = latest
    assert snap("triples") > after1 > base0  # strictly growing history
    import pytest as _pt

    with _pt.raises(ValueError):
        read_live(spark, out, "triples", as_of_seq=-1)
    # keyed upsert tables (nodes resolve via the sequenced upsert log)
    # travel too
    assert snap("nodes", as_of_seq=1) == nodes_after1
    assert snap("nodes") != nodes_after1


def test_entity_freshness_decay(spark):
    """An entity mentioned only long ago scores below one mentioned at
    the corpus head; a same-turn double mention counts once; freshness
    at age 0 contributes exactly 1.0."""
    from datetime import datetime, timedelta

    from tera_spark.pipeline.kg import entity_freshness

    t0 = datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "x", None, t0),
        ("c1", 1, "user", "x", None, t0 + timedelta(hours=48)),
    ]
    transcripts = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    linked = spark.createDataFrame(
        [
            ("c1", 0, "old_ent", "chemical"),
            ("c1", 1, "new_ent", "chemical"),
            ("c1", 1, "new_ent", "chemical"),  # same-turn repeat → once
        ],
        "conv_id string, turn_idx int, entity string, entity_kind string",
    )
    got = {
        r.entity: r
        for r in entity_freshness(linked, transcripts, tau_hours=24.0).collect()
    }
    import math

    assert got["new_ent"].freshness == 1.0 and got["new_ent"].n_turns == 1
    assert got["old_ent"].freshness == round(math.exp(-2.0), 6)


def test_conversation_entropy_signatures(spark):
    """Ping-pong (2 roles, alternating) vs monologue (1 role): role
    entropy ln 2 vs 0.0 (never -0.0); alternation has 2 equiprobable
    transitions -> ln 2; singleton conv reports NULL transition
    entropy."""
    import math

    from tera_spark.pipeline.kg import conversation_entropy

    rows = (
        [("p", i, ["user", "assistant"][i % 2], "t", None, None) for i in range(4)]
        + [("m", i, "assistant", "t", None, None) for i in range(4)]
        + [("s", 0, "user", "t", None, None)]
    )
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {r.conv_id: r for r in conversation_entropy(df).collect()}
    ln2 = round(math.log(2), 6)
    p = got["p"]
    assert p.role_entropy == ln2
    # transitions u->a (2), a->u (1): H = -(2/3 ln 2/3 + 1/3 ln 1/3)
    expected = round(-(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3)), 6)
    assert p.transition_entropy == expected
    m = got["m"]
    assert m.role_entropy == 0.0 and str(m.role_entropy) == "0.0"
    assert m.transition_entropy == 0.0
    s = got["s"]
    assert s.role_entropy == 0.0 and s.transition_entropy is None


def test_link_mentions_checkpoint_gate(
    spark, transcripts, lexicon, tmp_path, persistent_rdd_ids
):
    """link_mentions localCheckpoints its mentions input once (the linked
    union re-derives its input per branch) unless the caller passes
    materialized=True (run.py/incremental/forget re-read their stage
    tables cheaply). Extraction over parquet-backed transcripts is NOT
    materialized — a file scan in the lineage says nothing about the UDF
    above it — and must get the checkpoint. Outputs are identical."""
    from tera_spark.pipeline.extract import extract_mentions
    from tera_spark.pipeline.link import link_mentions

    # materialize BOTH cached fixtures outside the measured windows (cold,
    # they register extra persistent RDDs during the first link call and
    # skew the counts below)
    transcripts.count()
    lexicon.count()
    mentions = extract_mentions(transcripts)

    def n_new(before: set[int]) -> int:
        # RDDs persisted since `before`: ids only grow, so Spark's
        # ContextCleaner unpersisting earlier tests' unreachable
        # checkpoints inside the window does not change this count
        return len(persistent_rdd_ids() - before)

    before = persistent_rdd_ids()
    linked_mem, _ = link_mentions(mentions, lexicon)
    with_derived = n_new(before)

    path = str(tmp_path / "mentions.parquet")
    mentions.write.parquet(path)
    m_parq = spark.read.parquet(path)
    before = persistent_rdd_ids()
    linked_parq, _ = link_mentions(m_parq, lexicon, materialized=True)
    with_parquet = n_new(before)

    t_path = str(tmp_path / "transcripts.parquet")
    transcripts.write.parquet(t_path)
    m_file = extract_mentions(spark.read.parquet(t_path))
    before = persistent_rdd_ids()
    linked_file, _ = link_mentions(m_file, lexicon)
    with_file_lineage = n_new(before)

    # derived lineage gets exactly one extra checkpointed RDD vs parquet,
    # whether its transcripts came from memory or from files
    assert with_derived == with_parquet + 1
    assert with_file_lineage == with_parquet + 1
    a = {tuple(r) for r in linked_mem.collect()}
    b = {tuple(r) for r in linked_parq.collect()}
    assert a == b
    assert {tuple(r) for r in linked_file.collect()} == a


def test_link_mentions_jobs_stay_in_callers_group(spark, lexicon):
    """Every job a non-materialized link_mentions starts, the mentions
    checkpoint it overlaps with lexicon preparation included, is in the
    caller's job group, so cancelJobGroup reaches all of them."""
    from tera_spark.pipeline.extract import extract_mentions
    from tera_spark.pipeline.link import link_mentions

    lexicon.count()
    mentions = extract_mentions(transcripts_spark_df(spark, n_convs=10))
    sc = spark.sparkContext
    before = _job_ids(spark)
    sc.setJobGroup("link-group", "link_mentions")
    try:
        link_mentions(mentions, lexicon)
    finally:
        sc._jsc.clearJobGroup()
    assert not _job_ids(spark) - before
    assert _group_descriptions(spark, "link-group")
