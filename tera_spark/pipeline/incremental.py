"""Incremental KG maintenance: apply a batch of NEW transcripts to an
existing ``run_pipeline`` output without recomputing the per-turn stages
over the old corpus — with apply cost proportional to the BATCH, not the
base (delta-log / merge-on-read layout).

Why this exists: at the design-point corpus (10^12 turns) a full re-run per
ingest batch is a non-starter — the per-turn stages (extraction, linking)
are 95%+ of the work and are embarrassingly parallel *per conversation*, so
a new batch only needs them over ITS conversations. The only global state
is entity canonicalization (connected components over alias edges) and the
tables derived from it. The update exploits two structural facts:

1. **Alias edges are append-only** (linking is a pure per-surface-form
   function of the lexicon — the same normalized mention always produces
   the same edge, new batches can only ADD edges), so canonical components
   only ever MERGE and the representative of a component (its min id) only
   ever DECREASES. Consequences used throughout: (a) an id stored in the
   live triples is by construction its own canonical representative, so
   the exact rewrite map for stored values is ``new_mapping`` minus keys
   the old mapping already rewrote — delta-sized, broadcastable; (b) an id
   that has been merged away can never become a representative again, so a
   tombstoned triple/edge row can never be re-added — the read-time merge
   is an order-insensitive anti-join, no sequencing needed.
2. **Every table is hash-bucketed by its subject-side key** with the same
   ``pmod(xxhash64(key), N)`` function: base stages, every delta part
   (adds and tombstones) and ``compact()`` are all written by the one
   ``write_bucketed`` (pipeline/run.py, reading ``TABLE_LAYOUT``), so
   files written by a batch use the same clustering as the base and a
   later ``compact()`` folds them in without re-deriving anything.

Storage layout (a delta log in plain parquet, shaped like a table
format's — adds ≈ data files of a new snapshot, dels ≈ equality-delete
files, ``compact()`` ≈ rewrite_data_files)::

    <out>/<table>/_bucket=b/...                      # base — NEVER mutated
    <out>/_batches/b<seq>_<batch_id>/
        <table>_adds/_bucket=b/...                   # delta-sized
        <table>_dels/_bucket=b/...                   # key rows (tombstones)
        convs_applied_adds/_bucket=b/...             # this batch's conv_ids
        _COMMITTED                                   # json marker, written LAST

Read-time merge (``read_live``), all map-side — ZERO shuffles of the base:

- append tables (mentions, linked): ``base ∪ adds`` (the seen-conversation
  guard makes batches conv-disjoint from the base, so this is exact
  multiset union).
- set tables (triples, edges, alias_edges): ``(base ∪ adds) ⟕̸ dels`` —
  adds are written already-deduplicated against the pre-batch live view
  (probe below), so no read-time dropDuplicates; dels are delta-sized and
  broadcast.
- keyed tables (nodes; canonical_map): upsert log — latest add per key
  wins over base; del tombstones erase merged-away ids. The log is
  delta-sized and sequenced by batch seq.
- maintenance side tables, same mechanics: ``canonical_map`` (the CC
  result, persisted by run_pipeline so apply never re-runs CC over the
  old alias universe), ``ent_index`` (the shared-row subset of the
  triples, so the fast path never reads the corpus-sized base), and
  ``refcounts`` (raw-keyed emission counts, ``read_refcounts`` — summed
  arithmetic merge rather than upsert; applies add, forgets subtract,
  pipeline/kg.py emission_refcounts defines the keys).

Cost model (per batch): per-turn stages O(|delta|); connected components
run only over the batch's CONTRACTED new alias edges, through
``canonical_mapping`` (operators/canonical.py — which picks the exact
driver-side union-find at these delta sizes); the persisted
``canonical_map`` supplies the old components, never recomputed. On the
steady-state FAST path (no stored canonical id changed) the corpus-sized
base triples are NEVER read — one scan of the vocabulary-sized
``ent_index`` (exactly ``live_triples.filter(shared_row_expr())``, the
only rows two conversations can both emit — pipeline/kg.py) answers both
the set-semantics dup check and the node recompute. Only the rare SLOW
path (a component merge rewrote a stored id) scans the base triples, for
the rewrite probe. All writes delta-sized; nothing shuffles or rewrites
the base. Read cost grows with the number of uncompacted batches (a
handful of extra file unions + a broadcast anti-join) — ``compact()``
bounds it and amortizes the one full rewrite across many batches.

Crash safety / idempotency: a batch's files all live under its own
``_batches`` dir and become visible only with the ``_COMMITTED`` marker,
written last — a crashed apply leaves the live view bit-identical to the
pre-batch state, and the retry (which first sweeps uncommitted dirs)
recomputes the same bytes from the same inputs. A fully-applied batch
re-submitted is dropped by the seen-conversation guard (conv_ids are part
of the committed batch dir, so the guard commits atomically WITH the
data). ``batch_id`` defaults to a content hash of the batch's conv_ids, so
lineage/metrics rows (``<stage>@<batch_id>``) never collide across
batches; an explicit batch_id that was already committed raises.
``compact()`` is a stop-the-world maintenance op (manifest-protected
two-phase swap, self-recovering on retry). Equivalence with a from-scratch
run over (old ∪ delta) — before AND after compaction — is asserted in
tests/test_pipeline.py.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tera_spark.checkpoints import checkpoint, checkpoint_scope
from tera_spark.constants import RDF_TYPE, RDFS_LABEL
from tera_spark.operators.canonical import canonical_mapping
from tera_spark.operators.triples import replace_entities
from tera_spark.pipeline.extract import extract_mentions
from tera_spark.pipeline.kg import (
    build_triples,
    emission_refcounts,
    kg_edges,
    kg_nodes,
    shared_row_expr,
)
from tera_spark.pipeline.link import PreparedLexicon, link_mentions, prepare_lexicon
from tera_spark.pipeline.run import (
    PipelineResult,
    _done,
    _record,
    record_metrics,
    run_plan,
    write_bucketed,
)
from tera_spark.sources.writers import read_table

TABLES = ("mentions", "linked", "alias_edges", "triples", "nodes", "edges")
# maintenance side tables: run_pipeline writes all four, every batch and
# compact() keep them current
SIDE_TABLES = ("canonical_map", "ent_index", "convs_applied", "refcounts")
_TRIPLE_COLS = ["subject", "predicate", "object", "obj_is_literal"]
_TRIPLE_KEY = ["subject", "predicate", "object"]
_EDGE_KEY = ["src", "pred", "dst"]
# tombstone key per add/del-merged table (the upsert tables — nodes,
# canonical_map, convs_applied — carry their key in _UPSERT_KEYS instead)
_DEL_KEYS = {
    "triples": _TRIPLE_KEY,
    "ent_index": _TRIPLE_KEY,
    "edges": _EDGE_KEY,
    "alias_edges": ["u", "v"],
    "mentions": ["conv_id"],
    "linked": ["conv_id"],
}
_UPSERT_KEYS = {"nodes": "id", "canonical_map": "old", "convs_applied": "conv_id"}
BATCHES_DIR = "_batches"
_MANIFEST = "_compact_manifest.json"


# ---------------------------------------------------------------------------
# batch-dir bookkeeping


def _batches_root(out_dir: str) -> str:
    return os.path.join(out_dir, BATCHES_DIR)


def committed_batches(out_dir: str) -> list[str]:
    """Committed batch dirs in apply order (dir names are b<seq>_<id> with a
    zero-padded seq, so lexicographic order IS apply order)."""
    root = _batches_root(out_dir)
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("b") and os.path.exists(os.path.join(root, d, "_COMMITTED"))
    )


def _sweep_uncommitted(out_dir: str) -> None:
    """Remove crashed-apply leftovers: batch dirs without a commit marker
    are invisible to every reader and recomputed verbatim on retry."""
    root = _batches_root(out_dir)
    if not os.path.isdir(root):
        return
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith("b") and not os.path.exists(os.path.join(p, "_COMMITTED")):
            shutil.rmtree(p, ignore_errors=True)


def _read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    return read_table(spark, path) if os.path.exists(path) else None


def _union_batch_parts(
    spark: SparkSession, batches: list[str], suffix: str, with_seq: bool = False
) -> DataFrame | None:
    parts = []
    for seq, b in enumerate(batches, start=1):
        df = _read_if_exists(spark, os.path.join(b, suffix))
        if df is not None:
            parts.append(df.withColumn("_seq", F.lit(seq)) if with_seq else df)
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# merge-on-read


def read_live(
    spark: SparkSession,
    out_dir: str,
    table: str,
    as_of_seq: int | None = None,
) -> DataFrame:
    """The live contents of ``table``: base merged with every COMMITTED
    batch's delta files. Entirely map-side — add/del tables are a file
    union plus a broadcast join against the delta-sized tombstones; the
    keyed upsert tables (nodes, canonical_map, convs_applied) resolve
    their (small) upsert log with a window over the log only, never the
    base.

    ``as_of_seq``: TIME TRAVEL — merge only the first ``as_of_seq``
    committed batches (0 = the base snapshot before any apply), i.e. the
    table exactly as it stood after batch ``as_of_seq`` committed. The
    delta-log's append-only layout makes every historical snapshot a
    free prefix read (Iceberg's snapshot-id read, expressed on the
    parquet fallback); pair with ``pipeline.kg.snapshot_diff`` to audit
    what any batch changed. Values beyond the committed count read the
    full log (the latest snapshot).

    Tombstones are SEQUENCED, not global: a row survives iff no tombstone
    for its key has a seq strictly greater than the row's own batch seq
    (base rows are seq 0; within one batch, adds win over dels — a forget
    batch tombstones the affected slice and re-adds its surviving part at
    the same seq). Append-only histories never hit the distinction (a
    merge-monotonic tombstone key can never be re-added), but forget
    batches can delete a key a LATER batch legitimately re-adds — e.g. a
    conversation deleted and re-ingested, or an entity re-merged after a
    split — and the global anti-join would erase the re-add."""
    base = read_table(spark, os.path.join(out_dir, table))
    batches = committed_batches(out_dir)
    if as_of_seq is not None:
        if as_of_seq < 0:
            raise ValueError("as_of_seq must be >= 0")
        # prefix slice keeps each batch's original seq (enumeration in
        # _union_batch_parts restarts at 1 over the prefix — identical
        # numbering, so sequenced tombstones resolve exactly as they did
        # when that batch was the head)
        batches = batches[:as_of_seq]
    if not batches:
        return base

    if table in _UPSERT_KEYS:
        return _merge_upsert(spark, base, batches, table, _UPSERT_KEYS[table])

    cols = base.columns
    all_rows = base.withColumn("_seq", F.lit(0))
    adds = _union_batch_parts(spark, batches, f"{table}_adds", with_seq=True)
    if adds is not None:
        all_rows = all_rows.unionByName(adds.select(*cols, "_seq"))
    dels = _union_batch_parts(spark, batches, f"{table}_dels", with_seq=True)
    if dels is None:
        return all_rows.drop("_seq")
    key = _DEL_KEYS[table]
    dmax = dels.groupBy(key).agg(F.max("_seq").alias("_del_seq"))
    return (
        all_rows.join(F.broadcast(dmax), key, "left")
        .filter(F.col("_del_seq").isNull() | (F.col("_seq") >= F.col("_del_seq")))
        .select(*cols)
    )


def read_refcounts(
    spark: SparkSession, out_dir: str, k1_filter: DataFrame | None = None
) -> DataFrame:
    """Live emission refcounts (pipeline/kg.py emission_refcounts): base
    counts plus every committed batch's ``refcounts_adds`` minus its
    ``refcounts_dels``, summed per (rk, k1, k2), rows with n ≤ 0 dropped.
    Counts are additive (conv-disjoint batches, raw merge-invariant keys),
    so no sequencing is needed — a forget's subtract and a later
    re-ingest's add commute.

    ``k1_filter``: optional single-column ``k1`` frame; pushed BELOW the
    aggregation as a broadcast semi-join, so a component-restricted read
    (the forget survival probe) aggregates only the matching keys instead
    of the whole vocabulary."""
    base = read_table(spark, os.path.join(out_dir, "refcounts"))
    rows = base
    batches = committed_batches(out_dir)
    adds = _union_batch_parts(spark, batches, "refcounts_adds")
    if adds is not None:
        rows = rows.unionByName(adds.select(*base.columns))
    dels = _union_batch_parts(spark, batches, "refcounts_dels")
    if dels is not None:
        rows = rows.unionByName(
            dels.withColumn("n", -F.col("n")).select(*base.columns)
        )
    if k1_filter is not None:
        rows = rows.join(F.broadcast(k1_filter.select("k1")), "k1", "left_semi")
    return (
        rows.groupBy("rk", "k1", "k2")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
    )


def _merge_upsert(
    spark: SparkSession, base: DataFrame, batches: list[str], table: str, key: str
) -> DataFrame:
    """Keyed upsert log merge (nodes, canonical_map): the latest batch's
    add wins per key; del tombstones erase the key. The log is delta-sized
    (bounded by compaction) — only it is windowed, never the base."""
    from pyspark.sql import Window

    adds = _union_batch_parts(spark, batches, f"{table}_adds", with_seq=True)
    dels = _union_batch_parts(spark, batches, f"{table}_dels", with_seq=True)
    if adds is None and dels is None:
        return base
    cols = base.columns
    log = None
    if adds is not None:
        log = adds.withColumn("_op", F.lit("add"))
    if dels is not None:
        d = dels.withColumn("_op", F.lit("del"))
        for c in cols:
            if c not in d.columns:
                d = d.withColumn(c, F.lit(None).cast(base.schema[c].dataType))
        d = d.select(*cols, "_seq", "_op")
        log = d if log is None else log.select(*cols, "_seq", "_op").unionByName(d)
    latest = (
        log.withColumn(
            "_rn",
            # within one batch (same seq) the add wins: a forget batch
            # tombstones an affected key and re-upserts its surviving row
            F.row_number().over(
                Window.partitionBy(key).orderBy(
                    F.col("_seq").desc(), F.col("_op").asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_seq")
    )
    keep = base.join(F.broadcast(latest.select(key)), key, "left_anti")
    return keep.unionByName(latest.filter(F.col("_op") == "add").select(cols))


# ---------------------------------------------------------------------------
# apply


def _write_part(out_dir: str, batch_dir: str, name: str, df: DataFrame, *, tag: str, record: bool):
    """Write one delta part (``<table>_adds`` or ``<table>_dels``) under the
    (uncommitted) batch dir with ``write_bucketed`` in its table's layout,
    so each bucket dir gets one file and compact() can fold it straight
    in. Tombstones are bucketed like adds: every tombstone frame carries
    its table's bucket key, and its lineage counts are the rows in each
    bucket dir; with ``record``, its lineage is written under ``tag``.
    Returns ``(schema, metrics row)``, None for an empty part's schema or
    an unrecorded row; ``_Batch.commit`` writes the rows.

    Bucketed tombstones cost more than the unbucketed ``coalesce(4)``
    files they replaced, which recorded no per-bucket lineage at all:
    each part pays the clustering shuffle (one more job) and writes up to
    one file per bucket (32, not ≤4); a bucket file costs ~15 ms of
    executor time. A batch's queued parts are written at once
    (``_Batch.commit``), so a part's recorded seconds overlap its
    siblings'. On the 30-conversation test fixture (4 vCPUs, forgetting 3
    conversations) a forget's 15 parts took ~1.9–2.2 s of wall written at
    once against ~2.6 s one after another, while one part's own seconds
    rose from ~0.15–0.3 s to ~1–2.2 s, 15 parts sharing 4 cores."""
    t0 = time.time()
    path = os.path.join(batch_dir, name)
    counts, schema = write_bucketed(df, name.rsplit("_", 1)[0], path)
    row = _record(out_dir, tag, counts, time.time() - t0) if record else None
    if int(counts["rows"]) == 0:
        # an empty delta part is correct but unreadable (parquet schema
        # inference fails on a fileless dir) — drop it; its absence means
        # the same thing to the read-time merge
        shutil.rmtree(path, ignore_errors=True)
        schema = None
    return schema, row


class _Batch:
    """The lifecycle of one delta batch, shared by apply and forget; a
    context manager that restores the caller's Spark local properties and
    holds the batch's ``checkpoint_scope``: every checkpoint the batch
    takes — a lexicon it prepares, link_mentions' tables, the pre-batch
    snapshots and probes — is released when the ``with`` block exits,
    committed or not. A batch returns only its ``PipelineResult``.

    Construction checks for every table ``run_pipeline`` writes and no
    interrupted ``compact()``, sweeps uncommitted leftovers, fixes ``seq``
    and starts the timed section ``open``; ``open`` creates the batch dir;
    ``phase`` starts the next section; ``part`` queues a delta part,
    ``read_back`` writes one now; ``commit`` writes the queued parts as
    one plan, then the batch's metrics rows (each with the Spark breakdown
    of its ``<op>:<section or part>`` jobs, from one status-store read) and
    the ``_COMMITTED`` marker. Rows keep declaration order."""

    def __init__(self, spark: SparkSession, out_dir: str, op: str) -> None:
        missing = [t for t in (*TABLES, *SIDE_TABLES) if not _done(os.path.join(out_dir, t))]
        if missing:
            raise ValueError(
                f"{op} needs a completed run_pipeline output at {out_dir}; "
                f"missing tables: {missing}"
            )
        if os.path.exists(os.path.join(out_dir, _MANIFEST)):
            raise RuntimeError(
                f"interrupted compact() at {out_dir}: run compact() to finish the swap"
            )
        _sweep_uncommitted(out_dir)
        self.spark, self.out_dir, self.op = spark, out_dir, op
        self.committed = committed_batches(out_dir)
        self.seq = len(self.committed) + 1
        self.res = PipelineResult(out_dir=out_dir)
        self._since_ms = int(time.time() * 1000)
        self._props = spark.sparkContext._jsc.sc().getLocalProperties().clone()
        self._queue = []  # (name, df, record, row) of the parts commit writes
        self._rows = []   # metrics rows in declaration order, {} until written
        self._groups = {}  # row stage → the job descriptions it covers
        self._section = None
        self.phase("open")

    def __enter__(self) -> _Batch:
        self._scope = checkpoint_scope()
        self._scope.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        self.spark.sparkContext._jsc.sc().setLocalProperties(self._props)
        self._scope.__exit__(None, None, None)

    def open(self, convs: DataFrame, batch_id: str | None, prefix: str = "") -> bool:
        """Create the batch dir for the distinct ``conv_id`` rows ``convs``.
        Returns False, every table recorded as skipped, when ``convs`` is
        empty. The default ``batch_id`` is ``prefix`` + a content hash of
        the conv_id set (bit_xor is order-independent and can't overflow
        under ANSI mode, as sum(xxhash64) would), so retries reuse the id;
        an explicit id that was already committed raises."""
        row = convs.agg(
            F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(conv_id))").alias("h")
        ).collect()[0]
        if row["n"] == 0:
            self.res.stages_skipped = [f"{t}@{batch_id or 'noop'}" for t in TABLES]
            return False
        if batch_id is None:
            batch_id = f"{prefix}{(int(row['h']) & 0xFFFFFFFFFFFFFFFF):016x}"
        elif any(os.path.basename(b).split("_", 1)[1] == batch_id for b in self.committed):
            raise ValueError(
                f"batch_id {batch_id!r} was already committed at {self.out_dir}; "
                "per-batch lineage would collide — pick a unique id"
            )
        self.batch_id = batch_id
        self.dir = os.path.join(_batches_root(self.out_dir), f"b{self.seq:06d}_{batch_id}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)
        return True

    def phase(self, name: str) -> None:
        """Start the section ``name``: the open section's timing row is
        closed, and the jobs that follow are described ``<op>:<name>``."""
        self._close_section()
        self._section = (name, time.time())
        self.spark.sparkContext.setJobDescription(f"{self.op}:{name}")

    def _close_section(self) -> None:
        if self._section is not None:
            name, t0 = self._section
            stage = f"_{name}@{self.batch_id}"
            self._row(stage, name).update(
                stage=stage, rows_out=-1, seconds=round(time.time() - t0, 3))

    def _row(self, stage: str, node: str) -> dict:
        """A new metrics row for ``stage``, whose jobs are described
        ``<op>:<node>``; ``{}`` until filled in."""
        self._groups.setdefault(stage, []).append(f"{self.op}:{node}")
        self._rows.append({})
        return self._rows[-1]

    def _tag(self, name: str) -> str:
        """The lineage/metrics stage of the delta part ``name``."""
        return f"{name.rsplit('_', 1)[0]}@{self.batch_id}"

    def part(self, name: str, df: DataFrame, *, record: bool = True) -> None:
        """Queue the delta part ``name``; ``commit`` writes it."""
        row = self._row(self._tag(name), name) if record else {}
        self._queue.append((name, df, record, row))

    def read_back(self, name: str, df: DataFrame) -> DataFrame:
        """Write the delta part ``name`` now, then hand back the WRITTEN
        files (``df`` when empty) as the downstream input — the part write
        is the materialization barrier (one copy, not checkpoint + write)."""
        schema = self._write([(name, df, True, self._row(self._tag(name), name))])[name]
        if schema is None:
            return df
        return read_table(self.spark, os.path.join(self.dir, name), schema=schema)

    def _write(self, parts: list) -> dict:
        """Write ``parts`` as one plan, filling in their metrics rows;
        returns {name: schema}."""
        done = run_plan(self.spark, self.op, [
            (name, partial(_write_part, self.out_dir, self.dir, name, df,
                           tag=self._tag(name), record=record))
            for name, df, record, _ in parts
        ])
        for name, _, _, row in parts:
            row.update(done[name][1] or {})
        return {name: schema for name, (schema, _) in done.items()}

    def commit(self, **marker) -> PipelineResult:
        """Write the queued parts, then publish the batch: the marker is
        renamed into place last."""
        self._close_section()
        self._write(self._queue)
        self.res.metrics = [r for r in self._rows if r]
        record_metrics(self.spark, self.out_dir, self.res.metrics, self._since_ms,
                       f"{self.op}:", self._groups)
        self.res.stages_run = [r["stage"] for r in self.res.metrics if r["rows_out"] >= 0]
        marker = {"seq": self.seq, "batch_id": self.batch_id, **marker,
                  "stages": self.res.stages_run}
        tmp = os.path.join(self.dir, "_COMMITTED.tmp")
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
        os.rename(tmp, os.path.join(self.dir, "_COMMITTED"))
        return self.res


def run_pipeline_incremental(
    spark: SparkSession,
    new_transcripts: DataFrame,
    lexicon: DataFrame | PreparedLexicon,
    out_dir: str,
    batch_id: str | None = None,
    scorer: str = "wratio",
) -> PipelineResult:
    """Apply ``new_transcripts`` to the completed pipeline output at
    ``out_dir`` as one atomic delta batch. ``read_live`` tables are equal
    (set-wise) to a from-scratch ``run_pipeline`` over old ∪ new.

    Conversations already applied (``convs_applied``: the base run ∪
    committed batches) are dropped, so re-submitting an applied batch is a
    no-op. ``batch_id`` scopes the lineage/metrics rows
    (``<stage>@<batch_id>``); default is a content hash of the batch's
    conv_ids, so retries reuse the same id and distinct batches never
    collide. ``lexicon`` may be a ``PreparedLexicon``, which the caller
    keeps and releases; a raw lexicon is prepared for this batch and
    released with it."""
    with _Batch(spark, out_dir, "apply") as batch:
        # Applied-conversation guard: a conversation with zero mentions
        # never reaches the mentions table, so the guard keys off the small
        # convs_applied table. Batch conv_ids live INSIDE the committed
        # batch dir, so guard state commits atomically with the data.
        seen = read_live(spark, out_dir, "convs_applied").select("conv_id")
        # checkpoint NOW: every downstream read of the live tables must see
        # the pre-batch state, and the guard's anti-join must run before
        # any write
        delta = checkpoint(new_transcripts.join(seen, "conv_id", "left_anti"))
        if not batch.open(delta.select("conv_id").distinct(), batch_id):
            return batch.res
        return _apply(spark, batch, delta, prepare_lexicon(lexicon), scorer)


def _apply(
    spark: SparkSession,
    batch: _Batch,
    delta: DataFrame,
    lexicon: PreparedLexicon,
    scorer: str,
) -> PipelineResult:
    """The body of ``run_pipeline_incremental`` once the batch dir is open:
    ``delta`` holds only conversations not applied yet."""
    out_dir = batch.out_dir
    part, part_read, _phase = batch.part, batch.read_back, batch.phase

    # ---- old (pre-batch) live state. The canonical map is PERSISTED
    # pipeline state (run.py writes it as a stage; each batch appends its
    # upsert delta below), so apply never re-runs connected components over
    # the whole alias universe — only over the batch's contracted edges.
    _phase("old_mapping")
    old_edges = checkpoint(read_live(spark, out_dir, "alias_edges").select("u", "v"))
    old_mapping = checkpoint(read_live(spark, out_dir, "canonical_map"))
    ent_idx = read_live(spark, out_dir, "ent_index")

    # ---- per-turn delta stages (pure functions of the batch + lexicon)
    _phase("per_turn_compute")
    m_delta = part_read("mentions_adds", extract_mentions(delta))
    linked_raw, edges_delta = link_mentions(
        m_delta, lexicon, scorer=scorer, materialized=True
    )
    linked_delta = part_read("linked_adds", linked_raw)
    # emission-refcount maintenance: raw keys are canonical-merge-
    # invariant, so an apply only ever ADDS counts (delta-sized)
    part("refcounts_adds", emission_refcounts(linked_delta), record=False)

    # alias-edge adds: new (u,v) pairs only (set semantics at write time —
    # the live view is a plain union). The old edge table is
    # vocabulary-sized, so this anti-join is small on both sides.
    # edges_delta is a projection of link_mentions' checkpointed best
    # candidates, one row per norm, so it is unique on u and needs
    # neither a checkpoint nor a dedup of its own.
    new_edges = checkpoint(
        edges_delta.select("u", "v").join(old_edges, ["u", "v"], "left_anti")
    )
    part("alias_edges_adds", new_edges)

    # ---- global step: connected components over the CONTRACTED delta
    # graph only. Components only merge and the representative is the
    # component min, so contracting each new edge's endpoints through the
    # old map and running CC on that (delta-sized) edge set yields exactly
    # the representative moves; composing with the old map gives the full
    # new mapping without ever touching the old alias universe.
    # canonical_mapping drops the edges that collapsed into one component
    # and, at these delta sizes, runs the exact driver-side union-find.
    _phase("mapping")
    om_u = F.broadcast(
        old_mapping.select(F.col("old").alias("u"), F.col("new").alias("_nu"))
    )
    om_v = F.broadcast(
        old_mapping.select(F.col("old").alias("v"), F.col("new").alias("_nv"))
    )
    cs = canonical_mapping(
        new_edges.join(om_u, "u", "left")
        .join(om_v, "v", "left")
        .select(F.coalesce("_nu", "u").alias("u"), F.coalesce("_nv", "v").alias("v"))
    )

    # stored-value rewrite map: cs entries whose key can exist in the old
    # tables. Everything stored live is its own old canonical (module
    # docstring fact 1), and ids first introduced by THIS batch's linking
    # (provisional urn:mention ids for unseen norms — the only ids ever on
    # the u side of an alias edge) cannot be stored anywhere yet: a
    # provisional id stored earlier would have emitted its alias edges
    # then (linking is a pure function of the fixed lexicon), putting it
    # in old_ids. Entity-side cs keys are never dropped. All probes are
    # filtered to cs keys first (delta-sized broadcast), so nothing here
    # shuffles the vocabulary-sized edge table.
    cs_keys = cs.select("old")
    old_hit = (
        old_edges.select(F.col("u").alias("old"))
        .unionByName(old_edges.select(F.col("v").alias("old")))
        .join(F.broadcast(cs_keys), "old", "left_semi")
        .distinct()
    )
    new_u = (
        new_edges.select(F.col("u").alias("old"))
        .join(F.broadcast(cs_keys), "old", "left_semi")
        .distinct()
    )
    brand_new = new_u.join(F.broadcast(old_hit), "old", "left_anti")
    stored_rewrite = checkpoint(cs.join(F.broadcast(brand_new), "old", "left_anti"))
    has_rewrites = not stored_rewrite.isEmpty()

    if has_rewrites:
        # compose: old entries whose representative itself moved follow it
        cs2 = cs.select(F.col("old").alias("_k"), F.col("new").alias("_v"))
        composed = old_mapping.join(
            F.broadcast(cs2), old_mapping["new"] == F.col("_k"), "left"
        ).select(old_mapping["old"], F.coalesce("_v", old_mapping["new"]).alias("new"))
        # cs keys (old reps / new nodes) are disjoint from old-map keys
        # (non-reps), so this union is a keyed upsert with no conflicts
        new_mapping = checkpoint(composed.unionByName(cs))
        # canonical-map upsert delta for FUTURE applies: old entries whose
        # rep moved, plus every cs entry (new nodes and moved reps)
        map_changed = old_mapping.join(
            F.broadcast(cs2), old_mapping["new"] == F.col("_k")
        ).select(old_mapping["old"], F.col("_v").alias("new"))
        map_delta = map_changed.unionByName(cs)
    else:
        # no stored id moved ⟹ every cs key is brand-new, so no cs key can
        # equal an old_mapping VALUE (those are stored reps) — composition
        # is the identity and the upsert delta is cs itself. No join, no
        # extra materialization: both inputs are already checkpointed.
        new_mapping = old_mapping.unionByName(cs)
        map_delta = cs
    part("canonical_map_adds", map_delta, record=False)

    # ---- delta triples, canonicalized with the new mapping (one dedup
    # AFTER the map-side rewrite — the pre-rewrite dedup would be a second
    # full shuffle of the delta)
    t_delta = replace_entities(
        build_triples(delta, linked_delta, deduplicate=False),
        new_mapping,
        deduplicate=False,
    ).dropDuplicates(_TRIPLE_KEY)

    is_tl = F.col("predicate").isin(RDF_TYPE, RDFS_LABEL)
    shared = shared_row_expr()

    if has_rewrites:
        # ---- SLOW PATH (some stored canonical id changed — the rare
        # component-merge case): probe 1 scans the live triples for rows
        # whose canonical id changed (old form → tombstone, new form → add)
        _phase("rewrite_probe")
        old_t = read_live(spark, out_dir, "triples")
        sr_s = F.broadcast(
            stored_rewrite.select(F.col("old").alias("_s_old"), F.col("new").alias("_s_new"))
        )
        sr_o = F.broadcast(
            stored_rewrite.select(F.col("old").alias("_o_old"), F.col("new").alias("_o_new"))
        )

        def _probe(t: DataFrame) -> DataFrame:
            return t.join(sr_s, t["subject"] == sr_s["_s_old"], "left").join(
                sr_o, (t["object"] == sr_o["_o_old"]) & (~t["obj_is_literal"]), "left"
            )

        hit = F.col("_s_new").isNotNull() | F.col("_o_new").isNotNull()
        hit_rows = checkpoint(_probe(old_t).filter(hit))
        dels_t = hit_rows.select(*_TRIPLE_KEY)
        index_dels = hit_rows.filter(shared).select(*_TRIPLE_KEY)
        rewritten = hit_rows.select(
            F.coalesce("_s_new", "subject").alias("subject"),
            F.col("predicate"),
            F.coalesce("_o_new", "object").alias("object"),
            F.col("obj_is_literal"),
        )
        _phase("delta_triples")
        cand = checkpoint(
            rewritten.unionByName(t_delta.select(*_TRIPLE_COLS)).dropDuplicates(_TRIPLE_KEY)
        )
        _phase("dup_probe")
        # dup-check keys: rows that could equal a live row — the delta's
        # shared-class rows plus every rewritten row (a rewritten form like
        # (turn mentions newEntity) can equal an existing base row when the
        # turn already mentioned another alias of the same entity)
        dup_cand = cand.filter(shared).select(*_TRIPLE_KEY).unionByName(
            rewritten.select(*_TRIPLE_KEY)
        ).distinct()
        dup_keys = checkpoint(
            old_t.join(F.broadcast(dup_cand), _TRIPLE_KEY, "left_semi")
            .select(*_TRIPLE_KEY)
        )
        adds_t = part_read(
            "triples_adds",
            cand.join(F.broadcast(dup_keys), _TRIPLE_KEY, "left_anti"),
        )

        # nodes: recompute ONLY affected ids — subjects that gained
        # type/label rows (adds) or lost one to an object-side rewrite;
        # subject-merged ids get tombstones
        _phase("nodes_probe")
        merged_away = stored_rewrite.select(F.col("old").alias("subject")).distinct()
        affected = checkpoint(
            adds_t.filter(is_tl)
            .select("subject")
            .unionByName(
                hit_rows.filter(is_tl)
                .select("subject")
                .join(merged_away, "subject", "left_anti")
            )
            .distinct()
        )
        kept_tl = (
            _probe(old_t.filter(is_tl))
            .filter(~hit)
            .join(F.broadcast(affected), "subject", "left_semi")
            .select(*_TRIPLE_COLS)
        )
        edge_dels = kg_edges(hit_rows)
    else:
        # ---- FAST PATH (no stored id rewritten — the steady-state
        # add-only batch): no tombstones anywhere, the base triples are
        # NEVER read — ONE scan of the vocabulary-sized ent_index answers
        # both remaining questions: which candidate adds already exist
        # (set semantics) and which surviving type/label rows feed the
        # node recompute.
        _phase("delta_triples")
        cand = checkpoint(t_delta)
        _phase("index_probe")
        dup_cand = cand.filter(shared).select(*_TRIPLE_KEY).withColumn(
            "_dup", F.lit(True)
        )
        affected = checkpoint(
            cand.filter(is_tl).select("subject").distinct().withColumn("_aff", F.lit(True))
        )
        scan = checkpoint(
            ent_idx.join(F.broadcast(dup_cand), _TRIPLE_KEY, "left")
            .join(F.broadcast(affected), "subject", "left")
            .filter(F.col("_dup").isNotNull() | (is_tl & F.col("_aff").isNotNull()))
        )
        dup_keys = scan.filter(F.col("_dup").isNotNull()).select(*_TRIPLE_KEY)
        adds_t = part_read(
            "triples_adds",
            cand.join(F.broadcast(dup_keys), _TRIPLE_KEY, "left_anti"),
        )
        dels_t = None
        index_dels = None
        kept_tl = scan.filter(is_tl & F.col("_aff").isNotNull()).select(*_TRIPLE_COLS)
        merged_away = None
        affected = affected.select("subject")
        edge_dels = None

    if dels_t is not None:
        part("triples_dels", dels_t, record=False)
    # ---- ent_index maintenance: the index stays exactly
    # live_triples.filter(shared_row_expr()), dels only exist on the slow
    # path
    part("ent_index_adds", adds_t.filter(shared), record=False)
    if index_dels is not None:
        part("ent_index_dels", index_dels, record=False)

    # ---- nodes: fresh aggregate over the affected ids' live type/label
    # rows (pre-batch survivors + this batch's adds)
    _phase("nodes_compute")
    live_tl = kept_tl.unionByName(adds_t.select(*_TRIPLE_COLS))
    nodes_adds = part_read("nodes_adds", kg_nodes(live_tl))
    # tombstones: ids merged away, plus affected ids whose recompute
    # produced no row (their last type triple was rewritten away — the
    # upsert log must erase the stale base row, not leave it)
    nodes_dels = affected.join(
        nodes_adds.select(F.col("id").alias("subject")), "subject", "left_anti"
    )
    if merged_away is not None:
        nodes_dels = merged_away.unionByName(nodes_dels)
    nodes_dels = nodes_dels.select(F.col("subject").alias("id")).distinct()
    part("nodes_dels", nodes_dels, record=False)

    # ---- edges: 1:1 projection of non-literal triples, so its delta is
    # exactly the triples delta projected — no extra probe. (A tombstone
    # key can never reappear in adds: old forms always contain a
    # merged-away id, new forms only current representatives.)
    part("edges_adds", kg_edges(adds_t))
    if edge_dels is not None:
        part("edges_dels", edge_dels, record=False)

    # ---- this batch's conversations (guard state), then the atomic commit
    part("convs_applied_adds", delta.select("conv_id").distinct(), record=False)
    return batch.commit()


# ---------------------------------------------------------------------------
# compaction


def compact(spark: SparkSession, out_dir: str) -> list[str]:
    """Fold every committed batch into the base tables (the amortized full
    rewrite that apply no longer pays). Two-phase, self-recovering:

    1. write the live view of every table to ``<table>__compact`` (base
       untouched; a crash here leaves only ignorable tmp dirs);
    2. write a manifest, then swap each tmp over its base dir, remove the
       batch dirs, remove the manifest. A crash mid-swap is finished by the
       next compact() call (the manifest says phase 1 completed; swapped
       tables have no tmp left, unswapped ones do).

    Stop-the-world (concurrent readers mid-swap can see one table pre-
    and another post-compact). Returns the list of compacted table
    names."""
    manifest_path = os.path.join(out_dir, _MANIFEST)
    tables = [*TABLES, *SIDE_TABLES]

    def _tmp(t: str) -> str:
        return os.path.join(out_dir, f"{t}__compact")

    if not os.path.exists(manifest_path):
        _sweep_uncommitted(out_dir)
        batches = committed_batches(out_dir)
        if not batches:
            return []
        # phase 1: full live snapshots to tmp dirs, clustered like the base,
        # written at once (no checkpoint needed — tmp is a different path,
        # the base is only read, never overwritten while being read)
        def snapshot(t: str):
            if t == "convs_applied":
                live = read_live(spark, out_dir, t).select("conv_id")
                return write_bucketed(live, t, _tmp(t), dedup_cols=["conv_id"])
            if t == "refcounts":
                # summed fold — the refcount merge is arithmetic, not upsert
                return write_bucketed(read_refcounts(spark, out_dir), t, _tmp(t))
            return write_bucketed(read_live(spark, out_dir, t), t, _tmp(t))

        run_plan(spark, "compact", [(t, lambda t=t: snapshot(t)) for t in tables])
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"tables": tables, "batches": [os.path.basename(b) for b in batches]}, fh)
        os.rename(tmp, manifest_path)

    # phase 2 (also the recovery path): swap any table whose tmp survived
    for t in tables:
        if _done(_tmp(t)):
            shutil.rmtree(os.path.join(out_dir, t), ignore_errors=True)
            os.rename(_tmp(t), os.path.join(out_dir, t))
    shutil.rmtree(_batches_root(out_dir), ignore_errors=True)
    os.remove(manifest_path)
    return tables
