"""Decremental KG maintenance — FORGET a set of conversations (the
right-to-be-forgotten / data-retraction operation a training-data pipeline
needs and the reference has no story for).

``run_pipeline_forget(spark, conv_ids, lexicon, out_dir)`` removes every
effect of the named conversations from a completed pipeline output (base
run plus any committed incremental batches), as ONE atomic delta batch in
the same ``_batches/`` delta-log layout as ``run_pipeline_incremental`` —
the base tables are never rewritten. The contract (pytest-asserted,
tests/test_forget.py): after forgetting B from a graph built over A ∪ B,
every live table is set-equal to a from-scratch build over A alone —
including entity un-merges — and a forgotten conversation can be
re-ingested later (tombstones are sequenced, not global).

Why this is hard: canonicalization DESTROYS provenance. A stored triple
``(rep, rdf:type, Chemical)`` does not say which conversation(s) emitted
it, or which raw alias it was rewritten from, so per-row reference
counting over the graph is impossible. What survives is the per-turn
``linked`` table (conversation-attributed, raw entity ids) — every
entity-derived triple is a pure function of (linked rows, canonical map).
The algorithm therefore REPLACES THE AFFECTED SLICE instead of hunting
row provenance:

1. **Affected universe.** The deleted conversations' linked rows name raw
   entities; alias edges the deleted conversations contributed are
   recomputed by re-running the (pure) linking on their stored mentions.
   An alias edge survives iff any remaining conversation produced it —
   checkable without re-normalizing the corpus because a provisional link
   row STORES its ``urn:mention:<norm>`` id (the edge's u side) in the
   ``entity`` column. Removed edges can split canonical components, so
   the affected set expands to the FULL components of every touched
   entity: members = canonical-map entries pointing at the touched
   representatives.
2. **Re-canonicalize only those components.** Their live alias edges
   minus the removed ones go through ``canonical_mapping``
   (operators/canonical.py, which picks driver-side union-find or the
   distributed loop by edge count). This yields the new
   representative for every member — including un-merges, which no
   forward-only composition can express — plus the canonical_map upsert
   delta (changed entries) and tombstones (entries that became identity).
3. **Two paths over the affected components.** SPLIT components (a
   canonical entry changed) get a full slice replace: tombstone every row
   referencing their old reps (recomputed from the members' linked rows
   under the old map — not scanned) and re-emit from the remaining turn
   groups under the new map. UNSPLIT components — the common case — never
   change row FORM, so only the deleted conversations' own emitted rows
   are candidates: each dies unless a raw emission key with remaining
   references re-emits the same bytes. That question is answered by
   counter arithmetic on the ``refcounts`` side table (pipeline/kg.py
   emission_refcounts — raw pre-canonicalization keys, merge-invariant,
   maintained additively by every apply/forget batch): live count minus
   this batch's decrement > 0 ⇒ the key survives, and its byte form is
   reconstructed by joining its entities through the old map. No pass
   over the remaining corpus at all — the turn-level evidence
   re-emission this replaced was the measured floor of small forgets. Emission always
   reuses pipeline/kg.py's own operators (mention_triples,
   cooccurrence_triples) followed by replace_entities, so the bytes match
   what run_pipeline would produce — including the cooccurrence bnode
   ids, which hash RAW entity ids and survive re-canonicalization
   unchanged. Rows of mixed pairs (one split side) can be tombstoned by
   the unsplit path while the split path re-adds their new form — the
   same-seq add-wins merge rule resolves that to the correct state.
4. **Conversation-scoped rows** (structure, turn→mention/quantity/
   evidence edges, quantity bnodes) are unique to their conversation by
   URI construction: one map-side scan of the live triples collects the
   conv/turn-subject rows of the deleted conversations (no shuffle, no
   rewrite), and the quantity bnode rows are recomputed from the stored
   linked rows (their bnode ids embed conv/turn/pos).
5. **Per-turn tables** get conv_id-keyed tombstones; ``convs_applied``
   gets upsert deletes, so the seen-conversation guard stops claiming the
   conversations and a later re-ingest applies cleanly (read-time merges
   are SEQUENCED — see read_live — so this batch's tombstones cannot
   erase that later batch's re-adds).

Cost model (per forget batch): per-turn recompute ∝ |deleted convs|;
the unsplit-path survival probe is one component-restricted scan of the
vocabulary-sized ``refcounts`` side table (never the corpus — the
remaining linked rows are not read, let alone re-emitted); the
split path re-emits only the split components' slices (rare,
component-sized); plus ONE map-side scan of the live triples for the
conversation-scoped tombstones (no shuffle; an Iceberg runtime would
prune it to the deleted conversations' partitions via a conv-bucket
layout on the turn-subject rows). All writes are delta-sized; the commit
writes all 15 at once. On the 30-conversation test fixture (4 vCPUs,
forgetting 3) a forget took ~15–16 s: ~13 s in its serial compute
sections (slice_replace 3.4–3.8 s, survival_probe 2.6–3.2 s,
edges_removed 2.2 s) and ~2 s in the commit (~2.6 s written one by one).
Crash safety and idempotency are inherited from the batch layout (atomic
``_COMMITTED`` marker; retry sweeps and recomputes identical bytes;
re-forgetting an unknown or already-forgotten conversation is a no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tera_spark.checkpoints import checkpoint
from tera_spark.constants import NS_KG, RDF_TYPE, RDFS_LABEL
from tera_spark.operators.canonical import canonical_mapping
from tera_spark.operators.triples import bnode, replace_entities
from tera_spark.pipeline.incremental import (
    _TRIPLE_COLS,
    _TRIPLE_KEY,
    _Batch,
    read_live,
    read_refcounts,
)
from tera_spark.pipeline.kg import (
    cooccurrence_triples,
    emission_refcounts,
    kg_edges,
    kg_nodes,
    mention_triples,
    quantity_triples,
    shared_row_expr,
)
from tera_spark.pipeline.link import link_mentions, prepare_lexicon
from tera_spark.pipeline.run import PipelineResult
from tera_spark.sources.readers import arrow_frame


def _conv_ids_df(spark: SparkSession, conv_ids) -> DataFrame:
    if isinstance(conv_ids, DataFrame):
        return conv_ids.select("conv_id").distinct()
    return arrow_frame(spark, {"conv_id": list(conv_ids)}, "conv_id string").distinct()


def _conv_of_subject():
    """conv_id of a conversation-scoped subject URI (NULL for others)."""
    conv_p, turn_p = NS_KG + "conv/", NS_KG + "turn/"
    subj = F.col("subject")
    return F.when(
        subj.startswith(conv_p), subj.substr(F.lit(len(conv_p) + 1), F.lit(1 << 30))
    ).when(
        subj.startswith(turn_p),
        # turn URI = <ns>turn/<conv_id>/<turn_idx>; conv_id itself never
        # contains '/' (fixture + driver contract), so strip the last path
        # segment
        F.regexp_extract(subj, "^" + turn_p + "(.+)/[^/]+$", 1),
    )


def _affected(df: DataFrame, reps: DataFrame) -> DataFrame:
    """Rows of a triple frame that reference one of ``reps`` (column ``r``)
    as subject, or as a non-literal object. ``reps`` is component-sized →
    broadcast; the two semi-joins stay map-side."""
    s_hit = df.join(
        F.broadcast(reps.withColumnRenamed("r", "subject")), "subject", "left_semi"
    )
    o_hit = (
        df.filter(~F.col("obj_is_literal"))
        .join(F.broadcast(reps.withColumnRenamed("r", "object")), "object", "left_semi")
    )
    return s_hit.unionByName(o_hit).dropDuplicates(_TRIPLE_KEY)


def _emit_slice(src: DataFrame, mapping: DataFrame, reps: DataFrame) -> DataFrame:
    """The entity-derived triple rows the given linked rows produce under
    ``mapping``, restricted to rows referencing ``reps`` — byte-identical
    to what run_pipeline stores, because it reuses the SAME emitters
    (pipeline/kg.py) followed by the SAME canonical rewrite."""
    raw = mention_triples(src).unionByName(cooccurrence_triples(src))
    rewritten = replace_entities(raw, mapping, deduplicate=False).dropDuplicates(
        _TRIPLE_KEY
    )
    return _affected(rewritten, reps)


def run_pipeline_forget(
    spark: SparkSession,
    conv_ids,
    lexicon,
    out_dir: str,
    batch_id: str | None = None,
    scorer: str = "wratio",
) -> PipelineResult:
    """Forget ``conv_ids`` (iterable of strings, or a DataFrame with a
    ``conv_id`` column) from the pipeline output at ``out_dir``, as one
    atomic delta batch. ``lexicon`` must match the original runs (linking
    is replayed as a pure function to reconstruct the deleted
    conversations' alias edges); a ``PreparedLexicon`` stays the
    caller's, a raw lexicon is prepared for this batch and released with
    it. See module docstring."""
    with _Batch(spark, out_dir, "forget") as batch:
        # the conversations that are actually applied (unknown ids no-op)
        d_convs = checkpoint(
            _conv_ids_df(spark, conv_ids)
            .join(read_live(spark, out_dir, "convs_applied"), "conv_id", "left_semi")
        )
        if not batch.open(d_convs, batch_id, prefix="forget-"):
            return batch.res
        return _forget(spark, batch, d_convs, lexicon, scorer)


def _forget(
    spark: SparkSession, batch: _Batch, d_convs: DataFrame, lexicon, scorer: str
) -> PipelineResult:
    """The body of ``run_pipeline_forget`` once the batch dir is open:
    ``d_convs`` holds the applied conversations to forget."""
    out_dir = batch.out_dir
    _phase = batch.phase

    def part(name: str, df: DataFrame):
        # a forget's lineage is its tombstones
        batch.part(name, df, record=name.endswith("_dels"))

    dset = F.broadcast(d_convs)

    # ---- deleted conversations' per-turn rows (stored, conv-attributed)
    _phase("collect_deleted")
    live_linked = read_live(spark, out_dir, "linked")
    d_linked = checkpoint(live_linked.join(dset, "conv_id", "left_semi"))
    d_mentions = checkpoint(
        read_live(spark, out_dir, "mentions")
        .join(dset, "conv_id", "left_semi")
    )
    rem_linked = live_linked.join(dset, "conv_id", "left_anti")

    # ---- alias edges the deleted convs contributed; which are removed.
    # Linking is a pure per-norm function of the lexicon, so replaying it
    # on the stored mentions reconstructs exactly the edges those convs
    # produced; an edge survives iff a remaining conversation produced it,
    # i.e. iff a remaining PROVISIONAL link row stores the edge's
    # urn:mention id (the provisional row is emitted whenever the fuzzy
    # path ran for that norm — same purity argument).
    # d_edges is a projection of link_mentions' checkpointed best
    # candidates, one row per norm (so unique on u), read once, by the
    # checkpointed ``removed``.
    _phase("edges_removed")
    _, d_edges = link_mentions(
        d_mentions, prepare_lexicon(lexicon), scorer=scorer, materialized=True
    )
    surviving_u = rem_linked.filter(F.col("link_method") == "provisional").select(
        F.col("entity").alias("u")
    )
    removed = checkpoint(d_edges.join(surviving_u, "u", "left_anti"))

    # ---- affected universe: full canonical components of every touched id
    _phase("recanonicalize")
    old_map = checkpoint(read_live(spark, out_dir, "canonical_map"))
    seeds = (
        d_linked.filter(F.col("entity").isNotNull() & (F.col("kind") != "quantity"))
        .select(F.col("entity").alias("x"))
        .unionByName(removed.select(F.col("u").alias("x")))
        .unionByName(removed.select(F.col("v").alias("x")))
        .distinct()
    )
    old_reps = checkpoint(
        seeds.join(old_map, seeds["x"] == old_map["old"], "left")
        .select(F.coalesce("new", "x").alias("r"))
        .distinct()
    )
    members = checkpoint(
        old_map.join(
            F.broadcast(old_reps.withColumnRenamed("r", "new")), "new", "left_semi"
        )
        .select(F.col("old").alias("x"))
        .unionByName(old_reps.select(F.col("r").alias("x")))
        .distinct()
    )

    # re-run CC on the affected components' remaining edges (u side of an
    # alias edge is always a member iff its component is affected)
    new_cc = canonical_mapping(
        read_live(spark, out_dir, "alias_edges")
        .select("u", "v")
        .join(F.broadcast(members.withColumnRenamed("x", "u")), "u", "left_semi")
        .join(removed, ["u", "v"], "left_anti")
    )

    # canonical_map upsert delta: changed entries + identity tombstones
    old_entries = checkpoint(
        old_map.join(F.broadcast(members.withColumnRenamed("x", "old")), "old", "left_semi")
    )
    map_adds = (
        new_cc.join(old_entries.withColumnRenamed("new", "_old_new"), "old", "left")
        .filter(F.col("_old_new").isNull() | (F.col("_old_new") != F.col("new")))
        .select("old", "new")
    )
    map_dels = old_entries.join(new_cc.select("old"), "old", "left_anti").select("old")
    new_map = old_map.join(
        F.broadcast(members.withColumnRenamed("x", "old")), "old", "left_anti"
    ).unionByName(new_cc)

    # ---- two disjoint paths over the affected components (the probe at a
    # 5.7M-turn base showed why: replacing the WHOLE affected slice costs
    # ~a rebuild when the vocabulary is dense, because every hot entity's
    # slice re-emits — but rows of an UNSPLIT component never change form,
    # so the only question there is which of the DELETED conversations'
    # own rows lose their last remaining emitter):
    #
    # A. SPLIT components (some canonical entry changed): full slice
    #    replace — tombstone every row referencing the old reps, re-emit
    #    from the remaining turn groups under the new map. Rare and
    #    component-sized.
    # B. UNSPLIT components: candidates = the deleted conversations' OWN
    #    emitted rows (delta-sized emit); a candidate dies unless the
    #    remaining references to the same components still emit the same
    #    bytes (one map-side restricted pass — no re-emission of unchanged
    #    rows, no adds churn). Rows of mixed pairs (one split side) can be
    #    tombstoned by B while A re-adds their new form — the same-seq
    #    add-wins merge rule resolves that to the correct state.
    _phase("slice_replace")
    changed = map_adds.select("old").unionByName(map_dels.select("old")).distinct()
    split_old = checkpoint(
        changed.join(old_entries.withColumnRenamed("new", "_r"), "old", "left")
        .select(F.coalesce("_r", F.col("old")).alias("r"))
        .distinct()
    )
    has_splits = not split_old.isEmpty()
    nonsplit_reps = checkpoint(
        old_reps.join(F.broadcast(split_old), old_reps["r"] == split_old["r"], "left_anti")
    )
    mem_rep = members.join(
        old_entries.withColumnRenamed("old", "x").withColumnRenamed("new", "_r"),
        "x",
        "left",
    ).select("x", F.coalesce("_r", F.col("x")).alias("r"))
    m_split = mem_rep.join(F.broadcast(split_old), "r", "left_semi").select("x")
    split_new = checkpoint(
        m_split.join(new_cc, m_split["x"] == new_cc["old"], "left")
        .select(F.coalesce("new", "x").alias("r"))
        .distinct()
    )

    _empty_t = "subject string, predicate string, object string, obj_is_literal boolean"
    if has_splits:
        aff_keys = (
            rem_linked.join(
                F.broadcast(m_split.withColumnRenamed("x", "entity")), "entity", "left_semi"
            )
            .select("conv_id", "turn_idx")
            .distinct()
        )
        rem_src = checkpoint(rem_linked.join(aff_keys, ["conv_id", "turn_idx"], "left_semi"))
        old_src = rem_src.unionByName(d_linked.select(rem_src.columns))
        split_dels = checkpoint(_emit_slice(old_src, old_map, split_old))
        new_slice = checkpoint(_emit_slice(rem_src, new_map, split_new))
    else:
        split_dels = spark.createDataFrame([], _empty_t)
        new_slice = spark.createDataFrame([], _empty_t)

    # path B: the deleted convs' candidate rows vs the remaining reference
    # COUNTS — counter arithmetic on the raw-keyed refcounts side table,
    # never a re-emission pass over the remaining corpus (the turn-level
    # evidence join this replaced was the measured floor of small forgets,
    # BENCH/scaling_runs.jsonl mode="forget"). A candidate survives iff
    # some raw key with references left (live count minus this batch's
    # decrement > 0) re-emits the same bytes under the old map. Every raw
    # key relevant to a candidate has all its entities inside ``members``
    # (any id mapping to an affected rep is a member by construction), so
    # the count read is component-restricted and ``old_entries`` covers
    # every rewrite the byte reconstruction needs.
    _phase("survival_probe")
    cand = checkpoint(_emit_slice(d_linked, old_map, nonsplit_reps))
    dec = checkpoint(emission_refcounts(d_linked))
    rc = read_refcounts(
        spark, out_dir, k1_filter=members.withColumnRenamed("x", "k1")
    )
    surv = (
        rc.join(
            dec.select("rk", "k1", "k2", F.col("n").alias("_dn")),
            ["rk", "k1", "k2"],
            "left",
        )
        .filter(F.col("n") > F.coalesce("_dn", F.lit(0)))
        .select("rk", "k1", "k2")
    )
    # raw key → the byte-form triple key it emits under the old map
    e1 = old_entries.select(F.col("old").alias("k1"), F.col("new").alias("_r1"))
    e2 = old_entries.select(F.col("old").alias("k2"), F.col("new").alias("_r2"))
    s1 = surv.join(F.broadcast(e1), "k1", "left").withColumn(
        "r1", F.coalesce("_r1", F.col("k1"))
    )
    tl_keys = (
        s1.filter(F.col("rk") == "type")
        .select(
            F.col("r1").alias("subject"),
            F.lit(RDF_TYPE).alias("predicate"),
            F.col("k2").alias("object"),
        )
        .unionByName(
            s1.filter(F.col("rk") == "label").select(
                F.col("r1").alias("subject"),
                F.lit(RDFS_LABEL).alias("predicate"),
                F.col("k2").alias("object"),
            )
        )
    )
    sc = (
        s1.filter(F.col("rk") == "cooc")
        .join(F.broadcast(e2), "k2", "left")
        .withColumn("r2", F.coalesce("_r2", F.col("k2")))
    )
    bn = bnode(F.col("k1"), F.col("k2"), tag="cooc")
    cooc_keys = (
        sc.select(
            F.col("r1").alias("subject"),
            F.lit(NS_KG + "cooccursWith").alias("predicate"),
            F.col("r2").alias("object"),
        )
        .unionByName(
            sc.select(
                bn.alias("subject"),
                F.lit(NS_KG + "chemical").alias("predicate"),
                F.col("r1").alias("object"),
            )
        )
        .unionByName(
            sc.select(
                bn.alias("subject"),
                F.lit(NS_KG + "species").alias("predicate"),
                F.col("r2").alias("object"),
            )
        )
    )
    b_dels = checkpoint(cand.join(tl_keys.unionByName(cooc_keys), _TRIPLE_KEY, "left_anti"))
    old_slice = split_dels.unionByName(b_dels.select(*_TRIPLE_COLS))

    # ---- conversation-scoped rows of the deleted convs: one map-side scan
    # (conv/turn-subject rows) + the quantity bnode rows recomputed from
    # the stored linked rows (bnode ids embed conv/turn/pos — unique)
    _phase("conv_scoped")
    conv_scoped = checkpoint(
        read_live(spark, out_dir, "triples")
        .withColumn("_cid", _conv_of_subject())
        .join(F.broadcast(d_convs.withColumnRenamed("conv_id", "_cid")), "_cid", "left_semi")
        .select(*_TRIPLE_COLS)
    )
    q_rows = quantity_triples(d_linked).select(*_TRIPLE_COLS)
    dels_full = checkpoint(
        old_slice.select(*_TRIPLE_COLS)
        .unionByName(conv_scoped)
        .unionByName(q_rows)
        .dropDuplicates(_TRIPLE_KEY)
    )

    # ---- the delta parts, queued: commit writes them all at once under
    # the uncommitted batch dir
    part("triples_dels", dels_full.select(*_TRIPLE_KEY))
    part("triples_adds", new_slice)

    shared = shared_row_expr()
    part("ent_index_dels", dels_full.filter(shared).select(*_TRIPLE_KEY))
    part("ent_index_adds", new_slice.filter(shared))

    part("edges_dels", kg_edges(dels_full))
    part("edges_adds", kg_edges(new_slice))

    # nodes: recompute exactly the ids whose type/label row set changed —
    # split reps (old and new), unsplit reps that lost a candidate row
    # (a deleted label can change the node's min(label) with no add at
    # all), and the deleted convs' own conversation/turn nodes. Their
    # surviving type/label rows come from the vocabulary-sized ent_index
    # (minus this batch's tombstones) plus the re-emitted split slice —
    # the corpus-sized triple table is never re-read here.
    _phase("nodes")
    is_tl = F.col("predicate").isin(RDF_TYPE, RDFS_LABEL)
    conv_node_ids = conv_scoped.filter(F.col("predicate") == RDF_TYPE).select(
        F.col("subject").alias("id")
    )
    node_ids = checkpoint(
        split_old.select(F.col("r").alias("id"))
        .unionByName(split_new.select(F.col("r").alias("id")))
        .unionByName(b_dels.filter(is_tl).select(F.col("subject").alias("id")))
        .unionByName(conv_node_ids)
        .distinct()
    )
    ent_idx = read_live(spark, out_dir, "ent_index")
    kept_tl = (
        ent_idx.filter(is_tl)
        .join(F.broadcast(node_ids.withColumnRenamed("id", "subject")), "subject", "left_semi")
        .join(F.broadcast(dels_full.select(*_TRIPLE_KEY)), _TRIPLE_KEY, "left_anti")
        .select(*_TRIPLE_COLS)
    )
    nodes_adds = checkpoint(
        kg_nodes(kept_tl.unionByName(new_slice.select(*_TRIPLE_COLS)))
        .join(F.broadcast(node_ids), "id", "left_semi")
    )
    nodes_dels = node_ids.join(nodes_adds.select("id"), "id", "left_anti")
    part("nodes_adds", nodes_adds)
    part("nodes_dels", nodes_dels)

    # per-turn tables, alias edges, canonical map, refcounts, guard state
    part("mentions_dels", d_convs)
    part("linked_dels", d_convs)
    part("refcounts_dels", dec)
    part("alias_edges_dels", removed.select("u", "v"))
    part("canonical_map_adds", map_adds)
    part("canonical_map_dels", map_dels)
    part("convs_applied_dels", d_convs)

    return batch.commit(op="forget")
