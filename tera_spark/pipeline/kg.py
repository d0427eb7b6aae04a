"""Stage 2b — (subj, pred, obj) triple extraction from linked mentions.

The emission rules are TERA-shaped (SURVEY.md §2.3 graft note): turn/
conversation provenance triples mirror T9's test-id threading; quantity
reification ((bnode, rdf:value, v), (bnode, unit:units, U)) mirrors
T9/T10's value bnodes, reusing the F1 unit parser; entity typing/labels
mirror T11/T14. Everything is explode-select over the linked-mention
table — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tera_spark.constants import NS_KG, NS_UNIT, RDF_TYPE, RDF_VALUE, RDFS_LABEL
from tera_spark.operators.canonical import canonical_mapping
from tera_spark.operators.extract._emit import emit, t
from tera_spark.operators.triples import bnode, dedup, replace_entities
from tera_spark.pipeline.extract import extract_mentions
from tera_spark.pipeline.link import link_mentions


def _turn_uri():
    return F.concat(
        F.lit(NS_KG + "turn/"), F.col("conv_id"), F.lit("/"), F.col("turn_idx").cast("string")
    )


def _conv_uri():
    return F.concat(F.lit(NS_KG + "conv/"), F.col("conv_id"))


def transcript_structure_triples(transcripts: DataFrame) -> DataFrame:
    """Conversation/turn skeleton: one pass over the raw transcripts."""
    turn = _turn_uri()
    conv = _conv_uri()
    return emit(
        transcripts,
        t(conv, RDF_TYPE, F.lit(NS_KG + "Conversation")),
        t(turn, RDF_TYPE, F.lit(NS_KG + "Turn")),
        t(turn, NS_KG + "partOf", conv),
        t(turn, NS_KG + "role", F.col("role"), lit=True),
        t(turn, NS_KG + "tool", F.col("tool"), lit=True, when=F.col("tool").isNotNull()),
    )


_KIND_CLASS = {
    "chemical": NS_KG + "Chemical",
    "species": NS_KG + "Species",
    "endpoint": NS_KG + "Endpoint",
    "unknown": NS_KG + "Entity",
}


def _kind_class_expr():
    """Resolved class URI of a linked row's entity (unknown → kg:Entity).
    Shared by mention_triples and emission_refcounts so the refcount key
    is byte-pinned to the emitted object."""
    return F.coalesce(
        *[
            F.when(F.col("entity_kind") == k, F.lit(v))
            for k, v in _KIND_CLASS.items()
        ],
        F.lit(NS_KG + "Entity"),
    )


def _label_ok_expr():
    """Rows allowed to emit a label triple (see mention_triples)."""
    return F.col("link_method").isin("exact", "rule", "provisional")


def _mention_elems() -> list:
    """Conditional mention-triple elements (see ``t``): guarded so they can
    be fused with the quantity elements into ONE emit over the full linked
    table (build_triples). Label triples only from exact/rule links (the
    mention text IS the lexicon label) and provisionals (their only name) —
    fuzzy mentions would attach misspellings as entity labels."""
    is_m = F.col("entity").isNotNull() & (F.col("kind") != "quantity")
    turn = _turn_uri()
    return [
        t(turn, NS_KG + "mentions", F.col("entity"), when=is_m),
        t(F.col("entity"), RDF_TYPE, _kind_class_expr(), when=is_m),
        t(
            F.col("entity"),
            RDFS_LABEL,
            F.col("mention"),
            lit=True,
            when=is_m & _label_ok_expr(),
        ),
    ]


def _quantity_elems() -> list:
    """Conditional quantity-triple elements; requires ``_pu``/``_digits``
    columns (``_quantity_prep``). Guarded on kind=='quantity' so they fuse
    with the mention elements over unfiltered linked rows."""
    b = bnode(F.col("conv_id"), F.col("turn_idx"), F.col("pos"), F.col("mention"), tag="kg-q")
    turn = _turn_uri()
    has_v = (F.col("kind") == "quantity") & (F.length("_digits") > 0)
    return [
        t(b, RDF_VALUE, F.col("_digits"), lit=True, when=has_v),
        t(b, NS_UNIT + "units", F.concat(F.lit(NS_UNIT), F.col("_pu")), when=has_v & (F.col("_pu") != "")),
        t(turn, NS_KG + "quantity", b, when=has_v),
    ]


def _quantity_prep(linked: DataFrame) -> DataFrame:
    """Add ``_pu`` (parsed unit) and ``_digits`` columns. The unit
    vocabulary is distinct-ed from the QUANTITY rows only (the tiny
    subset that has units), then broadcast back onto all rows — the
    full-width fused emitter never pays a second full-table scan for the
    dictionary build (same dictionary-encoding rule as F1)."""
    from tera_spark.functions.units import unit_parser_udf

    vocab = (
        linked.filter(F.col("kind") == "quantity")
        .select(F.col("unit").alias("_u"))
        .na.drop()
        .distinct()
        .withColumn("_p", unit_parser_udf(F.col("_u")))
    )
    df = linked.join(F.broadcast(vocab), linked["unit"] == vocab["_u"], "left").drop("_u")
    df = df.withColumn("_pu", F.coalesce(F.col("_p"), F.lit(""))).drop("_p")
    return df.withColumn("_digits", F.regexp_replace(F.col("value"), "[^0-9.]", ""))


def mention_triples(linked: DataFrame) -> DataFrame:
    """Entity mentions: (turn kg:mentions entity), entity typing + label."""
    df = linked.filter(F.col("entity").isNotNull() & (F.col("kind") != "quantity"))
    return emit(df, *_mention_elems())


def quantity_triples(linked: DataFrame) -> DataFrame:
    """T10-shaped reified quantities from 'quantity' mentions: digit-
    filtered value + parsed unit, hung off the turn. Prepared by
    ``_quantity_prep`` as in ``build_triples``, so the rows a forget
    rebuilds to tombstone come from the same path as the base rows."""
    return emit(_quantity_prep(linked.filter(F.col("kind") == "quantity")), *_quantity_elems())


def _cooc_pairs(linked: DataFrame) -> DataFrame:
    """Per-turn chemical×species pairs with SELF-JOIN multiplicity
    (|chem rows| × |spec rows| per turn), computed as ONE scan + ONE
    shuffle: groupBy(conv, turn) collect_list + double explode. The
    equivalent two-filter shuffle join reads the linked table twice and
    exchanges both sides; arrays here are bounded by per-turn mention
    counts, so no skew. Shared by cooccurrence_triples and
    emission_refcounts so pair multiplicity is pinned to one definition."""
    ent = linked.filter(
        F.col("entity").isNotNull()
        & F.col("entity_kind").isin("chemical", "species")
    ).select("conv_id", "turn_idx", "entity", "entity_kind")
    per_turn = (
        ent.groupBy("conv_id", "turn_idx")
        .agg(
            F.collect_list(
                F.when(F.col("entity_kind") == "chemical", F.col("entity"))
            ).alias("_chems"),
            F.collect_list(
                F.when(F.col("entity_kind") == "species", F.col("entity"))
            ).alias("_specs"),
        )
        .filter((F.size("_chems") > 0) & (F.size("_specs") > 0))
    )
    return per_turn.select(
        "conv_id", "turn_idx", F.explode("_chems").alias("chem"), "_specs"
    ).select("conv_id", "turn_idx", "chem", F.explode("_specs").alias("spec"))


def cooccurrence_triples(linked: DataFrame) -> DataFrame:
    """Per-turn chemical×species co-occurrence edges — the KG's payload
    (the analogue of TERA's test→chemical/species star, J8)."""
    pairs = _cooc_pairs(linked)
    turn = _turn_uri()
    return emit(
        pairs,
        t(F.col("chem"), NS_KG + "cooccursWith", F.col("spec")),
        t(turn, NS_KG + "evidences", bnode(F.col("chem"), F.col("spec"), tag="cooc")),
        t(bnode(F.col("chem"), F.col("spec"), tag="cooc"), NS_KG + "chemical", F.col("chem")),
        t(bnode(F.col("chem"), F.col("spec"), tag="cooc"), NS_KG + "species", F.col("spec")),
    )


def build_triples(
    transcripts: DataFrame, linked: DataFrame, deduplicate: bool = True
) -> DataFrame:
    """All stage-2 triples, deduplicated (A1). Callers that dedup AFTER the
    canonical rewrite anyway (pipeline/run.py fuses it into the stage
    write's bucket shuffle; pipeline/incremental.py dropDuplicates the
    delta) pass ``deduplicate=False`` — the pre-rewrite dedup would be a
    second full shuffle of the triple set whose only effect is shrinking
    the input of a map-side broadcast join.

    Scan economy: mention + quantity emission share ONE pass over the
    linked table (both element sets are fully guarded, so they fuse into
    a single explode), co-occurrence adds one aggregated pass
    (_cooc_pairs), structure one pass over raw transcripts — 2 scans of
    linked + 1 of transcripts total, vs 5 in the naive per-emitter plan."""
    mq = emit(_quantity_prep(linked), *_mention_elems(), *_quantity_elems())
    out = (
        transcript_structure_triples(transcripts)
        .unionByName(mq)
        .unionByName(cooccurrence_triples(linked))
    )
    return dedup(out) if deduplicate else out


def kg_pipeline_triples(
    transcripts: DataFrame, lexicon: DataFrame, scorer: str = "wratio"
) -> DataFrame:
    """The whole pipeline as one in-memory plan, nothing written: extract →
    link → triples → canonical rewrite (its dedup included). The
    ``kg_pipeline_triples(_portable)`` queries and bench.py's kg leaf run
    it; ``run_pipeline`` is the staged, resumable form of the same
    composition."""
    linked, alias_edges = link_mentions(extract_mentions(transcripts), lexicon, scorer=scorer)
    return replace_entities(
        build_triples(transcripts, linked, deduplicate=False), canonical_mapping(alias_edges)
    )


def kg_nodes(triples: DataFrame) -> DataFrame:
    """The ``nodes`` rows (id, kind, label) of a triple set: one conditional
    aggregation over its type/label slice — one scan, one shuffle (a
    types ⟕ labels join reads the slice twice and shuffles three times).
    ``min`` ignores duplicate rows; kind-not-null keeps nodes
    type-anchored. Run, apply and forget all derive nodes here."""
    tl = triples.filter(F.col("predicate").isin(RDF_TYPE, RDFS_LABEL))
    return (
        tl.groupBy(F.col("subject").alias("id"))
        .agg(
            F.min(F.when(F.col("predicate") == RDF_TYPE, F.col("object"))).alias("kind"),
            F.min(F.when(F.col("predicate") == RDFS_LABEL, F.col("object"))).alias("label"),
        )
        .filter(F.col("kind").isNotNull())
    )


def kg_edges(triples: DataFrame) -> DataFrame:
    """The ``edges`` rows (src, pred, dst) of a triple set: its non-literal
    rows projected 1:1, so src IS subject."""
    return triples.filter(~F.col("obj_is_literal")).select(
        F.col("subject").alias("src"),
        F.col("predicate").alias("pred"),
        F.col("object").alias("dst"),
    )


def emission_refcounts(linked: DataFrame) -> DataFrame:
    """Reference counts of the SHARED entity-derived emissions, keyed on
    the RAW (pre-canonicalization) emission key — the side table that
    makes decremental maintenance (pipeline/forget.py) cost ∝ the deleted
    conversations instead of ∝ the remaining references.

    Why raw keys: a shared triple's BYTES change when canonicalization
    merges components, but the raw key that emitted it is a pure per-turn
    function of (linked row) — merges never touch it, so the counts are
    maintainable with plain adds/subtracts per batch (no rewrite path).
    The byte form is recomputed on demand by joining the key's entities
    through the canonical map.

    Keys (``rk``, ``k1``, ``k2``), pinned to THIS module's emit sites —
    if a new shared emit site is added, add its key kind here AND in
    shared_row_expr:

    - ``type``:  k1 = raw entity id, k2 = resolved class URI
      (mention_triples' typing row)
    - ``label``: k1 = raw entity id, k2 = label text
      (mention_triples' label row, label_ok rows only)
    - ``cooc``:  k1 = raw chem id,  k2 = raw spec id
      (cooccurrence_triples' per-turn pair — covers all three shared rows
      the pair emits: the cooccursWith edge and the two bnode legs, whose
      bnode id hashes exactly (k1, k2))

    ``n`` is plain emission multiplicity (NOT distinct turns): the same
    function computes the base counts, each apply's adds and each
    forget's decrements, and whole conversations enter/leave together,
    so any consistent counting rule is exact — the cheapest one wins.
    """
    df = linked.filter(F.col("entity").isNotNull() & (F.col("kind") != "quantity"))
    # type + label keys in ONE scan: conditional struct array + explode
    # (the label element is null for non-label_ok rows and dropped), same
    # fusion trick as the triple emitters.
    key = lambda rk, k2: F.struct(  # noqa: E731
        F.lit(rk).alias("rk"), F.col("entity").alias("k1"), k2.alias("k2")
    )
    tl = (
        df.select(
            F.explode(
                F.filter(
                    F.array(
                        key("type", _kind_class_expr()),
                        F.when(_label_ok_expr(), key("label", F.col("mention"))),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("_k")
        )
        .select("_k.rk", "_k.k1", "_k.k2")
    )
    cooc = _cooc_pairs(linked).select(
        F.lit("cooc").alias("rk"),
        F.col("chem").alias("k1"),
        F.col("spec").alias("k2"),
    )
    return (
        tl.unionByName(cooc)
        .groupBy("rk", "k1", "k2")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Predicates of rows that can be emitted identically by DIFFERENT
# conversations (cooccurrence_triples payload rows).
SHARED_PREDS = (NS_KG + "cooccursWith", NS_KG + "chemical", NS_KG + "species")


def shared_row_expr():
    """Triple rows that can collide with rows emitted by OTHER
    conversations — the only rows incremental maintenance must consult
    history for (pipeline/incremental.py ``ent_index``). Pinned to THIS
    module's emit sites: entity typing/labels (mention_triples — subject
    is an entity/provisional URI, shared vocabulary) and the co-occurrence
    payload (cooccurrence_triples — pair-content-hashed bnodes and
    entity-subject edges). Everything else emitted here hangs off a
    conv/turn URI or a quantity bnode whose md5 content includes
    (conv_id, turn_idx, pos) — unique to its conversation by construction.
    If a new emit site is added to this module, classify it here: shared
    if two different conversations can emit byte-identical rows."""
    conv = F.col("subject").startswith(NS_KG + "turn/") | F.col(
        "subject"
    ).startswith(NS_KG + "conv/")
    is_tl = F.col("predicate").isin(RDF_TYPE, RDFS_LABEL)
    return F.col("predicate").isin(*SHARED_PREDS) | (is_tl & ~conv)


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation profile of the transcript table — the first
    operational look at an agent-transcript corpus before it enters the
    KG pipeline: turn counts by role, tool usage, size, and the
    contiguity invariant the north rule's stable (conv_id, turn_idx)
    ordering depends on (``contiguous`` false = dropped/duplicated turn
    indexes — data that would silently skew per-turn provenance).

    Scale shape: exactly one groupBy(conv_id) aggregate — map-side
    partial aggregation does the heavy lifting and conv_id is the
    table's own bucket key, so on the bucketed Iceberg layout this is
    shuffle-free. No window, no join, no Python.

    Returns one row per conversation:
    (conv_id, n_turns, n_user, n_assistant, n_tool_calls, n_tools,
    total_chars, contiguous, last_role).
    """
    return transcripts.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias("n_assistant"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias("n_tool_calls"),
        F.count_distinct(F.col("tool")).alias("n_tools"),
        F.sum(F.length("text")).alias("total_chars"),
        ((F.max("turn_idx") - F.min("turn_idx") + 1) == F.count("*")).alias("contiguous"),
        F.max_by("role", "turn_idx").alias("last_role"),
    )


def cooc_pmi_edges(linked: DataFrame, transcripts: DataFrame) -> DataFrame:
    """PMI-weighted chemical×species co-occurrence edges — confidence
    scores for the KG's payload edges. ``cooccurrence_triples`` asserts
    THAT a pair co-occurred; this scores HOW SURPRISING the association is:
    PMI = ln(p(c,s) / (p(c)·p(s))) over turn-level presence, the classic
    KG edge-weighting (a pair sharing many turns scores high only if the
    two entities are not ubiquitous individually — the same
    hub-discounting instinct as Adamic-Adar in link prediction).

    Presence semantics: DISTINCT per turn (an entity mentioned 5× in one
    turn counts once — PMI is about context windows, not token
    frequency); the context-window unit is the turn and N is the total
    turn count of the corpus.

    Scale shape: one distinct over the (mention-sized) linked projection,
    one per-turn chem×spec join (both sides turn-bounded — same shape as
    ``_cooc_pairs``), two vocabulary-sized presence aggregates that
    BROADCAST back onto the pair table. N rides ``transcripts.count()``
    — corpus-sized scan, driver-side scalar.

    Returns (chem, spec, n_cooc, pmi) with pmi rounded to 6 places.
    """
    ent = (
        linked.filter(
            F.col("entity").isNotNull()
            & F.col("entity_kind").isin("chemical", "species")
        )
        .select("conv_id", "turn_idx", "entity", "entity_kind")
        .distinct()
    )
    c = ent.filter(F.col("entity_kind") == "chemical").select(
        "conv_id", "turn_idx", F.col("entity").alias("chem")
    )
    s = ent.filter(F.col("entity_kind") == "species").select(
        "conv_id", "turn_idx", F.col("entity").alias("spec")
    )
    cooc = c.join(s, ["conv_id", "turn_idx"]).groupBy("chem", "spec").agg(
        F.count("*").alias("n_cooc")
    )
    n_turns = transcripts.count()
    presence = ent.groupBy("entity", "entity_kind").agg(F.count("*").alias("n_ent"))
    nc = F.broadcast(
        presence.filter(F.col("entity_kind") == "chemical").select(
            F.col("entity").alias("chem"), F.col("n_ent").alias("n_c")
        )
    )
    ns = F.broadcast(
        presence.filter(F.col("entity_kind") == "species").select(
            F.col("entity").alias("spec"), F.col("n_ent").alias("n_s")
        )
    )
    return (
        cooc.join(nc, "chem")
        .join(ns, "spec")
        .select(
            "chem",
            "spec",
            "n_cooc",
            F.round(
                F.log(
                    F.col("n_cooc").cast("double")
                    * F.lit(float(n_turns))
                    / (F.col("n_c") * F.col("n_s")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )


def entity_activity(linked: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Temporal activity interval per linked entity: first/last mention
    timestamp plus turn- and conversation-level support — the KG's
    validity-interval surface ("when was this entity live, and how
    broadly?"). The reference has no time axis at all (SURVEY §1.3); the
    graft's transcripts carry ``ts``, and interval + support per entity is
    what freshness-aware downstream consumers (decay-weighted linking,
    retention policies) read.

    Scale shape: the provenance join back to transcripts is on
    (conv_id, turn_idx) — both tables are bucketed by conv_id, so on the
    materialized layout it is co-partitioned; then ONE vocabulary-sized
    aggregate. Distinct-turn counting rides the same aggregate via
    count_distinct over the (already turn-unique) presence projection.

    Returns (entity, entity_kind, first_seen, last_seen, n_turns,
    n_convs).
    """
    ent = (
        linked.filter(F.col("entity").isNotNull() & (F.col("kind") != "quantity"))
        .select("conv_id", "turn_idx", "entity", "entity_kind")
        .distinct()
    )
    with_ts = ent.join(
        transcripts.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    )
    return with_ts.groupBy("entity", "entity_kind").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count("*").alias("n_turns"),
        F.count_distinct("conv_id").alias("n_convs"),
    )


def context_windows(
    transcripts: DataFrame, k: int = 3, sep: str = "\n"
) -> DataFrame:
    """Sliding context assembly: for every turn, the concatenation of the
    previous ``k`` turns plus the turn itself ("role: text" lines joined by
    ``sep``), under the north rule's stable (conv_id, turn_idx) ordering.
    This is the materialization step that turns a transcript table into
    training examples with conversational context — the per-turn input a
    downstream SFT/RM data pipeline actually consumes.

    Scale shape: ONE window (partitionBy conv_id, orderBy turn_idx) with a
    bounded ROWS frame — a single shuffle on the table's own bucket key,
    so on the bucketed Iceberg layout the sort is shuffle-free; state per
    row is bounded by k (never whole-partition). Both output expressions
    share the frame, so Catalyst evaluates one Window physical node. No
    Python, no join.

    NULL discipline: role/text are coalesced to '' BEFORE concat so a NULL
    never erases the separator (concat_ws would silently skip NULL args,
    desynchronizing from SQL replays that use ``||``).
    """
    line = F.concat(
        F.coalesce(F.col("role"), F.lit("")),
        F.lit(": "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-k, Window.currentRow)
    )
    ctx = F.collect_list(line).over(w)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.array_join(ctx, sep).alias("context"),
        F.size(ctx).alias("n_context_turns"),
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Change-data-capture between two KG snapshots: rows only in ``new``
    tagged ``added``, rows only in ``old`` tagged ``removed`` (set
    semantics on the full row — duplicate emissions within a snapshot
    collapse, exactly like ``triples.dedup``). The audit surface for
    incremental maintenance (pipeline/incremental.py) and forget
    (pipeline/forget.py): diffing the materialized graph before/after an
    apply yields the precise triple-level effect of a batch.

    Scale shape: ONE shuffle total — union the two inputs with a side tag
    (union is plan-free), then a single groupBy over the row key with
    min/max of the tag; rows present on both sides drop out. This beats
    the naive pair of left_anti joins (two shuffles of the same data) and
    never broadcasts, so it survives two 100 TB snapshots.
    """
    if old.columns != new.columns:
        raise ValueError(
            f"snapshot schemas differ: {old.columns} vs {new.columns}"
        )
    key = list(old.columns)
    tagged = old.withColumn("_side", F.lit(1)).unionByName(
        new.withColumn("_side", F.lit(2))
    )
    return (
        tagged.groupBy(*key)
        .agg(F.min("_side").alias("_a"), F.max("_side").alias("_b"))
        .where(F.col("_a") == F.col("_b"))
        .select(
            *key,
            F.when(F.col("_a") == 1, F.lit("removed"))
            .otherwise(F.lit("added"))
            .alias("change"),
        )
    )


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Tool-usage transition counts: how often tool B follows tool A
    within a conversation — the Markov view of agent behavior that drives
    trajectory curation (detect retry loops, dead-end tools, dominant
    chains) before transcripts enter the training mix. Turn ordering is
    the north rule's stable (conv_id, turn_idx); turns without a tool
    call are transparent (the transition is between consecutive TOOL
    turns, with an explicit '<start>' state for a conversation's first
    tool call), so interleaved plain-text turns don't break a chain.

    Scale shape: filter to tool turns (tiny fraction of the corpus),
    ONE lag window on the bucket key, one groupBy count — the window
    shuffle is on conv_id, so on the bucketed Iceberg layout it is
    shuffle-free. Transition vocabulary is O(|tools|^2), never
    corpus-sized.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tools = transcripts.where(F.col("tool").isNotNull()).select(
        "conv_id",
        "turn_idx",
        F.coalesce(F.lag("tool").over(w), F.lit("<start>")).alias("prev_tool"),
        F.col("tool"),
    )
    return (
        tools.groupBy("prev_tool", "tool")
        .agg(F.count("*").alias("n_transitions"))
    )


def render_conversations(transcripts: DataFrame, sep: str = "\n") -> DataFrame:
    """Render each conversation to one training document: every turn as a
    "role: text" line in stable (conv_id, turn_idx) order — the
    whole-conversation twin of ``context_windows`` and the export format
    an SFT corpus actually ships. NULL role/text coalesce to '' before
    concat (same separator discipline as context_windows).

    Scale shape: ONE groupBy on the bucket key; per-group state is
    bounded by conversation length (a bounded entity, unlike a corpus).
    Ordering rides array_sort over (turn_idx, line) structs — turn_idx
    is unique per conversation, so the sort is total and the render is a
    pure function of the table.
    """
    line = F.concat(
        F.coalesce(F.col("role"), F.lit("")),
        F.lit(": "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    packed = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), line.alias("_l")))
    )
    return transcripts.groupBy("conv_id").agg(
        F.array_join(
            F.transform(packed, lambda s: s["_l"]), sep
        ).alias("rendered"),
        F.count("*").alias("n_turns"),
    )


def turn_gaps(transcripts: DataFrame) -> DataFrame:
    """Inter-turn latency profile per conversation: gap count, median
    (nearest-rank) and max gap in MICROSECONDS between consecutive turns
    under stable (conv_id, turn_idx) ordering — the pacing signal that
    separates live interactive sessions from batch replays/synthetic
    dumps before they enter the training mix, and the input to
    gap-based sessionization threshold tuning (operators/events.py).

    Microseconds as exact integers (unix_micros), never float seconds:
    byte-portable across engines and immune to double rounding. The
    median is nearest-rank (value at ceil(n/2) of the sorted gaps) —
    same portable-quantile convention as ``textops.length_percentiles``.

    Scale shape: one lag window and one rank window, both on the
    (conv_id)-bucketed ordering → a single sort per conversation; one
    groupBy on the bucket key. Single-turn conversations report
    n_gaps = 0 with NULL median/max (no pacing signal, surfaced as
    absent rather than fabricated).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = transcripts.select(
        "conv_id",
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    )
    wg = Window.partitionBy("conv_id").orderBy("gap_us")
    wa = Window.partitionBy("conv_id")
    ranked = gaps.where(F.col("gap_us").isNotNull()).select(
        "conv_id",
        "gap_us",
        F.row_number().over(wg).alias("_rn"),
        F.count("*").over(wa).alias("_cnt"),
    )
    stats = (
        ranked.groupBy("conv_id")
        .agg(
            F.max("_cnt").alias("n_gaps"),
            F.max(
                F.when(
                    F.col("_rn") == F.ceil(F.col("_cnt") / 2), F.col("gap_us")
                )
            ).alias("median_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )
    all_convs = transcripts.select("conv_id").distinct()
    return all_convs.join(stats, "conv_id", "left").select(
        "conv_id",
        F.coalesce(F.col("n_gaps"), F.lit(0)).alias("n_gaps"),
        "median_gap_us",
        "max_gap_us",
    )


def entity_freshness(
    linked: DataFrame, transcripts: DataFrame, tau_hours: float = 24.0
) -> DataFrame:
    """Exponential-decay freshness mass per linked entity:
    sum over distinct mention turns of exp(-age/tau), age measured back
    from the corpus's LATEST turn — the recency-aware companion to
    ``entity_activity``'s hard first/last interval. Downstream consumers
    (decay-weighted linking priors, retention scoring, trending-entity
    feeds) read this instead of raw counts so a 10^12-turn history
    doesn't let dead entities outweigh live ones.

    Determinism: the decay is a pure function of (ts, corpus max ts,
    tau); the mass rounds to 6dp so double summation order can't leak
    (same discipline as the PMI ln() — transcendentals agree across
    engines well inside 6dp).

    Scale shape: distinct turn-presence projection, provenance join on
    the bucketed (conv_id, turn_idx), corpus max ts as a broadcast
    1-row aggregate, one groupBy. Turn-level DISTINCT presence (an
    entity mentioned 5x in one turn counts once — same convention as
    the PMI presence table).
    """
    ent = (
        linked.filter(F.col("entity").isNotNull())
        .select("conv_id", "turn_idx", "entity", "entity_kind")
        .distinct()
    )
    with_ts = ent.join(
        transcripts.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    )
    mx = transcripts.agg(F.max("ts").alias("_mx"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mx_us = F.unix_micros(F.col("_mx").cast("timestamp"))
    age_h = (mx_us - us) / F.lit(3_600_000_000.0)
    w = F.exp(-age_h / F.lit(float(tau_hours)))
    return (
        with_ts.crossJoin(F.broadcast(mx))
        .groupBy("entity", "entity_kind")
        .agg(
            F.round(F.sum(w), 6).alias("freshness"),
            F.count("*").alias("n_turns"),
        )
    )


def conversation_entropy(transcripts: DataFrame) -> DataFrame:
    """Behavioral signature per conversation: Shannon entropy (nats) of
    the role mix and of the role-TRANSITION distribution under stable
    (conv_id, turn_idx) ordering. The curation signal conversation_stats'
    raw counts can't give: a ping-pong user/assistant session and a
    degenerate assistant-only loop can share counts but never both
    entropies — low transition entropy at high turn count flags stuck
    agents and synthetic dumps before they enter the training mix.

    Singleton conversations report NULL transition entropy (no
    transitions — absent, not fabricated). Entropies round to 6dp (ln
    parity inside rounding, as throughout).

    Scale shape: one lag window on the bucket key, two (conv, symbol)
    counts with map-side combine, two per-conversation aggregates, one
    join on the bucket key. Symbol alphabets are O(|roles|) and
    O(|roles|^2) — never turn-sized state.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")

    def _entropy(sym_counts, out_name):
        tot = sym_counts.groupBy("conv_id").agg(F.sum("_c").alias("_n"))
        return (
            sym_counts.join(tot, "conv_id")
            .withColumn("_p", F.col("_c") / F.col("_n"))
            .groupBy("conv_id")
            .agg(
                F.round(
                    F.abs(F.sum(F.col("_p") * F.log("_p"))), 6
                ).alias(out_name)
            )  # abs: entropy is >= 0; normalizes the -0.0 of single-symbol convs
        )

    roles = transcripts.groupBy("conv_id", "role").agg(F.count("*").alias("_c"))
    trans = (
        transcripts.select(
            "conv_id", F.lag("role").over(w).alias("_prev"), "role"
        )
        .where(F.col("_prev").isNotNull())
        .groupBy("conv_id", "_prev", "role")
        .agg(F.count("*").alias("_c"))
    )
    base = transcripts.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    return (
        base.join(_entropy(roles, "role_entropy"), "conv_id")
        .join(_entropy(trans, "transition_entropy"), "conv_id", "left")
    )


def _h60(c):
    """md5 → uniform 60-bit non-negative integer (15 hex digits), the
    shared deterministic-draw primitive (same construction as the KMV
    sketch, operators/sketches.py)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def negative_samples(
    edges: DataFrame, per_edge: int = 1, n_buckets: int = 32
) -> DataFrame:
    """Deterministic filtered negative sampling for KG-embedding training:
    for every (subject, predicate, object) edge, corrupt the object with a
    uniformly-chosen entity from the graph's object universe, dropping
    accidental positives (corruptions that are themselves true edges for
    the same (subject, predicate) — the standard 'filtered' protocol of
    the KG-embedding literature). md5-derived choices make the sample a
    pure function of the edge set: append-stable, replayable, no RNG.

    Uniformity without a global sort: a dense global index over N
    entities would need a single-partition row_number — a scale-killer.
    Instead entities hash into ``n_buckets`` buckets, each bucket gets a
    PARALLEL per-bucket dense index (window partitioned by bucket), and
    the n_buckets-row bucket-size prefix-sum table (broadcast) maps a
    global draw g = H(edge, k) mod N to (bucket, offset). Every entity
    owns exactly one (bucket, offset) slot, so the draw is exactly
    uniform over the universe.

    Scale shape: one distinct for the universe, one parallel window, an
    n_buckets-row broadcast range join, one hash join on (bucket,
    offset), one anti-join against the true edges. No Python, no global
    data-scale sort (the prefix-sum window orders n_buckets rows), no
    skew (bucket sizes concentrate at N/n_buckets).
    """
    if per_edge < 1:
        raise ValueError("per_edge must be >= 1")
    ents = edges.select(F.col("object").alias("_ent")).distinct()
    ents = ents.withColumn("_b", F.pmod(_h60(F.col("_ent")), F.lit(n_buckets)))
    wb = Window.partitionBy("_b").orderBy("_ent")
    idx = ents.withColumn("_off", F.row_number().over(wb) - 1)
    sizes = idx.groupBy("_b").agg(F.count("*").alias("_sz"))
    wcum = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    bounds = sizes.select(
        "_b",
        "_sz",
        F.coalesce(F.sum("_sz").over(wcum), F.lit(0)).alias("_start"),
    )
    n_total = sizes.agg(F.sum("_sz").alias("_n"))
    draws = (
        edges.select("subject", "predicate", "object")
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(per_edge - 1))))
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "_g",
            F.pmod(
                _h60(
                    F.concat_ws(
                        "|",
                        F.col("subject"),
                        F.col("predicate"),
                        F.col("object"),
                        F.col("k").cast("string"),
                    )
                ),
                F.col("_n"),
            ),
        )
    )
    located = draws.join(
        F.broadcast(bounds),
        (F.col("_g") >= F.col("_start"))
        & (F.col("_g") < F.col("_start") + F.col("_sz")),
    ).withColumn("_off", F.col("_g") - F.col("_start"))
    neg = located.join(idx, ["_b", "_off"]).select(
        "subject", "predicate", "object", "k", F.col("_ent").alias("neg_object")
    )
    true_pairs = edges.select(
        "subject", "predicate", F.col("object").alias("neg_object")
    ).distinct()
    return neg.join(
        true_pairs, ["subject", "predicate", "neg_object"], "left_anti"
    ).select("subject", "predicate", "object", "k", "neg_object")


def negative_samples_typed(
    edges: DataFrame,
    entity_classes: DataFrame,
    per_edge: int = 1,
    n_buckets: int = 32,
) -> DataFrame:
    """Type-constrained ('hard') negative sampling: like
    ``negative_samples``, but each corruption is drawn uniformly from the
    entities of the TRUE object's class (``entity_classes``: one
    (entity, cls) row per entity) — a corrupted chemical stays a
    chemical. Type-consistent negatives are the ones a KG-embedding
    model cannot dismiss from type signals alone, which is what makes
    them the harder, higher-signal training examples.

    Same machinery as the untyped operator with the class threaded
    through every stage: the dense index is per (cls, bucket) — windows
    stay parallel — the prefix-sum/bounds tables are per class (still
    n_buckets·|classes| rows, broadcastable), the draw is
    g = H(edge, k) mod N_class, and accidental positives are
    anti-joined away. Edges whose object has no class row are dropped
    (no universe to draw from — surfacing them as nulls would poison
    the training file).
    """
    if per_edge < 1:
        raise ValueError("per_edge must be >= 1")
    ents = entity_classes.select(
        F.col("entity").alias("_ent"), F.col("cls").alias("_cls")
    ).distinct()
    ents = ents.withColumn("_b", F.pmod(_h60(F.col("_ent")), F.lit(n_buckets)))
    wb = Window.partitionBy("_cls", "_b").orderBy("_ent")
    idx = ents.withColumn("_off", F.row_number().over(wb) - 1)
    sizes = idx.groupBy("_cls", "_b").agg(F.count("*").alias("_sz"))
    wcum = (
        Window.partitionBy("_cls")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = sizes.select(
        "_cls",
        "_b",
        "_sz",
        F.coalesce(F.sum("_sz").over(wcum), F.lit(0)).alias("_start"),
    )
    n_cls = sizes.groupBy("_cls").agg(F.sum("_sz").alias("_n"))
    typed = edges.join(
        F.broadcast(
            entity_classes.select(
                F.col("entity").alias("object"), F.col("cls").alias("_cls")
            ).distinct()
        ),
        "object",
    )
    draws = (
        typed.select("subject", "predicate", "object", "_cls")
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(per_edge - 1))))
        .join(F.broadcast(n_cls), "_cls")
        .withColumn(
            "_g",
            F.pmod(
                _h60(
                    F.concat_ws(
                        "|",
                        F.col("subject"),
                        F.col("predicate"),
                        F.col("object"),
                        F.col("k").cast("string"),
                    )
                ),
                F.col("_n"),
            ),
        )
    )
    located = draws.join(
        F.broadcast(bounds),
        (draws["_cls"] == bounds["_cls"])
        & (F.col("_g") >= F.col("_start"))
        & (F.col("_g") < F.col("_start") + F.col("_sz")),
    ).select(
        "subject",
        "predicate",
        "object",
        "k",
        draws["_cls"].alias("_cls"),
        "_b",
        (F.col("_g") - F.col("_start")).alias("_off"),
    )
    neg = located.join(idx, ["_cls", "_b", "_off"]).select(
        "subject", "predicate", "object", "k", F.col("_ent").alias("neg_object")
    )
    true_pairs = edges.select(
        "subject", "predicate", F.col("object").alias("neg_object")
    ).distinct()
    return neg.join(
        true_pairs, ["subject", "predicate", "neg_object"], "left_anti"
    ).select("subject", "predicate", "object", "k", "neg_object")
