"""Stage 2 — entity linking (north_star: "TERA-style entity linking —
token-blocking candidate generation, Jaccard/edit-distance similarity
scoring against chemical/species/endpoint lexicons").

Two paths, mirroring TERA's alignment pair (SURVEY.md §2.4):

- **exact** (J2-shaped): normalized mention == normalized lexicon label —
  a broadcast join against the lexicon (ECOTOX chemicals / NCBI names
  scale: ≤ a few M rows ⇒ ≤ ~100 MB, broadcastable; beyond that, a
  shuffle-hash join on the normalized label still has no skew because
  labels are near-unique).
- **fuzzy** (J6-shaped): unlinked term mentions vs lexicon labels via
  character-3-gram blocking (misspellings share most shingles even when
  they share no whole token) + vectorized WRatio scoring + argmax-per-
  mention (A5/W2). The candidate set is bounded by requiring ≥2 shared
  shingles and shingle-Jaccard ≥ 0.25, and by dropping hot shingles (in
  more than ``MAX_SHINGLE_FREQ`` lexicon rows) from the lexicon side.
  Shared shingles are counted over integer ids — ``l_id`` per lexicon
  row, ``m_id`` per distinct mention norm, both fixed by a
  localCheckpoint — so the counting shuffle carries four numbers per row,
  not three strings; the strings join back for the surviving pairs only.
  Scoring uses the floor-aware WRatio kernel
  (``functions/similarity.py:wratio_at_least``) with floor =
  ``MERGE_FLOOR``: scores at or above the floor are exact, and pairs below
  it are dropped right after scoring, so nothing reads their value.

Output adds ``entity`` / ``link_method`` / ``link_score``; unlinked term
mentions get a provisional ``urn:mention:<norm>`` entity that the
canonicalization stage may merge into a lexicon entity (alias edges are
also produced here, from the fuzzy scores). Each term mention is one row
of one projection over ``terms ⟕ lexicon ⟕ best fuzzy candidate``: the
fuzzy candidates are built only from norms with no exact match, and at
most one per norm, so neither join changes the row count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tera_spark.checkpoints import checkpoint, release
from tera_spark.functions.similarity import wratio_at_least

PROVISIONAL_PREFIX = "urn:mention:"

# Exact-path broadcast gate: lexicons at or below this many (entity,
# norm_label) rows broadcast (map-side-only join); larger ones degrade to
# a shuffle-hash join instead of risking an executor/driver OOM. ~2M
# two-string rows ≈ 100-150 MB serialized — the edge of sane broadcast.
LEXICON_BROADCAST_MAX_ROWS = 2_000_000

# A fuzzy score at or above this links the mention directly.
FUZZY_THRESHOLD = 88.0
# Fuzzy scores below this floor are dropped right after scoring; scores in
# [MERGE_FLOOR, FUZZY_THRESHOLD) become alias edges, not links.
MERGE_FLOOR = 80.0
# Hot-shingle cap: a shingle found in more than this many lexicon rows is
# dropped from candidate blocking.
MAX_SHINGLE_FREQ = 2000


def _norm(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _shingles(col, n: int = 3):
    """Character n-gram array of the normalized string (distinct),
    space-padded so word boundaries contribute shingles. JVM-side
    (sequence + transform + substr) — no UDF."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return F.when(F.length(padded) >= n, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - n + 1),
            lambda i: padded.substr(i, F.lit(n)),
        )
    )).otherwise(F.array().cast("array<string>"))


@dataclass
class PreparedLexicon:
    """Lexicon-side linking state, computed ONCE and reused across calls
    (streaming micro-batches, repeated pipeline runs): normalized labels
    keyed by a fixed integer ``l_id``, and the id-keyed shingle table with
    hot shingles already removed. Both are checkpointed — lexicon-sized
    (≤ a few M rows), so the materialization is cheap, every reuse skips
    the shingle/hot-token recompute, and ``l_id`` (a
    monotonically_increasing_id) stays fixed across reuses.

    Prepared inside a ``checkpoint_scope`` (as ``run_pipeline`` and every
    apply or forget batch do with a raw lexicon), it is released with the
    scope. Prepared outside every scope, to reuse it across calls, it is
    the caller's to ``release()``: passing it in takes no new checkpoint."""

    lex: DataFrame        # (entity, lex_kind, norm_label, l_id)
    l_tok: DataFrame      # (l_id, l_n, sh) hot-filtered
    n_rows: int           # |lex| — drives the broadcast gates

    def release(self) -> None:
        """Unpersist the blocks of its two checkpoints, for a lexicon the
        caller prepared outside every ``checkpoint_scope`` — otherwise
        they live until the context cleaner happens to GC them. Safe to
        call more than once; the object must not be used afterwards."""
        release(self.lex, self.l_tok)


def prepare_lexicon(lexicon: DataFrame | PreparedLexicon) -> PreparedLexicon:
    """Precompute the lexicon side of ``link_mentions``. An already-prepared
    lexicon is returned unchanged."""
    if isinstance(lexicon, PreparedLexicon):
        return lexicon
    # |lex| rides the checkpoint action as an observed metric (same
    # CollectMetrics fuse as canonical._checkpoint_fingerprint) instead of
    # a separate count() job — one serial job less per prepare.
    from pyspark.sql import Observation

    obs = Observation()
    lex = checkpoint(
        lexicon.select(
            F.col("entity"),
            F.col("kind").alias("lex_kind"),
            _norm(F.col("label")).alias("norm_label"),
        )
        .dropDuplicates(["entity", "norm_label"])
        .withColumn("l_id", F.monotonically_increasing_id())
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    # The hot-shingle cap is a per-shingle count window inside l_tok's one
    # checkpoint: a hot shingle's rows are dropped here, so the mention side
    # needs no anti-join (the inner join on ``sh`` drops any shingle that
    # is missing from l_tok). l_n counts ALL of a label's shingles, hot
    # ones included — the Jaccard denominator.
    l_tok = checkpoint(
        lex.select("l_id", _shingles(F.col("norm_label")).alias("l_sh"))
        .select("l_id", F.size("l_sh").alias("l_n"), F.explode("l_sh").alias("sh"))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .filter(F.col("_n") <= MAX_SHINGLE_FREQ)
        .drop("_n")
    )
    return PreparedLexicon(lex=lex, l_tok=l_tok, n_rows=int(obs.get["n"]))


def link_mentions(
    mentions: DataFrame,
    lexicon: DataFrame | PreparedLexicon,
    scorer: str = "wratio",
    materialized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (linked mentions, alias_edges).

    ``lexicon``: (entity, label, kind) — or a ``PreparedLexicon`` to skip
    the lexicon-side shingle/hot recompute. ``mentions``: stage-1 output.
    ``scorer``: ``"wratio"`` (default — fuzzywuzzy parity via difflib) or
    ``"portable"`` (levenshtein + token-sort as a pure Column expression:
    JVM-side, whole-stage codegen, and replayable by the DuckDB oracle —
    functions/similarity.py). Same blocking, same bands, only the pair
    score differs. ``materialized``: ``mentions`` is already a stored table
    (a parquet read-back or a checkpoint) — the caller says so, because
    only the caller knows; otherwise it is localCheckpointed once here.

    Confidence bands: score ≥ ``FUZZY_THRESHOLD`` links directly (the
    mention row carries the lexicon entity); scores in
    [``MERGE_FLOOR``, ``FUZZY_THRESHOLD``) are NOT linked here — the
    mention stays provisional and an alias edge (urn:mention:<norm>,
    entity) is emitted instead, so the *canonicalization* stage (CC over
    alias edges + rewrite) performs the low-confidence merge. This keeps
    stage responsibilities honest: linking is per-mention local, merging
    is global/transitive.

    The returned frames read the checkpoints taken here (``mentions``
    unless materialized, the fuzzy vocabulary, the best candidates), so
    only the caller's ``checkpoint_scope`` releases them.
    """
    # The returned ``linked`` reads ``mentions`` three times (the fuzzy
    # vocabulary, the term projection and the rule passthrough), and
    # downstream consumers (build_triples) scan ``linked`` up to 3 times —
    # so a lazily-derived mentions table (the Arrow-UDF extraction) would
    # be recomputed ~9x per materialization (measured with the earlier
    # four-branch union: the linked noop cost ~8s at 192k turns vs 0.75s
    # for one extraction pass). localCheckpoint it ONCE here — unless the caller
    # says it is already materialized (run.py / incremental.py / forget.py
    # read their stage tables back from disk: a re-scan is cheap and a
    # checkpoint would only burn memory). A streaming DataFrame cannot be
    # checkpointed at all.
    if not mentions.isStreaming and not materialized:
        # The mentions checkpoint and the lexicon preparation are
        # independent job chains — overlap them (guide §2.6: concurrent
        # driver threads back-fill idle executors) instead of serializing
        # ~0.5s of checkpoint behind ~0.8s of lexicon prep.
        from tera_spark.pipeline.run import run_plan

        done = run_plan(mentions.sparkSession, "link_mentions", [
            ("mentions", lambda: checkpoint(mentions)),
            ("prepare_lexicon", lambda: prepare_lexicon(lexicon)),
        ])
        mentions, prepared = done["mentions"], done["prepare_lexicon"]
    else:
        prepared = prepare_lexicon(lexicon)
    lex = prepared.lex

    terms = mentions.filter(F.col("kind") == "term").withColumn(
        "norm", _norm(F.col("mention"))
    )
    non_terms = mentions.filter(F.col("kind") != "term")

    # --- exact path -------------------------------------------------------
    # Size-gated broadcast: lexicons are usually ≤ a few M rows and the
    # broadcast makes the exact join map-side-only, but at a full
    # NCBI-scale multi-label lexicon (or beyond) an unconditional hint is
    # the first 100×-scale OOM cliff. Above the gate the join degrades to
    # shuffle-hash — one extra shuffle of the terms, zero memory cliff.
    # norm is a near-unique key on the lexicon side, so no salting needed.
    def lex_side(df: DataFrame) -> DataFrame:
        if prepared.n_rows <= LEXICON_BROADCAST_MAX_ROWS:
            return F.broadcast(df)
        return df.hint("shuffle_hash")

    exact = terms.join(
        lex_side(lex.select(
            F.col("entity").alias("_x_entity"),
            F.col("lex_kind").alias("_x_kind"),
            F.col("norm_label").alias("norm"),
        )),
        "norm",
        "left",
    )

    # --- fuzzy path over the distinct unlinked vocabulary ------------------
    # Dictionary-encode: score each distinct normalized mention once, not
    # once per occurrence (same trick as the unit parser, F1). Only 1-2
    # word mentions enter the fuzzy path (3-grams are phrase noise).
    unlinked = exact.filter(F.col("_x_entity").isNull())
    # localCheckpoint is a deliberate optimization barrier: without it,
    # Catalyst pushes the (expensive) shingle-array predicates that the
    # downstream explode generates BELOW this distinct, evaluating the
    # O(len) array build ~3x per raw mention instead of once per distinct
    # norm — measured 16s → ~2s on a 143k-mention corpus. The distinct
    # vocabulary is small (10^3-10^5 rows) so the checkpoint is cheap at
    # any corpus scale.
    # The explicit repartition matters twice over: AQE coalesces the tiny
    # distinct to ONE partition, and because everything from here to the
    # first shuffle is broadcast-join-only, that single partition would
    # otherwise serialize the whole candidate-generation chain.
    par = mentions.sparkSession.sparkContext.defaultParallelism
    vocab = checkpoint(
        unlinked.select("norm")
        .filter(F.length("norm") >= 5)
        .filter(F.size(F.split(F.col("norm"), " ")) <= 2)
        .distinct()
        .repartition(par)
        .withColumn("m_id", F.monotonically_increasing_id())
    )
    m_tok = vocab.select(
        "m_id", _shingles(F.col("norm")).alias("m_sh")
    ).select("m_id", F.size("m_sh").alias("m_n"), F.explode("m_sh").alias("sh"))

    # Candidate generation + cheap JVM-side shingle-Jaccard prefilter; the
    # expensive Python WRatio scorer only sees plausible pairs. The count
    # is keyed on integer ids only (the shuffle moves four longs per row);
    # the strings join back for the surviving pairs.
    cand = (
        m_tok.join(prepared.l_tok, "sh")
        .groupBy("m_id", "m_n", "l_id", "l_n")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
        .filter(F.col("shared") / (F.col("m_n") + F.col("l_n") - F.col("shared")) >= 0.25)
        .join(F.broadcast(vocab), "m_id")
        .join(lex_side(lex), "l_id")
    )
    # AQE coalesces post-shuffle partitions by (compressed) BYTE size; the
    # candidate table is tiny in bytes but huge in Python-CPU per byte, so
    # without intervention the whole WRatio pass collapses onto 1-2 tasks
    # (measured: one 27-31s straggler task at ANY core count — the round-1
    # scaling killer). An explicit numbered repartition is exempt from AQE
    # coalescing and spreads the scoring across every core; the extra
    # shuffle moves only megabytes.
    cand = cand.repartition(par * 2, "norm")
    if scorer == "portable":
        from tera_spark.functions.similarity import portable_ratio_col

        score_col = portable_ratio_col(F.col("norm"), F.col("norm_label"))
    elif scorer == "wratio":
        score_col = wratio_at_least(
            F.col("norm"), F.col("norm_label"), MERGE_FLOOR
        ).cast("double")
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    scored = (
        cand.withColumn("link_score", score_col)
        .filter(F.col("link_score") >= MERGE_FLOOR)
        .select("norm", "entity", "lex_kind", "link_score")
    )
    # best candidate per distinct mention (A5/W2), across both bands.
    # localCheckpoint (not cache): it is consumed by BOTH the linked-mention
    # output and the alias-edge output — the checkpoint materializes the
    # expensive WRatio scoring exactly once and is bounded by the distinct
    # vocabulary size. Its blocks stay pinned until the caller's
    # checkpoint_scope ends (tera_spark/checkpoints.py).
    best_all = checkpoint(
        scored.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("norm").orderBy(
                    F.col("link_score").desc(), F.col("entity").asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("norm", "entity", "lex_kind", "link_score")
    )
    best = best_all.filter(F.col("link_score") >= FUZZY_THRESHOLD).select(
        "norm",
        F.col("entity").alias("_f_entity"),
        F.col("lex_kind").alias("_f_kind"),
        F.col("link_score").alias("_f_score"),
    )

    # --- one projection over every term mention ----------------------------
    # exact, else fuzzy, else provisional. ``best`` holds at most one row
    # per norm, so the left join keeps every term row exactly once.
    method = (
        F.when(F.col("_x_entity").isNotNull(), F.lit("exact"))
        .when(F.col("_f_entity").isNotNull(), F.lit("fuzzy"))
        .otherwise(F.lit("provisional"))
    )

    def by_method(exact_v, fuzzy_v, provisional_v):
        return (
            F.when(F.col("link_method") == "exact", exact_v)
            .when(F.col("link_method") == "fuzzy", fuzzy_v)
            .otherwise(provisional_v)
        )

    linked_terms = exact.join(F.broadcast(best), "norm", "left").withColumn(
        "link_method", method
    ).select(
        *mentions.columns,
        by_method(
            F.col("_x_entity"),
            F.col("_f_entity"),
            F.concat(F.lit(PROVISIONAL_PREFIX), F.col("norm")),
        ).alias("entity"),
        by_method(F.col("_x_kind"), F.col("_f_kind"), F.lit("unknown")).alias("entity_kind"),
        F.col("link_method"),
        by_method(F.lit(100.0), F.col("_f_score"), F.lit(0.0)).alias("link_score"),
    )

    passthrough = non_terms.select(
        *mentions.columns,
        F.when(F.col("kind") == "code", F.concat(F.lit("code:"), F.col("mention")))
        .otherwise(F.lit(None))
        .alias("entity"),
        F.when(F.col("kind") == "code", F.lit("endpoint")).otherwise(F.lit("quantity")).alias("entity_kind"),
        F.lit("rule").alias("link_method"),
        F.lit(100.0).alias("link_score"),
    )

    linked = linked_terms.unionByName(passthrough)

    # Alias edges for the canonicalization stage: the best candidate per
    # provisional mention in the merge band (pick-one, never all
    # candidates — merging every candidate would chain unrelated entities
    # through shared mentions into one component).
    alias_edges = best_all.filter(F.col("link_score") < FUZZY_THRESHOLD).select(
        F.concat(F.lit(PROVISIONAL_PREFIX), F.col("norm")).alias("u"),
        F.col("entity").alias("v"),
    )
    return linked, alias_edges
