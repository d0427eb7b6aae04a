"""Entity alignment & id conversion — J2-J7 (SURVEY.md §2.4).

The reference's ``Alignment`` hierarchy holds mappings as Python dicts and
probes them one id at a time (/root/reference/tera/DataIntegration.py:47-120).
Here a mapping is a two-column DataFrame ``(from_id, to_id [, score])`` and
every operation is a broadcast join — mappings are lexicon-scale (≤ tens of
MB even for full Wikidata id-pair dumps), so conversion never shuffles the
probe side.

Deviations from reference bugs (SURVEY.md §8):
- the candidate-*consuming* ``pop(0)`` probe (DataIntegration.py:82) is
  order-dependent and irreproducible under parallelism; we define
  deterministic pick-one: smallest ``to_id`` (ties per from_id), J5.
- ``Alignment.__add__`` dict-merge semantics ('last wins' per key,
  DataIntegration.py:91-95) is reproduced by preferring the right-hand
  mapping on key conflicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tera_spark.functions.similarity import wratio_at_least

NO_MAPPING = "no mapping"


def pick_one(mapping: DataFrame, key: str = "from_id", val: str = "to_id") -> DataFrame:
    """Deterministic one-candidate-per-key (replaces J5's stateful pop):
    prefer highest score when present, then smallest value. Ranking window
    (W2) — shuffles once on the key."""
    order = [F.col(val).asc()]
    if "score" in mapping.columns:
        order = [F.col("score").desc()] + order
    w = Window.partitionBy(key).orderBy(*order)
    return (
        mapping.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def reverse_mapping(mapping: DataFrame) -> DataFrame:
    """J3 (DataIntegration.py:66-70) — no build step, just a column swap."""
    cols = [
        F.col("to_id").alias("from_id"),
        F.col("from_id").alias("to_id"),
    ] + [F.col(c) for c in mapping.columns if c not in ("from_id", "to_id")]
    return mapping.select(cols)


def merge_mappings(a: DataFrame, b: DataFrame) -> DataFrame:
    """U2 / ``Alignment.__add__`` (DataIntegration.py:91-95): dict merge,
    right side wins on key conflict."""
    only_a = a.join(b.select("from_id").distinct(), "from_id", "left_anti")
    return only_a.unionByName(b.select(only_a.columns))


def convert(
    ids: DataFrame,
    mapping: DataFrame,
    reverse: bool = False,
    id_col: str = "id",
    out_col: str = "converted",
    default: str = NO_MAPPING,
) -> DataFrame:
    """J2: batched ``Alignment.convert`` (DataIntegration.py:97-120) —
    broadcast left join + coalesce('no mapping')."""
    m = reverse_mapping(mapping) if reverse else mapping
    m = pick_one(m.select("from_id", "to_id", *[c for c in m.columns if c == "score"]))
    m = m.select("from_id", "to_id")
    return (
        ids.join(F.broadcast(m), ids[id_col] == m["from_id"], "left")
        .select(
            *[ids[c] for c in ids.columns],
            F.coalesce(F.col("to_id"), F.lit(default)).alias(out_col),
        )
    )


def convert_via_base(
    ids: DataFrame,
    from_mapping: DataFrame,
    to_mapping: DataFrame,
    id_col: str = "id",
    out_col: str = "converted",
) -> DataFrame:
    """J4: ``API.convert_id`` pivot (DataAccess.py:301-306) — reverse
    (f → base), then forward (base → t): two chained broadcast joins."""
    step1 = convert(ids, from_mapping, reverse=True, id_col=id_col, out_col="_base")
    out = convert(step1, to_mapping, id_col="_base", out_col=out_col)
    # 'no mapping' at hop 1 stays 'no mapping' (it never joins at hop 2).
    return out.drop("_base")


def threshold_dedup(
    align: DataFrame, threshold: float = 0.95, unique: bool = False
) -> DataFrame:
    """J7 (DataIntegration.py:205-213,226-235): keep score ≥ threshold;
    with ``unique`` keep only the best score per (e1, e2) pair."""
    out = align.filter(F.col("score") >= threshold)
    if unique:
        out = out.groupBy("e1", "e2").agg(F.max("score").alias("score"))
    return out


def string_matching_mapping(
    labels1: DataFrame,
    labels2: DataFrame,
    threshold: float = 95.0,
    min_token_len: int = 3,
    max_candidates_per_token: int = 1000,
    scorer: str = "wratio",
) -> DataFrame:
    """J6 — THE scaling-critical operator (SURVEY.md §7.3): fuzzy alignment
    of two label dictionaries, reference ``StringMatchingMapping.load``
    (DataIntegration.py:261-273), which is a literal O(n·m) double loop.

    Spark-first design = token-blocking similarity join (the set-similarity
    join literature, PAPERS.md):

    1. explode labels → normalized tokens (JVM-side split/lower);
    2. candidate generation: inner join on shared token — only pairs
       sharing ≥1 token are scored (blocks the cross product);
       mega-frequent tokens are capped (stop-token removal) to kill skew;
    3. score candidates with the vectorized fuzzy scorer (Arrow batches);
    4. A3/A5: ``groupBy(e1, e2).max(score)``, threshold, then pick-one
      per e1 (max score, tie → smallest e2 — deterministic stand-in for
      the reference's dict-insertion order).

    Inputs: DataFrames ``(entity, label)`` (exploded label dictionaries,
    utils.py:384-402). Returns ``(from_id, to_id, score)``.

    ``scorer``: ``"wratio"`` (default — fuzzywuzzy-parity, Python difflib)
    or ``"portable"`` (levenshtein + token-sort, pure Column expression —
    JVM-side AND SQL-oracle-checkable; see functions/similarity.py).
    """
    if scorer not in ("wratio", "portable"):
        raise ValueError(f"unknown scorer {scorer!r}")

    def tokens(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.col("entity").alias(f"e{side}"),
                F.col("label").alias(f"label{side}"),
                F.explode(
                    F.array_distinct(
                        F.filter(
                            F.split(F.lower(F.col("label")), r"\W+"),
                            lambda x: F.length(x) >= min_token_len,
                        )
                    )
                ).alias("token"),
            )
        )

    t1 = tokens(labels1, "1")
    t2 = tokens(labels2, "2")

    # Stop-token removal: a token appearing in a huge fraction of either
    # side generates |a|×|b| candidates — drop tokens over the cap. This is
    # the explicit skew control the north_rule asks for: frequency is
    # computed with a map-side-combinable count, and the hot keys never
    # reach the join.
    freq2 = t2.groupBy("token").agg(F.count(F.lit(1)).alias("_n2"))
    hot = freq2.filter(F.col("_n2") > max_candidates_per_token).select("token")
    t1 = t1.join(F.broadcast(hot), "token", "left_anti")
    t2 = t2.join(F.broadcast(hot), "token", "left_anti")

    cands = (
        t1.join(t2, "token")
        .select("e1", "label1", "e2", "label2")
        .dropDuplicates(["e1", "label1", "e2", "label2"])
    )
    if scorer == "portable":
        from tera_spark.functions.similarity import portable_ratio_col

        scored = cands.withColumn(
            "score", portable_ratio_col(F.col("label1"), F.col("label2"))
        )
    else:
        scored = cands.withColumn(
            "score", wratio_at_least(F.col("label1"), F.col("label2"), threshold)
        )
    best = (
        scored.groupBy("e1", "e2")
        .agg(F.max("score").cast("double").alias("score"))
        .filter(F.col("score") >= threshold)
    )
    picked = pick_one(
        best.select(
            F.col("e1").alias("from_id"), F.col("e2").alias("to_id"), "score"
        )
    )
    return picked
