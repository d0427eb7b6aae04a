"""The triple store as a DataFrame: the rebuild's core data model.

Reference semantics (SURVEY.md §1.1): an rdflib ``Graph`` is a *set* of
(subject, predicate, object) triples — duplicates collapse on add
(/root/reference/tera/DataAggregation.py:32,37-40). Here a graph is a
DataFrame with columns::

    subject string, predicate string, object string, obj_is_literal boolean

Set semantics are realized by ``dedup`` (hash aggregate — map-side partial
combine, one shuffle on the 3-tuple) applied at materialization boundaries,
not after every transform: Spark's lazy model lets us union/emit freely and
pay the distinct once.

Scale notes
-----------
- ``dedup`` shuffles on (subject, predicate, object): high-cardinality,
  well-spread keys — no skew expected; AQE coalesces the post-shuffle
  partitions.
- ``replace_entities`` (reference ``DataObject.replace``,
  DataAggregation.py:64-88) is a join-rewrite. The mapping side is
  broadcast when small (lexicon-scale); hot canonical ids on the fact side
  are irrelevant to broadcast joins (no shuffle on the big side at all),
  which is exactly why we canonicalize via broadcast rather than a
  shuffle join — see operators/canonical.py for the salted fallback when
  the mapping itself exceeds broadcast size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRIPLE_COLS = ["subject", "predicate", "object", "obj_is_literal"]

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("object", T.StringType(), False),
        T.StructField("obj_is_literal", T.BooleanType(), False),
    ]
)


def empty_graph(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], TRIPLE_SCHEMA)


def as_graph(df: DataFrame) -> DataFrame:
    """Project/validate an arbitrary DataFrame into triple shape."""
    missing = [c for c in TRIPLE_COLS if c not in df.columns]
    if missing == ["obj_is_literal"]:
        df = df.withColumn("obj_is_literal", F.lit(False))
    elif missing:
        raise ValueError(f"not a triple frame, missing columns: {missing}")
    return df.select(*TRIPLE_COLS)


def union_graphs(*graphs: DataFrame, set_semantics: bool = True) -> DataFrame:
    """Graph union with set semantics (``DataObject.__add__``,
    DataAggregation.py:37-40). ``set_semantics=False`` returns the raw
    multiset union for callers that fold the A1 dedup into a downstream
    shuffle (``materialize_graph(fused_dedup=True)``) — semantics are
    unchanged, the distinct just rides a later exchange."""
    out = graphs[0]
    for g in graphs[1:]:
        out = out.unionByName(as_graph(g))
    return dedup(out) if set_semantics else out


def dedup(graph: DataFrame) -> DataFrame:
    """rdflib set semantics (A1): one distinct on the triple key."""
    return graph.dropDuplicates(["subject", "predicate", "object"])


def triple_count(graph: DataFrame) -> int:
    """``len(graph)`` (DataAggregation.py:48)."""
    return dedup(graph).count()


def filter_pattern(
    graph: DataFrame,
    subject: str | None = None,
    predicate: str | None = None,
    obj: str | None = None,
) -> DataFrame:
    """``graph.triples((s, p, o))`` wildcard pattern match
    (DataAggregation.py:80-82). None = wildcard. Catalyst pushes these
    equality filters into the scan."""
    out = graph
    if subject is not None:
        out = out.filter(F.col("subject") == subject)
    if predicate is not None:
        out = out.filter(F.col("predicate") == predicate)
    if obj is not None:
        out = out.filter(F.col("object") == obj)
    return out


# Broadcast cliff guard: above this many mapping rows a broadcast would
# put driver + every executor's memory on the line (a full NCBI-scale
# multi-label lexicon is ~2.4M labels — right at the edge). Callers that
# pass broadcast_mapping=None get this row-count gate instead of a hope.
BROADCAST_MAPPING_MAX_ROWS = 2_000_000


def replace_entities(
    graph: DataFrame,
    mapping: DataFrame,
    broadcast_mapping: bool | None = True,
    deduplicate: bool = True,
) -> DataFrame:
    """Entity rewrite = reference ``DataObject.replace``
    (DataAggregation.py:64-88): every triple whose subject or object equals
    an ``old`` id is re-pointed at ``new``; result is re-set-ified.

    ``mapping``: DataFrame(old string, new string) — assumed functional
    (one ``new`` per ``old``); enforce upstream with a pick-one window.

    Two left joins (subject side, object side) + coalesce + dedup. With a
    broadcast mapping this is map-side only — no shuffle of the triple
    table — then one shuffle for the final distinct.

    ``broadcast_mapping``: ``True`` forces the broadcast (callers that
    KNOW the mapping is small, e.g. a per-batch canonical delta);
    ``False`` forces a shuffle-hash join; ``None`` size-gates — one cheap
    count of the (deduplicated, two-column) mapping decides against
    ``BROADCAST_MAPPING_MAX_ROWS``, so an unexpectedly large mapping
    degrades to a shuffle join instead of an executor OOM. Above the
    gate, prefer :func:`tera_spark.operators.canonical.
    replace_entities_salted` when the id distribution is skewed.

    Literal objects are never rewritten (the reference replaces any term
    equal to ``old``; its mappings only ever contain entity IRIs, so
    guarding on ``obj_is_literal`` is semantics-preserving and skips the
    probe for literal rows).

    ``deduplicate=False`` skips the final set-ification so a caller can
    fuse it into a downstream clustering shuffle (pipeline/run.py does —
    one shuffle instead of two over the full triple table).
    """
    m = mapping.select(F.col("old"), F.col("new")).dropDuplicates(["old"])
    if broadcast_mapping is None:
        broadcast_mapping = m.count() <= BROADCAST_MAPPING_MAX_ROWS
    if broadcast_mapping:
        m = F.broadcast(m)
    else:
        m = m.hint("shuffle_hash")
    ms = m.withColumnRenamed("old", "_s_old").withColumnRenamed("new", "_s_new")
    mo = m.withColumnRenamed("old", "_o_old").withColumnRenamed("new", "_o_new")
    out = (
        graph.join(ms, graph["subject"] == ms["_s_old"], "left")
        .join(
            mo,
            (graph["object"] == mo["_o_old"]) & (~graph["obj_is_literal"]),
            "left",
        )
        .select(
            F.coalesce("_s_new", "subject").alias("subject"),
            F.col("predicate"),
            F.coalesce("_o_new", "object").alias("object"),
            F.col("obj_is_literal"),
        )
    )
    return dedup(out) if deduplicate else out


def bnode(*parts: Column | str, tag: str = "b") -> Column:
    """Deterministic blank-node id (SURVEY.md §1.1): content-hash of the
    emitting site + row identity, replacing rdflib's random ``BNode()``
    (DataAggregation.py:423,440,446). Distributed-safe and reproducible —
    the whole pipeline output becomes a pure function of its input, which
    is what makes stage checkpoints resumable and triple sets comparable.
    """
    from tera_spark.constants import NS_BNODE

    cols = [F.lit(tag)] + [c if isinstance(c, Column) else F.col(c) for c in parts]
    return F.concat(F.lit(NS_BNODE), F.md5(F.concat_ws("\x1f", *cols)))


def to_ntriples(graph: DataFrame) -> DataFrame:
    """Render triples as N-Triples lines (graph sink K1,
    ``DataObject.save`` DataAggregation.py:54-62). Returns a single
    ``line`` column ready for ``write.text``."""

    def term(col: Column, literal: Column | None = None) -> Column:
        quoted = F.concat(
            F.lit('"'),
            F.regexp_replace(F.regexp_replace(col, r"\\", r"\\\\"), '"', r"\\\""),
            F.lit('"'),
        )
        iri = F.concat(F.lit("<"), col, F.lit(">"))
        if literal is None:
            return iri
        return F.when(literal, quoted).otherwise(iri)

    return graph.select(
        F.concat_ws(
            " ",
            term(F.col("subject")),
            term(F.col("predicate")),
            term(F.col("object"), F.col("obj_is_literal")),
            F.lit("."),
        ).alias("line")
    )


def save_graph(graph: DataFrame, path: str, fmt: str | None = None) -> None:
    """Graph sink: format from extension like the reference
    (DataAggregation.py:54-62). ``.nt`` → N-Triples text; anything else →
    parquet."""
    fmt = fmt or path.rsplit(".", 1)[-1]
    if fmt == "nt":
        to_ntriples(graph).write.mode("overwrite").text(path)
    else:
        dedup(graph).write.mode("overwrite").parquet(path)
