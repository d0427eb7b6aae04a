"""Canonicalization: connected components + entity rewrite (SURVEY.md §7.2
phase 7; north_star requirement).

The reference merges co-referent entities by calling ``DataObject.replace``
with a flat (old, new) list (TERA ``DataAggregation.py:64-88``) — which
is not closed under chains (a→b, b→c). The rebuild computes the
*transitive* merge with connected components over the alias-pair edge list,
labels every node with its component representative (min id), and rewrites
the triple table with one join pass.

``canonical_mapping`` is the one entry point every pipeline path (full run,
incremental apply, forget) uses, and the only place that chooses how CC
runs. It checkpoints the canonicalized edge set (self-loops, NULLs and
duplicates dropped) and reads its row count off that same job:

- at or below ``_DRIVER_CC_MAX_EDGES`` edges it collects them and runs an
  exact union-find on the driver (~ms; ~12 MB of URI strings at the
  bound). Every measured workload is far below it — ~100 alias edges per
  benchmark build, a 12,850-row canonical map in the 1.09B-triple run —
  and there the distributed loop costs more in per-job scheduling than
  the whole problem. The map comes back as a ``LocalRelation`` built from
  Arrow (sources/readers.py ``arrow_frame``), so no Python worker starts;
- above it, the distributed large-star/small-star loop
  (``connected_components`` — Kiveris et al., "Connected Components in
  MapReduce and Beyond") continues from the same checkpoint. It converges
  in O(log n) rounds; every round is two self-joins + a min-agg, all
  map-side combinable, and ``localCheckpoint`` truncates lineage so plans
  don't grow across iterations. It is also the reference the driver path
  is tested against.

Alias edge lists are tiny relative to the triple table (only linked
mentions), so the final rewrite map broadcasts; the salted shuffle variant
below covers the case where it doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tera_spark.checkpoints import checkpoint, release
from tera_spark.operators.triples import dedup as _dedup_triples
from tera_spark.sources.readers import arrow_frame

# Canonical edge sets at or below this size run CC as a driver-side
# union-find (see module docstring); bounded memory, ~12 MB at the bound.
_DRIVER_CC_MAX_EDGES = 200_000


def _canon(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges as (u, v), self-loops and NULLs dropped."""
    return (
        edges.select(F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions of every edge. Deliberately NOT deduplicated: every
    consumer (the star steps' min-aggregates, the label min-agg) is
    duplicate-insensitive, and the dropDuplicates this used to carry was a
    full extra shuffle per CC iteration."""
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u}).

    Output is a duplicate-bearing edge MULTISET (bounded by |sym edges|):
    ``_small_star``'s min-aggregate is duplicate-insensitive and the
    iteration's final dropDuplicates canonicalizes, so the per-step dedup
    shuffles the original implementation paid bought nothing.
    """
    # repartition("u") is the ONE exchange of this half-step, shared by the
    # min-aggregate and the join (both keyed on u): the aggregate needs no
    # further shuffle over u-partitioned input, the join none either, and
    # both consumers reuse the exchange instead of re-deriving nbrs.
    nbrs = _sym(edges).repartition("u")
    m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; connect all small neighbors (and u) to the
    minimum. Input may be a multiset (see ``_large_star``); the final
    dropDuplicates canonicalizes the iteration's edge set — it must stay,
    the convergence fingerprint hashes exactly this set."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).repartition("u")  # shared exchange: min-agg + join both keyed on u
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(m, "u")
    out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        joined.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def _checkpoint_fingerprint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """localCheckpoint + (count, xor-hash) convergence fingerprint in ONE
    Spark job: the fingerprint rides the checkpoint action as observed
    metrics (CollectMetrics), instead of a second full pass — halves the
    serial job count of the CC loop (the measured local-mode bottleneck,
    BENCH/BASELINE.md)."""
    obs = Observation()
    out = checkpoint(
        edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        )
    )
    vals = obs.get
    return out, (int(vals["n"]), int(vals["h"]))


def _union_find(edge_pairs) -> dict:
    """Exact driver-side union-find (union-by-min, path compression) over an
    iterable of (u, v) string pairs. Returns {id: representative} for every
    id seen, identity entries included. Same semantics as
    ``connected_components``: representative = component min. Spark orders
    strings by their UTF-8 bytes and Python by code points; UTF-8 preserves
    code-point order, so both pick the same min for any ids."""
    parent: dict = {}

    def _find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_pairs:
        ru, rv = _find(u), _find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: _find(x) for x in list(parent)}


def _star_labels(e: DataFrame, prev: tuple[int, int], max_iter: int) -> DataFrame:
    """The large-star/small-star loop from a checkpointed canonical edge set
    ``e`` and its fingerprint ``prev`` (see ``connected_components``). Each
    round releases the previous round's edge set (``e`` itself first) once
    its own checkpoint and fingerprint are taken."""
    for _ in range(max_iter):
        nxt, fp = _checkpoint_fingerprint(_small_star(_large_star(e)))
        release(e)
        e = nxt
        if fp == prev:
            break
        prev = fp
    else:
        release(e)
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} rounds"
        )
    # Converged to stars: each non-root points at its component min, and
    # every endpoint of _sym(e) appears as u, so one min-aggregate labels
    # every node (the root included).
    return (
        _sym(e)
        .groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
        .select(F.col("u").alias("node"), "component")
    )


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Component labels for every node in ``edges`` (2 columns, string ids),
    always computed by the distributed loop.

    Returns DataFrame(node string, component string) where ``component`` is
    the lexicographically-smallest member. Self-loop-only nodes carry no
    aliasing information and get no row. Convergence is detected with a
    one-pass (count, hash-sum) fingerprint — no expensive set-difference —
    fused into each checkpoint action, the initial edge set's included: an
    input that is already a converged star forest (every alias edge points
    straight at its component min, the shape linking emits) stops after
    one round. Raises ``RuntimeError`` when ``max_iter`` rounds end
    unconverged — the labels would not be stars, i.e. wrong.
    """
    e, prev = _checkpoint_fingerprint(_canon(edges))
    return _star_labels(e, prev, max_iter)


def canonical_mapping(alias_edges: DataFrame) -> DataFrame:
    """Alias pairs → rewrite map (old, new): every entity points at its
    component representative; identity rows dropped. Driver-side
    union-find at or below ``_DRIVER_CC_MAX_EDGES`` canonical edges, the
    distributed loop above (module docstring)."""
    e, fp = _checkpoint_fingerprint(_canon(alias_edges))
    if fp[0] <= _DRIVER_CC_MAX_EDGES:
        reps = _union_find(e.collect()) if fp[0] else {}
        moved = [(x, r) for x, r in reps.items() if x != r]
        return arrow_frame(
            alias_edges.sparkSession,
            {"old": [x for x, _ in moved], "new": [r for _, r in moved]},
            "old string, new string",
        )
    labels = _star_labels(e, fp, max_iter=20)
    return (
        labels.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("old"), F.col("component").alias("new"))
    )


def canonicalize(
    triples: DataFrame, alias_edges: DataFrame, salts: int | None = None
) -> DataFrame:
    """Full canonicalization: CC over alias pairs, then rewrite the graph
    (J11). Broadcast rewrite by default; pass ``salts`` to force the salted
    shuffle variant when the mapping exceeds broadcast size."""
    from tera_spark.operators.triples import replace_entities

    mapping = canonical_mapping(alias_edges)
    if salts is None:
        return replace_entities(triples, mapping, broadcast_mapping=True)
    return replace_entities_salted(triples, mapping, salts)


def replace_entities_salted(
    graph: DataFrame, mapping: DataFrame, salts: int = 8, deduplicate: bool = True
) -> DataFrame:
    """J11 at scale, mapping too large to broadcast: a shuffle join on
    ``subject``/``object`` would collapse the hottest canonical entities
    (mega-frequent mentions) onto single reducers. Salting spreads them:
    the fact side adds ``salt = pmod(xxhash64(whole row), S)`` (uniform,
    deterministic), the mapping side replicates ×S, and the join key
    becomes (id, salt) — identical output, S-way spread of every hot key.
    AQE's skew-join handles residual imbalance.
    """
    row_salt = F.pmod(F.xxhash64("subject", "predicate", "object"), F.lit(salts))
    m = (
        mapping.select("old", "new")
        .dropDuplicates(["old"])
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
    )
    g = graph.withColumn("_salt", row_salt.cast("int"))
    ms = m.select(
        F.col("old").alias("_s_old"), F.col("new").alias("_s_new"), F.col("salt").alias("_s_salt")
    )
    mo = m.select(
        F.col("old").alias("_o_old"), F.col("new").alias("_o_new"), F.col("salt").alias("_o_salt")
    )
    out = (
        g.join(ms, (g["subject"] == ms["_s_old"]) & (g["_salt"] == ms["_s_salt"]), "left")
        .join(
            mo,
            (g["object"] == mo["_o_old"]) & (~g["obj_is_literal"]) & (g["_salt"] == mo["_o_salt"]),
            "left",
        )
        .select(
            F.coalesce("_s_new", "subject").alias("subject"),
            "predicate",
            F.coalesce("_o_new", "object").alias("object"),
            "obj_is_literal",
        )
    )
    return _dedup_triples(out) if deduplicate else out
