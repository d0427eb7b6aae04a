from __future__ import annotations


def lexicon_rdd_ids(prepared) -> set[int]:
    """Ids of the RDDs behind a PreparedLexicon's two checkpoints."""
    from tera_spark.checkpoints import checkpoint_rdd

    return {int(checkpoint_rdd(df).id()) for df in (prepared.lex, prepared.l_tok)}


def triple_set(df) -> set:
    return {
        (r.subject, r.predicate, r.object, bool(r.obj_is_literal))
        for r in df.collect()
    }


def precision_recall(got: set, expected: set) -> tuple[float, float]:
    if not got and not expected:
        return 1.0, 1.0
    tp = len(got & expected)
    p = tp / len(got) if got else 0.0
    r = tp / len(expected) if expected else 0.0
    return p, r


def assert_triples_match(df, expected: set, min_pr: float = 1.0):
    got = triple_set(df)
    p, r = precision_recall(got, expected)
    if p < min_pr or r < min_pr:
        extra = sorted(got - expected)[:10]
        missing = sorted(expected - got)[:10]
        raise AssertionError(
            f"P={p:.3f} R={r:.3f} (need ≥{min_pr})\n"
            f"extra (got, not expected): {extra}\n"
            f"missing (expected, not got): {missing}"
        )
