from pyspark.sql import functions as F

from tera_spark.operators.align import (
    NO_MAPPING,
    convert,
    convert_via_base,
    merge_mappings,
    pick_one,
    reverse_mapping,
    string_matching_mapping,
    threshold_dedup,
)

M_SCHEMA = "from_id string, to_id string"


def test_pick_one_deterministic(spark):
    m = spark.createDataFrame(
        [("a", "z"), ("a", "b"), ("c", "d")], M_SCHEMA
    )
    out = {r.from_id: r.to_id for r in pick_one(m).collect()}
    assert out == {"a": "b", "c": "d"}  # smallest to_id wins


def test_convert_with_default(spark):
    ids = spark.createDataFrame([("x",), ("y",), ("z",)], "id string")
    m = spark.createDataFrame([("x", "X"), ("y", "Y")], M_SCHEMA)
    out = {r.id: r.converted for r in convert(ids, m).collect()}
    assert out == {"x": "X", "y": "Y", "z": NO_MAPPING}


def test_convert_reverse(spark):
    ids = spark.createDataFrame([("X",)], "id string")
    m = spark.createDataFrame([("x", "X")], M_SCHEMA)
    out = convert(ids, m, reverse=True).collect()[0]
    assert out.converted == "x"


def test_convert_via_base(spark):
    # f→base mapping stored as base→f (reverse probe), base→t forward
    ids = spark.createDataFrame([("cas1",), ("cas2",)], "id string")
    base_to_f = spark.createDataFrame([("ik1", "cas1")], M_SCHEMA)
    base_to_t = spark.createDataFrame([("ik1", "cid1")], M_SCHEMA)
    out = {r.id: r.converted for r in convert_via_base(ids, base_to_f, base_to_t).collect()}
    assert out == {"cas1": "cid1", "cas2": NO_MAPPING}


def test_merge_mappings_right_wins(spark):
    a = spark.createDataFrame([("k", "va"), ("only_a", "x")], M_SCHEMA)
    b = spark.createDataFrame([("k", "vb")], M_SCHEMA)
    out = {r.from_id: r.to_id for r in merge_mappings(a, b).collect()}
    assert out == {"k": "vb", "only_a": "x"}


def test_threshold_dedup(spark):
    a = spark.createDataFrame(
        [("e1", "e2", 0.96), ("e1", "e2", 0.99), ("e1", "e3", 0.5)],
        "e1 string, e2 string, score double",
    )
    out = threshold_dedup(a, 0.95, unique=True).collect()
    assert len(out) == 1 and out[0].score == 0.99


def test_string_matching_finds_exact_and_fuzzy(spark):
    l1 = spark.createDataFrame(
        [("n1", "Pimephales promelas"), ("n2", "Daphnia magna"), ("n3", "Zebrafish")],
        "entity string, label string",
    )
    l2 = spark.createDataFrame(
        [("e1", "Pimephales promelas"), ("e2", "Daphnia magnaa"), ("e9", "Oak tree")],
        "entity string, label string",
    )
    out = {(r.from_id, r.to_id): r.score for r in string_matching_mapping(l1, l2, threshold=90).collect()}
    assert ("n1", "e1") in out and out[("n1", "e1")] == 100.0
    assert ("n2", "e2") in out and out[("n2", "e2")] >= 90
    assert all(k[0] != "n3" for k in out)  # no shared token → never scored


def test_string_matching_blocks_cross_product(spark):
    # hot token removal: a token shared by everything must not explode
    l1 = spark.createDataFrame(
        [(f"a{i}", f"species common{i}") for i in range(30)], "entity string, label string"
    )
    l2 = spark.createDataFrame(
        [(f"b{i}", f"species common{i}") for i in range(30)], "entity string, label string"
    )
    out = string_matching_mapping(l1, l2, threshold=95, max_candidates_per_token=10)
    pairs = out.collect()
    # 'species' token is hot (30 > 10) and dropped; 'commonN' still matches 1:1
    assert {(r.from_id, r.to_id) for r in pairs} == {(f"a{i}", f"b{i}") for i in range(30)}


def _kernel_pairs():
    """Seeded random pairs plus the edge cases the floor-aware kernel must
    get right: punctuation and '-', repeated tokens, strings empty after
    fuzzywuzzy preprocessing, and a shared whole word."""
    import random

    rng = random.Random(7)
    words = ["daphnia", "magna", "cadmium", "chloride", "atrazine", "pulex",
             "salmo", "trutta", "zinc", "oxide", "lc50", "ec10", "n-octanol"]
    alphabet = "abcdefghilmnorstuz -,.()0123"

    def mutate(s):
        s = list(s)
        for _ in range(rng.randint(0, 3)):
            op, i = rng.random(), rng.randrange(len(s) + 1)
            if op < 0.4:
                s.insert(i, rng.choice(alphabet))
            elif op < 0.7 and i < len(s):
                del s[i]
            elif i < len(s):
                s[i] = rng.choice(alphabet)
        return "".join(s)

    pairs = [
        ("magna", "daphnia magna"), ("daphnia magna", "magna"),
        ("n-octanol", "n octanol"), ("cadmium, chloride", "cadmium-chloride!"),
        ("zinc zinc oxide", "zinc oxide"), ("magna magna", "magna daphnia magna"),
        ("--", "magna"), ("magna", "?!"), ("", ""), ("...", "---"),
        ("Daphnia", "daphnia"), ("a", "a"),
    ]
    for _ in range(600):
        a = " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))
        if rng.random() < 0.5:
            b = mutate(a)
        elif rng.random() < 0.5:
            b = " ".join(reversed(mutate(a).split()))
        else:
            b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 14)))
        pairs.append((a, b))
    return pairs


def test_wratio_floor_kernel_is_exact_at_and_above_floor():
    from tera_spark.functions.similarity import wratio, wratio_floor

    pairs = _kernel_pairs()
    ref = [wratio(a, b) for a, b in pairs]
    # the random pairs must cover every band the floors split
    assert {100} <= set(ref)
    assert any(88 <= w < 100 for w in ref) and any(80 <= w < 88 for w in ref)
    assert any(0 < w < 80 for w in ref) and 0 in ref
    for floor in (0, 80, 88, 100):
        memo: dict = {}
        for (a, b), w in zip(pairs, ref):
            got = wratio_floor(a, b, floor, memo)
            if w >= floor:
                assert got == w, (a, b, floor, got, w)
            else:
                assert got < floor, (a, b, floor, got, w)


def test_wratio_at_least_udf_matches_kernel(spark):
    from tera_spark.functions.similarity import wratio, wratio_at_least

    pairs = _kernel_pairs()[:200] + [(None, "magna"), ("magna", None)]
    df = spark.createDataFrame(pairs, "a string, b string")
    for floor in (0, 88):
        got = df.select(
            "a", "b", wratio_at_least(F.col("a"), F.col("b"), floor).alias("s")
        ).collect()
        assert len(got) == len(pairs)
        for r in got:
            w = 0 if r.a is None or r.b is None else wratio(r.a, r.b)
            assert (r.s == w) if w >= floor else (r.s < floor), (r.a, r.b, floor)
