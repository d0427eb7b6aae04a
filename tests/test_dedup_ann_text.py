"""Dedup / ANN / text-analysis operator tests on hand-built corpora with
known ground truth."""

import math

import pytest
from pyspark.sql import functions as F

from tera_spark.operators.ann import cosine_topk, lsh_topk
from tera_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from tera_spark.operators.textops import (
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_counts,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (4, "completely different content about spark dataframes and shuffle partitions"),
    (5, "der hund und die katze sind nicht mit dem ball"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    out = {r.doc_id: r.keep_id for r in exact_dedup(docs).collect()}
    assert out[1] == 1 and out[2] == 1
    assert out[3] == 3 and out[4] == 4


def test_ngram_jaccard(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all({a, b} != {1, 4} for a, b in pairs)


def test_minhash_lsh(spark, docs):
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_simhash(spark, docs):
    pairs = {(r.a, r.b): r.hamming for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs  # one word changed → few bits differ


def _vec(seed, dim=8):
    import random

    rng = random.Random(seed)
    return [rng.uniform(-1, 1) for _ in range(dim)]


def test_embedding_neardup_and_topk(spark):
    base = _vec(1)
    near = [x + 0.01 for x in base]
    rows = [(0, base), (1, near)] + [(i, _vec(i)) for i in range(2, 30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.a, r.b): r.cos for r in embedding_neardup_pairs(emb, threshold=0.99).collect()}
    assert (0, 1) in pairs

    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = cosine_topk(emb, queries, k=3).collect()
    assert [r.nn_id for r in top] == [0, 1, top[2].nn_id]
    assert top[0].cos == 1.0

    # LSH recall: the near-identical vector must collide in some table
    lsh = lsh_topk(emb, queries, k=3, dim=8)
    ids = [r.nn_id for r in lsh.collect()]
    assert 0 in ids and 1 in ids


def test_token_counts(spark, docs):
    row = with_token_counts(docs).filter(F.col("doc_id") == 1).collect()[0]
    assert row.ws_tokens == 14
    assert row.subword_tokens == 14  # all plain words

    mixed = spark.createDataFrame([(9, "HelloWorld v2.0!")], "doc_id long, text string")
    r = with_token_counts(mixed).collect()[0]
    assert r.ws_tokens == 2
    # Hello World v 2 . 0 ! → 7 subword pieces
    assert r.subword_tokens == 7


def test_quality_score_bounds(spark, docs):
    rows = with_quality_score(docs).collect()
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].stopword_ratio > by_id[5].stopword_ratio  # English stopwords


def test_lang_id(spark, docs):
    out = {r.doc_id: r.lang_pred for r in with_lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "de"
    assert out[4] == "und" or out[4] == "en"  # no/few stopwords


def test_fingerprint_stability_and_edit_robustness(spark, docs):
    fp = with_fingerprint(docs)
    rows = {r.doc_id: r for r in fp.collect()}
    assert rows[1].fp_md5 == rows[2].fp_md5
    assert rows[1].fp_md5 != rows[3].fp_md5
    # winnowing: single-word edit keeps most fingerprints
    w1, w3 = set(rows[1].fp_winnow), set(rows[3].fp_winnow)
    assert len(w1 & w3) / len(w1 | w3) > 0.5


def test_simhash_default_and_bits_guard(spark, docs):
    from tera_spark.operators.dedup import simhash_signatures

    # default args must be safe (round-1 latent 1<<63 overflow at bits=64)
    sigs = simhash_signatures(docs).collect()
    assert all(r.simhash >= 0 for r in sigs)
    with pytest.raises(ValueError):
        simhash_signatures(docs, bits=64).collect()
    with pytest.raises(ValueError):
        simhash_signatures(docs, bits=61, portable=True).collect()
    # portable (md5) variant reproduces the pair structure
    pairs = {(r.a, r.b): r.hamming for r in simhash_pairs(docs, max_hamming=10, portable=True).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs


def test_embedding_lsh_matches_brute(spark):
    from tera_spark.operators.dedup import embedding_neardup_lsh_pairs

    base = _vec(1)
    near = [x + 0.01 for x in base]
    near2 = [x * 1.05 for x in base]
    rows = [(0, base), (1, near), (31, near2)] + [(i, _vec(i)) for i in range(2, 30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = {(r.a, r.b, r.cos) for r in embedding_neardup_pairs(emb, threshold=0.9).collect()}
    lsh = {(r.a, r.b, r.cos) for r in embedding_neardup_lsh_pairs(emb, threshold=0.9, dim=8).collect()}
    assert (0, 1) in {(a, b) for a, b, _ in lsh}
    # LSH candidates are exact-checked, so LSH ⊆ brute; at these params the
    # near-dup pairs collide with overwhelming probability → equality
    assert lsh == brute


def test_winnow_portable_matches_default_structure(spark, docs):
    xx = with_fingerprint(docs)
    md = with_fingerprint(docs, portable=True)
    nx = {r.doc_id: len(r.fp_winnow) for r in xx.collect()}
    nm = {r.doc_id: len(r.fp_winnow) for r in md.collect()}
    # same window structure (counts may differ only via distinct collisions)
    assert set(nx) == set(nm)
    rows = {r.doc_id: set(r.fp_winnow) for r in md.collect()}
    assert rows[1] == rows[2]  # exact dup docs → identical winnow sets


def test_kmeans_bounded_plan_and_ivf_recall(spark):
    from tera_spark.operators.ann import cosine_topk, ivf_topk, kmeans_centroids

    rows = [(i, _vec(i)) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(emb, k=4, iterations=5)
    plan = cents._jdf.queryExecution().executedPlan().toString()
    # Lloyd rounds collapse to a driver-side k×dim table: the returned
    # plan is a lineage-free local relation — nothing replays 5 rounds of
    # assignments (round 6: the per-round broadcast-join + window argmin
    # became a map-side literal argmin; see ann.centroid_argmin)
    assert ("LocalTableScan" in plan or "ExistingRDD" in plan) and "Join" not in plan
    assert cents.count() == 4

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.nn_id) for r in cosine_topk(emb, queries, k=1).collect()}
    approx = {(r.query_id, r.nn_id) for r in ivf_topk(emb, queries, k=1, n_centroids=4, n_probe=4).collect()}
    # probing every list makes IVF exact — recall check of the plumbing
    assert exact == approx


def test_dbl_array_literal_non_finite(spark):
    """NaN and ±Infinity have no numeric SQL literal: the array builder
    spells them as casts instead of emitting an unparseable ``nanD``."""
    from tera_spark.operators.ann import _dbl_array_expr

    got = spark.range(1).select(_dbl_array_expr([1.5, math.nan, math.inf, -math.inf])).first()[0]
    assert got[0] == 1.5 and math.isnan(got[1])
    assert got[2] == math.inf and got[3] == -math.inf


# --- round-3 curation ops ---------------------------------------------------

REP_DOCS = [
    (1, "spam spam spam spam spam spam spam spam"),  # one distinct 3-gram
    (2, "a fresh sentence with entirely distinct words throughout here"),
    (3, "line one\nline one\nline two\n\n  \nline one"),
    (4, "x"),  # <3 tokens → no 3-grams
]

PII_DOCS = [
    (1, "contact alice@example.com or bob.smith+tag@mail.co.uk today"),
    (2, "call 555-123-4567 or 555 987 6543 now"),
    (3, "no pii here at all"),
]

URL_DOCS = [
    (1, "see https://example.com/a and http://example.com/b?q=1 plus https://other.org"),
    (2, "no links here"),
]


def test_repetition_stats(spark):
    from tera_spark.operators.textops import with_repetition_stats

    docs = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_stats(docs).collect()}
    # doc 1: 6 3-grams, all identical → 5/6 duplicated
    assert out[1].n_3grams == 6 and out[1].dup_3gram_ratio == round(5 / 6, 6)
    assert out[2].dup_3gram_ratio == 0.0
    # doc 3: 4 non-blank lines, "line one" ×3 → 2/4 duplicated
    assert out[3].n_lines == 4 and out[3].dup_line_ratio == 0.5
    assert out[4].n_3grams == 0 and out[4].dup_3gram_ratio == 0.0


def test_pii_scrub(spark):
    from tera_spark.operators.textops import with_pii_scrub

    docs = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    out = {r.doc_id: r for r in with_pii_scrub(docs).collect()}
    assert out[1].n_emails == 2 and out[1].n_phones == 0
    assert out[2].n_phones == 2 and out[2].n_emails == 0
    assert out[3].n_emails == 0 and out[3].n_phones == 0
    # redaction changes the hash iff something was redacted
    import hashlib

    assert out[3].redacted_md5 == hashlib.md5(PII_DOCS[2][1].encode()).hexdigest()
    assert out[1].redacted_md5 == hashlib.md5(
        b"contact <EMAIL> or <EMAIL> today"
    ).hexdigest()


def test_url_stats(spark):
    from tera_spark.operators.textops import with_url_stats

    docs = spark.createDataFrame(URL_DOCS, "doc_id long, text string")
    out = {r.doc_id: r for r in with_url_stats(docs).collect()}
    assert out[1].n_urls == 3
    assert out[1].hosts == ["example.com", "other.org"] and out[1].n_hosts == 2
    assert out[2].n_urls == 0 and out[2].hosts == []


def test_bigram_lm_scores(spark):
    from tera_spark.operators.corpus import bigram_lm_scores

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "the cat sat on the mat"),
        (4, "zq zx qv xw wq"),  # all-rare bigrams → much lower logprob
        (5, "x"),  # <2 tokens
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert out[5].n_bigrams == 0 and out[5].avg_logprob is None
    assert out[1].n_bigrams == 5
    assert out[1].avg_logprob == out[3].avg_logprob  # identical docs
    assert out[4].avg_logprob < out[1].avg_logprob  # rare bigrams score worse
    # hand-check one probability: corpus has V distinct tokens; c("the","cat")=3,
    # c1("the") = bigrams starting with "the" = 3*2 ("the cat"/"the mat" x docs 1,3 + "the cat"/"the hat" doc 2)
    import math

    toks = [t for _, s in corpus for t in s.lower().split()]
    V = len(set(toks))
    # doc 1 bigrams: (the,cat) c=3, (cat,sat) c=3, (sat,on) c=3, (on,the) c=3, (the,mat) c=2
    c1_the = 6  # "the X" bigrams: 3x(the,cat) + 2x(the,mat) + 1x(the,hat)
    c1_cat, c1_sat, c1_on = 3, 3, 3
    expect = (
        math.log((3 + 1) / (c1_the + V))
        + math.log((3 + 1) / (c1_cat + V))
        + math.log((3 + 1) / (c1_sat + V))
        + math.log((3 + 1) / (c1_on + V))
        + math.log((2 + 1) / (c1_the + V))
    ) / 5
    assert abs(out[1].avg_logprob - expect) < 1e-6


def test_winnow_containment(spark):
    from tera_spark.operators.corpus import winnow_containment_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    corpus = [
        (1, base),
        (2, base + " phi chi psi omega extra trailing words appended here now"),  # contains doc 1
        (3, "totally unrelated text about spark shuffles and parquet row groups going on"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    pairs = {(r.a, r.b): r.containment for r in winnow_containment_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.9  # near-total containment
    assert all({a, b} != {1, 3} and {a, b} != {2, 3} for a, b in pairs)
    # portable mode finds the same pairs
    p2 = {(r.a, r.b) for r in winnow_containment_pairs(docs, threshold=0.5, portable=True).collect()}
    assert set(pairs) == p2


def test_quota_sample(spark):
    from tera_spark.operators.corpus import quota_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(1, 61)]
    docs = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = quota_sample(docs, "stratum", 5, id_col="doc_id").collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.stratum, set()).add(r.doc_id)
    assert len(by_stratum["en"]) == 5 and len(by_stratum["de"]) == 5
    # deterministic: same selection on re-run
    out2 = quota_sample(docs, "stratum", 5, id_col="doc_id").collect()
    assert {(r.stratum, r.doc_id) for r in out} == {(r.stratum, r.doc_id) for r in out2}
    # stable under append: adding new docs never evicts a chosen one
    # unless the newcomer hashes earlier — check chosen ⊇ survivors
    more = docs.union(spark.createDataFrame([(100 + i, "en") for i in range(5)], "doc_id long, stratum string"))
    out3 = {(r.stratum, r.doc_id) for r in quota_sample(more, "stratum", 5, id_col="doc_id").collect()}
    assert {(s, d) for s, d in out3 if s == "de"} == {(s, d) for s, d in {(r.stratum, r.doc_id) for r in out} if s == "de"}


def test_hash_split(spark):
    from tera_spark.operators.corpus import hash_split

    docs = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = hash_split(docs).collect()
    by = {}
    for r in out:
        by[r.split] = by.get(r.split, 0) + 1
    # md5 is uniform: 1000 rows land near 900/50/50
    assert 850 <= by["train"] <= 950 and by["val"] >= 20 and by["test"] >= 20
    # deterministic and append-stable: old rows never move
    sub = {r.doc_id: r.split for r in hash_split(docs.limit(400)).collect()}
    full = {r.doc_id: r.split for r in out}
    assert all(full[d] == s for d, s in sub.items())
    # re-salting produces an independent assignment
    resalt = {r.doc_id: r.split for r in hash_split(docs, salt="v2").collect()}
    assert any(resalt[d] != full[d] for d in full)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(docs, weights={"a": 0.5, "b": 0.4})


def test_pack_sequences(spark):
    from tera_spark.operators.corpus import pack_sequences

    rows = [(i, " ".join(["w"] * (5 + i % 7))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(docs, budget=32, n_shards=4).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < 4
        assert 0 <= r.offset_in_seq < 32
        assert r.seq_idx == r.offset // 32 and r.offset_in_seq == r.offset % 32
        by_shard.setdefault(r.shard, []).append(r)
    # within a shard the stream is gapless: offsets are the exclusive
    # prefix sums of token counts in placement order
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.offset)
        acc = 0
        for r in rs:
            assert r.offset == acc
            acc += r.n_tokens
    # deterministic across repartitionings
    out2 = pack_sequences(docs.repartition(13), budget=32, n_shards=4).collect()
    assert {(r.doc_id, r.shard, r.offset) for r in out} == {
        (r.doc_id, r.shard, r.offset) for r in out2
    }


def test_contamination_pairs(spark):
    from tera_spark.operators.corpus import contamination_pairs

    bench_text = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, "intro words " + bench_text + " trailing content goes here and here"),  # contains it
        (2, "completely unrelated text about spark dataframes and shuffle partitions in a cluster"),
        (3, bench_text),  # verbatim copy
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(10, bench_text)], "bench_id long, text string")
    out = {r.doc_id: r for r in contamination_pairs(docs, bench, threshold=0.5).collect()}
    assert 3 in out and out[3].containment == 1.0
    assert 1 in out and out[1].containment >= 0.5  # embedded copy caught
    assert 2 not in out


def test_dsir_importance_weights(spark):
    # target domain is "feline" docs: docs about cats must outrank docs
    # about stocks, and a doc with no tokens gets NULL weights
    from tera_spark.operators.corpus import dsir_importance_weights

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "a cat and a cat chase the cat"),
        (3, "stocks fell sharply on tuesday trading"),
        (4, "bond yields rose as stocks slid again"),
        (5, "the cat watched stocks fall"),
        (6, "   "),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    target = docs.filter("doc_id in (1, 2)")
    out = {r.doc_id: r for r in dsir_importance_weights(docs, target, n_buckets=512).collect()}
    assert len(out) == 6
    # cat docs score above stock docs; the mixed doc lands between
    assert out[1].logweight_avg > out[5].logweight_avg > out[3].logweight_avg
    assert out[2].logweight_avg > out[4].logweight_avg
    assert out[6].n_feats == 0 and out[6].logweight_avg is None
    # unigrams + bigrams: "the cat sat on the mat" = 6 uni + 5 bi
    assert out[1].n_feats == 11


def test_dsir_gumbel_topk_deterministic(spark):
    from tera_spark.operators.corpus import dsir_gumbel_topk, dsir_importance_weights

    corpus = [(i, f"token{i % 7} filler text common words here") for i in range(40)]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    target = docs.filter("doc_id % 7 = 0")
    w = dsir_importance_weights(docs, target, n_buckets=256)
    a = [r.doc_id for r in dsir_gumbel_topk(w, 10).collect()]
    b = [r.doc_id for r in dsir_gumbel_topk(w, 10).collect()]
    assert a == b and len(a) == 10
    # a different salt draws a different sample (same weights)
    c = [r.doc_id for r in dsir_gumbel_topk(w, 10, salt="other").collect()]
    assert a != c


def test_semantic_dedup_pairs(spark):
    # planted near-dups in two well-separated clusters: the pair inside
    # each cluster is found, the cross-cluster pair is (by design) not
    # compared even though its cosine would pass the threshold
    import math

    from tera_spark.operators.dedup import semantic_dedup_pairs

    def unit(*xs):
        n = math.sqrt(sum(x * x for x in xs))
        return [x / n for x in xs]

    rows = [
        (1, unit(1.0, 0.02, 0.0, 0.0)),
        (2, unit(1.0, 0.0, 0.02, 0.0)),   # near-dup of 1
        (3, unit(0.0, 0.0, 1.0, 0.02)),
        (4, unit(0.0, 0.02, 1.0, 0.0)),   # near-dup of 3
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.a, r.b): r.cos
        for r in semantic_dedup_pairs(
            vecs, threshold=0.95, n_clusters=2, dim=4, portable=True
        ).collect()
    }
    assert set(pairs) == {(1, 2), (3, 4)}
    assert all(c >= 0.95 for c in pairs.values())


def test_duplicate_spans(spark):
    from tera_spark.operators.textops import duplicate_spans

    boiler = "this license text is repeated verbatim in many documents"
    corpus = [
        (1, f"unique preamble one {boiler} unique tail alpha beta"),
        (2, f"other intro {boiler} different ending entirely here"),
        (3, "no duplication in this document at all whatsoever truly"),
        (4, "short"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in duplicate_spans(docs, k=5).collect()
    }
    # the 9-token boilerplate yields 5 five-token windows in each doc;
    # doc 1 starts it at token 3, doc 2 at token 2
    assert spans[1] == (3, 12, 5)
    assert spans[2] == (2, 11, 5)
    assert 3 not in spans and 4 not in spans


def test_bm25_topk(spark):
    from math import log

    from tera_spark.operators.textops import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join join join"),  # tf(join)=3, dl=4
            (2, "spark scan scan scan"),  # tf(spark)=1, dl=4
            (3, "filter scan merge sort"),  # no query term
            (4, "join spark"),  # short doc: length normalization boosts it
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bm25_topk(docs, ["join", "spark"], k=10).collect()}
    assert 3 not in rows  # docs without any query term never surface
    assert rows[1]["n_terms_hit"] == 2 and rows[4]["n_terms_hit"] == 2
    # hand-computed: N=4, avgdl=3.5; df(join)=2, df(spark)=3
    k1, b = 1.2, 0.75

    def score(tf, df, dl):
        idf = log((4 - df + 0.5) / (df + 0.5) + 1.0)
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / 3.5))

    exp1 = round(score(3, 2, 4) + score(1, 3, 4), 6)
    assert abs(rows[1]["bm25"] - exp1) < 1e-6
    # doc 4 beats doc 2: same spark tf, plus a join hit and a shorter dl
    assert rows[4]["bm25"] > rows[2]["bm25"]
    # k-cut is deterministic: doc 1's tf=3 join hit outweighs doc 4's
    # shorter length (1.394 vs 1.273 by the reference formula above)
    top = bm25_topk(docs, ["join", "spark"], k=1).collect()
    assert len(top) == 1 and top[0]["doc_id"] == 1


def test_resolve_duplicate_clusters_transitive(spark):
    from tera_spark.operators.dedup import resolve_duplicate_clusters

    docs_df = spark.createDataFrame(
        [
            (1, "short copy"),
            (2, "the much longer canonical copy of this text"),
            (3, "medium length copy here"),
            (4, "unrelated singleton document"),
        ],
        "doc_id long, text string",
    )
    # pairwise verdicts never connect 1-3 directly; the cluster must
    # still collapse {1,2,3} transitively through 2
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    rows = {r.doc_id: r for r in resolve_duplicate_clusters(docs_df, pairs).collect()}
    assert rows[1].cluster_id == rows[2].cluster_id == rows[3].cluster_id
    assert rows[4].cluster_id != rows[1].cluster_id
    # longest text (doc 2) is the kept copy; the singleton is kept too
    assert [rows[i].keep for i in (1, 2, 3, 4)] == [False, True, False, True]


def test_tfidf_keywords_ranking(spark):
    from tera_spark.operators.corpus import tfidf_keywords

    docs_df = spark.createDataFrame(
        [
            (1, "apple apple banana common common"),
            (2, "banana cherry common common"),
            (3, "cherry cherry cherry common"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(docs_df, k=2)
    rows = [(r.doc_id, r.rank, r.term, r.score) for r in out.collect()]
    byrank = {(d, rk): (t, s) for d, rk, t, s in rows}
    # 'common' is in every doc -> smoothed idf = 1.0 exactly; rarer terms
    # with tf=2 outscore it, tf=1 terms lose to common's tf=2
    assert byrank[(1, 1)][0] == "apple"
    assert byrank[(1, 2)] == ("common", 2.0)
    assert byrank[(3, 1)][0] == "cherry"
    import math

    idf1 = math.log(4 / 2) + 1  # apple: df=1, smoothed
    assert abs(byrank[(1, 1)][1] - round(2 * idf1, 6)) < 1e-9
    # every doc yields exactly min(k, vocab) rows with ranks 1..k
    assert sorted(rk for d, rk, _, _ in rows if d == 2) == [1, 2]


def test_top_tokens_zipf_head(spark):
    from tera_spark.operators.textops import top_tokens

    docs_df = spark.createDataFrame(
        [
            (1, "the cat and the hat"),
            (2, "the cat sat!"),
            (3, "Dogs 123 bark."),
        ],
        "doc_id long, text string",
    )
    rows = [(r.rank, r.token, r.cnt, r.share) for r in top_tokens(docs_df, k=3).collect()]
    rows.sort()
    # 10 alpha tokens total: the×3, cat×2, five singles ("123" and "!"/"."
    # are not tokens); ties break on token text
    assert rows[0] == (1, "the", 3, round(3 / 10, 6))
    assert rows[1] == (2, "cat", 2, round(2 / 10, 6))
    assert rows[2] == (3, "and", 1, round(1 / 10, 6))


def test_conversation_dedup_pairs_hand_traced(spark):
    """c1/c2 share 2 of (3 ∪ 3) distinct turns → J=0.5; whitespace/case
    variants of the same turn hash together; c3 shares nothing; NULL and
    blank turns carry no signal."""
    from tera_spark.operators.dedup import conversation_dedup_pairs

    rows = [
        ("c1", 0, "user", "Hello  world", None, None),
        ("c1", 1, "assistant", "the answer is 42", None, None),
        ("c1", 2, "user", "thanks", None, None),
        ("c2", 0, "user", "hello world", None, None),  # ws/case variant
        ("c2", 1, "assistant", "THE ANSWER IS 42", None, None),
        ("c2", 2, "user", "goodbye", None, None),
        ("c2", 3, "user", None, None, None),
        ("c2", 4, "user", "   ", None, None),
        ("c3", 0, "user", "unrelated", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = conversation_dedup_pairs(df, threshold=0.4).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.conv_a, r.conv_b, r.n_shared_turns, r.jaccard) == ("c1", "c2", 2, 0.5)
    # below threshold → empty, never an error
    assert conversation_dedup_pairs(df, threshold=0.6).count() == 0


def test_kmv_distinct_exact_and_estimate(spark):
    """Groups at/below k report the exact count; above k, the estimate is
    (k-1)/h_(k) against the hand-computed k-th order statistic, and the
    estimator lands within the ~1/sqrt(k-2) band of the truth."""
    import hashlib

    from tera_spark.operators.sketches import kmv_distinct

    small = [("s", f"v{i}") for i in range(3)]          # 3 distinct <= k=4
    big = [("b", f"w{i}") for i in range(500)]          # 500 distinct > k=4
    df = spark.createDataFrame(
        small + big + [("s", "v0"), ("n", None)], "grp string, v string"
    )
    got = {r.grp: r for r in kmv_distinct(df, ["grp"], "v", k=4).collect()}
    assert got["s"].est_distinct == 3.0 and got["s"].is_exact
    assert "n" not in got  # NULL-only group carries no signal
    hs = sorted(
        int(hashlib.md5(f"w{i}".encode()).hexdigest()[:15], 16)
        for i in range(500)
    )
    expected = round(3.0 / (hs[3] / float(1 << 60)), 6)
    assert not got["b"].is_exact
    assert got["b"].est_distinct == expected
    # sanity at a usable k: error within 3 standard errors of truth
    got64 = {
        r.grp: r for r in kmv_distinct(df, ["grp"], "v", k=64).collect()
    }
    est = got64["b"].est_distinct
    assert abs(est - 500) / 500 < 3 / (62 ** 0.5)


def test_length_percentiles_nearest_rank(spark):
    """10 docs with token counts 1..10 in one group: nearest-rank p50 =
    value at ceil(0.5*10)=5, p90 at rank 9, p99 at rank ceil(9.9)=10."""
    from tera_spark.operators.textops import length_percentiles

    rows = [("a", " ".join(["w"] * n)) for n in range(1, 11)] + [
        ("b", "x y z"),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r.grp: r for r in length_percentiles(df).collect()}
    a = got["a"]
    assert (a.n_docs, a.p50, a.p90, a.p99) == (10, 5, 9, 10)
    b = got["b"]  # single doc: every percentile is its own value
    assert (b.n_docs, b.p50, b.p90, b.p99) == (1, 3, 3, 3)


def test_degree_histogram_buckets(spark):
    """Star over 5 leaves: hub degree 5 → bucket 2 (4..7); leaves degree
    1 → bucket 0; duplicate/reversed edges and self-loops ignored."""
    from tera_spark.operators.graph_metrics import degree_histogram

    edges = [("h", f"l{i}") for i in range(5)] + [
        ("l0", "h"),   # reversed duplicate
        ("h", "h"),    # self-loop
    ]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {r.bucket: r for r in degree_histogram(df).collect()}
    assert got[2].n_nodes == 1 and got[2].min_degree == 5 and got[2].max_degree == 5
    assert got[0].n_nodes == 5 and got[0].max_degree == 1
    assert set(got) == {0, 2}


def test_count_min_overestimates_and_merges(spark):
    """est >= true for every value; an exact-width sketch of few values
    is exact; and cell-wise addition of two partition sketches equals the
    sketch of the union (mergeability)."""
    from pyspark.sql import functions as F

    from tera_spark.operators.sketches import (
        count_min_estimates,
        count_min_sketch,
    )

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1 + [(None,)]
    df = spark.createDataFrame(rows, "v string")
    sk = count_min_sketch(df, "v", depth=3, width=64)
    items = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 1), ("zzz", 0)], "v string, true_count int"
    )
    got = {
        r.v: r.est_count
        for r in count_min_estimates(sk, items, "v", depth=3, width=64).collect()
    }
    for v, t in [("a", 5), ("b", 3), ("c", 1), ("zzz", 0)]:
        assert got[v] >= t
    # 3 distinct values in 3x64 cells: no collision possible to force,
    # but the guarantee we PIN is exactness here
    assert (got["a"], got["b"], got["c"]) == (5, 3, 1)
    # mergeability: sketch(part1) + sketch(part2) == sketch(part1 ∪ part2)
    p1 = spark.createDataFrame([("a",)] * 3 + [("b",)], "v string")
    p2 = spark.createDataFrame(
        [("a",)] * 2 + [("b",)] * 2 + [("c",)] + [(None,)], "v string"
    )
    df = p1.unionAll(p2)
    s1 = count_min_sketch(p1, "v", depth=3, width=64)
    s2 = count_min_sketch(p2, "v", depth=3, width=64)
    merged = (
        s1.unionByName(s2)
        .groupBy("sketch_row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = count_min_sketch(df, "v", depth=3, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_personalized_pagerank_seed_locality(spark):
    """Teleport only reaches seeds: a node with no path from the seed set
    holds rank 0; total mass stays 1; seed rank stays positive."""
    from tera_spark.operators.graph_metrics import personalized_pagerank

    edges = [("a", "b"), ("b", "c"), ("d", "c")]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {
        r.node: r.rank
        for r in personalized_pagerank(df, seeds=["a"], iterations=4).collect()
    }
    assert got["d"] == 0.0          # unreachable from the seed
    assert got["a"] > 0 and got["b"] > 0 and got["c"] > 0
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # empty seed set → all-zero ranks, never an error
    zero = personalized_pagerank(df, seeds=["zz"], iterations=2)
    assert all(r.rank == 0.0 for r in zero.collect())


def test_profile_columns_hand_traced(spark):
    from tera_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "id long, v string"
    )
    got = {r.column: r for r in profile_columns(df).collect()}
    i = got["id"]
    assert (i.n_rows, i.n_nulls, i.null_rate, i.n_distinct) == (4, 1, 0.25, 3)
    assert (i.min_value, i.max_value) == ("1", "3")
    v = got["v"]
    assert (v.n_nulls, v.n_distinct, v.min_value, v.max_value) == (1, 2, "a", "b")
    # column subset + empty-selection guard
    assert profile_columns(df, ["v"]).count() == 1
    import pytest as _pt

    with _pt.raises(ValueError):
        profile_columns(df, [])


def test_markdown_stats_hand_traced(spark):
    from tera_spark.operators.textops import with_markdown_stats

    md = (
        "# Title\n"
        "intro [link](http://x) text\n"
        "```\ncode here\n```\n"
        "- item one\n"
        "2. item two\n"
        "#notaheader\n"          # no space after #
        "```"                     # unclosed trailing fence
    )
    df = spark.createDataFrame([(1, md), (2, "plain prose only")], "doc_id long, text string")
    got = {r.doc_id: r for r in with_markdown_stats(df).collect()}
    m = got[1]
    assert m.n_code_blocks == 1   # 3 fences → 1 closed pair
    assert m.n_headers == 1       # '#notaheader' doesn't count
    assert m.n_links == 1
    assert m.n_list_items == 2    # '-' and '2.' forms
    p = got[2]
    assert (p.n_code_blocks, p.n_headers, p.n_links, p.n_list_items) == (0, 0, 0, 0)


def test_bloom_no_false_negatives_and_merge(spark):
    """Every inserted value probes maybe_present; a tiny filter forces
    false positives but NEVER false negatives; union of two builds equals
    the build of the union (bitset OR = plain distinct union)."""
    from tera_spark.operators.sketches import bloom_build, bloom_probe

    vals = [(f"v{i}",) for i in range(50)]
    df = spark.createDataFrame(vals, "v string")
    bits = bloom_build(df, "v", n_bits=512, k=3)
    items = spark.createDataFrame(
        [(f"v{i}",) for i in range(50)] + [(f"absent{i}",) for i in range(20)],
        "v string",
    )
    got = {
        r.v: r.maybe_present
        for r in bloom_probe(bits, items, "v", n_bits=512, k=3).collect()
    }
    assert all(got[f"v{i}"] for i in range(50))          # no false negatives
    fp = sum(got[f"absent{i}"] for i in range(20))
    assert fp < 20                                        # not everything collides
    # mergeability: union of partition builds == build of the union
    p1 = spark.createDataFrame(vals[:25], "v string")
    p2 = spark.createDataFrame(vals[25:], "v string")
    merged = bloom_build(p1, "v", n_bits=512, k=3).union(
        bloom_build(p2, "v", n_bits=512, k=3)
    ).distinct()
    assert sorted(r.bit for r in merged.collect()) == sorted(
        r.bit for r in bits.collect()
    )


def test_size_histogram_and_mean_pool(spark):
    from tera_spark.operators.ann import mean_pool
    from tera_spark.operators.graph_metrics import size_histogram

    # size histogram: groups of sizes 1, 3, 5 → buckets 0, 1, 2
    rows = [("a",)] + [("b",)] * 3 + [("c",)] * 5
    got = {
        r.bucket: r
        for r in size_histogram(
            spark.createDataFrame(rows, "g string"), "g"
        ).collect()
    }
    assert got[0].n_groups == 1 and got[0].max_size == 1
    assert got[1].n_groups == 1 and got[1].min_size == 3
    assert got[2].min_size == 5 and got[2].max_size == 5

    # mean pool: hand-computed per-position means, NULL vectors excluded
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (1, [3.0, 6.0]),
            (2, [10.0, 20.0]),
            (2, None),
        ],
        "label int, embedding array<double>",
    )
    pooled = {r.label: r for r in mean_pool(emb, "label").collect()}
    assert pooled[1].n_vectors == 2 and pooled[1].centroid == [2.0, 4.0]
    assert pooled[2].n_vectors == 1 and pooled[2].centroid == [10.0, 20.0]


def test_neighbor_feature_agg_star(spark):
    """Star hub sees 5 leaves (mean feature = leaf value); each leaf sees
    only the hub; reversed duplicates and self-loops are ignored."""
    from tera_spark.operators.graph_metrics import neighbor_feature_agg

    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(5)] + [("l0", "h"), ("h", "h")],
        "u string, v string",
    )
    feats = spark.createDataFrame(
        [("h", 100.0)] + [(f"l{i}", float(i)) for i in range(5)],
        "node string, f double",
    )
    got = {r.node: r for r in neighbor_feature_agg(edges, feats, "f").collect()}
    h = got["h"]
    assert h.n_neighbors == 5
    assert h.mean_f == 2.0 and h.min_f == 0.0 and h.max_f == 4.0
    for i in range(5):
        leaf = got[f"l{i}"]
        assert leaf.n_neighbors == 1 and leaf.mean_f == 100.0


def test_adjacency_and_token_pmi(spark):
    from tera_spark.operators.corpus import token_pmi_pairs
    from tera_spark.operators.graph_metrics import adjacency_lists

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "a")], "u string, v string"
    )
    got = {r.node: r for r in adjacency_lists(edges).collect()}
    assert got["b"].neighbors == ["a", "c"] and got["b"].degree == 2
    assert got["a"].neighbors == ["b"] and got["c"].neighbors == ["b"]

    # PMI: "x y" always adjacent (4 docs), z isolated from x;
    # window=1, floors at 1 keep everything
    docs = spark.createDataFrame(
        [(i, "x y") for i in range(4)] + [(9, "z w")],
        "doc_id long, text string",
    )
    pmi = {
        (r.tok_a, r.tok_b): r
        for r in token_pmi_pairs(
            docs, window=1, min_token_count=1, min_pair_count=1
        ).collect()
    }
    # events: 4×(x,y) + 1×(w,z) → N=5; m(x)=m(y)=4, m(w)=m(z)=1
    import math

    assert pmi[("x", "y")].n_cooc == 4
    assert pmi[("x", "y")].pmi == round(math.log(4 * 5 / (4 * 4)), 6)
    assert pmi[("w", "z")].pmi == round(math.log(1 * 5 / (1 * 1)), 6)
    assert ("x", "z") not in pmi


def test_rrf_fusion_hand_computed(spark):
    """Doc in both lists outscores single-list docs; absent-from-a-list
    contributes nothing; exact 1/(k+rank) arithmetic."""
    from tera_spark.operators.textops import rrf_fuse

    ra = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    rb = spark.createDataFrame([(1, 3), (9, 1)], "doc_id long, rank int")
    got = {r.doc_id: r for r in rrf_fuse([ra, rb], k=60).collect()}
    assert got[1].n_lists == 2
    assert got[1].rrf_score == round(1 / 61 + 1 / 63, 6)
    assert got[2].rrf_score == round(1 / 62, 6) and got[2].n_lists == 1
    assert got[9].rrf_score == round(1 / 61, 6)
    assert got[1].rrf_score > got[9].rrf_score > got[2].rrf_score
    import pytest as _pt

    with _pt.raises(ValueError):
        rrf_fuse([])


def test_pagerank_weighted_favors_heavy_edge(spark):
    """a splits mass 9:1 between b and c → b outranks c; total mass is
    1; non-positive-weight edges are dropped (d receives nothing and is
    not even a node)."""
    from tera_spark.operators.graph_metrics import pagerank_weighted

    edges = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0), ("a", "d", 0.0), ("a", "d", -5.0)],
        "u string, v string, w double",
    )
    got = {r.node: r.rank for r in pagerank_weighted(edges, iterations=3).collect()}
    assert "d" not in got
    assert got["b"] > got["c"] > 0
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_dedup_rate_by_group(spark):
    from tera_spark.operators.dedup import dedup_rate_by_group, exact_dedup

    docs = spark.createDataFrame(
        [
            (1, "same text", "a"),
            (2, "same  TEXT ", "a"),   # normalized dup of 1
            (3, "unique here", "a"),
            (4, "other", "b"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.source: r
        for r in dedup_rate_by_group(docs, exact_dedup(docs)).collect()
    }
    a = got["a"]
    assert (a.n_docs, a.n_dupes, a.dup_rate) == (3, 1, round(1 / 3, 6))
    assert (got["b"].n_dupes, got["b"].dup_rate) == (0, 0.0)


def test_key_skew_report(spark):
    from tera_spark.operators.profile import key_skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [(None,)] * 2 + [("cold",)]
    df = spark.createDataFrame(rows, "k string")
    got = {r.rank: r for r in key_skew_report(df, "k", top_n=3).collect()}
    assert got[1].key == "hot" and got[1].n_rows == 6
    assert got[1].share == 0.5
    assert got[2].key == "warm"
    assert got[3].key is None and got[3].n_rows == 2  # NULLs are a population
    assert len(got) == 3  # 'cold' cut by top_n


def test_boilerplate_report_and_removal(spark):
    from tera_spark.operators.textops import boilerplate_line_report, remove_boilerplate

    docs = spark.createDataFrame(
        [
            (1, "COOKIE  banner\nunique alpha\n\nfooter"),
            (2, "cookie BANNER\nunique beta\nfooter"),
            (3, "unique gamma\nFooter"),
            (4, ""),  # empty doc must survive removal
        ],
        "doc_id long, text string",
    )
    rep = {
        r.line_key: r.n_docs
        for r in boilerplate_line_report(docs, min_docs=2).collect()
    }
    # case/whitespace-insensitive identity; empty lines never counted
    assert rep == {"cookie banner": 2, "footer": 3}

    out = {r.doc_id: r for r in remove_boilerplate(docs, min_docs=2).collect()}
    assert len(out) == 4
    # original casing and order preserved; empty line kept in place
    assert out[1].clean_text == "unique alpha\n"
    assert out[1].n_lines_kept == 2 and out[1].n_lines_dropped == 2
    assert out[2].clean_text == "unique beta"
    assert out[3].clean_text == "unique gamma"
    # empty doc: split('') yields one empty line — kept, never boilerplate
    assert out[4].clean_text == "" and out[4].n_lines_dropped == 0


def test_boilerplate_threshold_boundary(spark):
    from tera_spark.operators.textops import boilerplate_line_report

    # a line repeated many times WITHIN one doc counts that doc once
    docs = spark.createDataFrame(
        [(1, "x\nx\nx\ny"), (2, "z")], "doc_id long, text string"
    )
    assert boilerplate_line_report(docs, min_docs=2).count() == 0
    got = {r.line_key for r in boilerplate_line_report(docs, min_docs=1).collect()}
    assert got == {"x", "y", "z"}


def test_jaccard_prefix_pairs_exact_vs_bruteforce(spark):
    # exactness property: prefix filtering must lose NOTHING vs the
    # all-pairs brute force, across a corpus dense with near-dups
    from tera_spark.operators.dedup import jaccard_prefix_pairs

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    docs = []
    for i in range(40):
        # deterministic token subset of size 3-6, heavy overlap by design
        toks = [vocab[(i * 7 + k * 3) % len(vocab)] for k in range(3 + i % 4)]
        docs.append((i, " ".join(toks) + ("  EXTRA" if i % 5 == 0 else "")))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    t = 0.6
    got = {(r.a, r.b): r.jaccard for r in jaccard_prefix_pairs(sdf, threshold=t).collect()}

    sets = {i: set(txt.lower().split()) for i, txt in docs}
    want = {}
    for i in sets:
        for j in sets:
            if i < j:
                inter = len(sets[i] & sets[j])
                jac = inter / (len(sets[i]) + len(sets[j]) - inter)
                if jac >= t:
                    want[(i, j)] = round(jac, 6)
    assert got == want and len(want) > 50  # non-trivial corpus


def test_jaccard_prefix_pairs_threshold_edges(spark):
    from tera_spark.operators.dedup import jaccard_prefix_pairs

    sdf = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "a b c x"), (4, "zz")],
        "doc_id long, text string",
    )
    got = {(r.a, r.b): r.jaccard for r in jaccard_prefix_pairs(sdf, threshold=0.75).collect()}
    # identical sets → 1.0; 3/5 overlap = 0.6 < 0.75 → excluded; singleton alone
    assert got == {(1, 2): 1.0}


def test_mixture_weights_temperature(spark):
    from tera_spark.operators.corpus import mixture_weights

    docs = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, "a", 100), (4, "b", 100), (5, None, 25)],
        "doc_id long, src string, n_tok long",
    )
    # alpha=0.5 on doc counts: weights ∝ sqrt(3), sqrt(1), sqrt(1)
    got = {r.group: r for r in mixture_weights(docs, "src", alpha=0.5).collect()}
    import math
    z = math.sqrt(3) + 1 + 1
    assert abs(got["a"].weight - math.sqrt(3) / z) < 1e-6
    assert abs(got["b"].weight - 1 / z) < 1e-6
    assert got[None].n_docs == 1  # NULL group is a real population
    assert abs(sum(r.weight for r in got.values()) - 1.0) < 1e-5
    # token-budget mixing: alpha=1 reduces to mass share
    tok = {r.group: r.weight for r in mixture_weights(docs, "src", alpha=1.0, token_col="n_tok").collect()}
    assert abs(tok["a"] - 300 / 425) < 1e-6 and abs(tok[None] - 25 / 425) < 1e-6


def test_quantize_int8_roundtrip_bound(spark):
    from tera_spark.operators.ann import quantize_int8

    rows = [
        (1, [0.0, 1.0, 0.5]),
        (2, [-2.0, 2.0, 0.0, 1.0]),
        (3, [3.0, 3.0, 3.0]),  # constant vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in quantize_int8(df).collect()}
    # endpoints hit the code range exactly
    assert got[1].q == [0, 255, 128] and got[1].zero_point == 0.0
    assert got[2].q[0] == 0 and got[2].q[1] == 255
    # constant vector: scale 0, all-zero codes, zero error
    assert got[3].scale == 0.0 and got[3].q == [0, 0, 0] and got[3].max_err == 0.0
    # error bound: max_err <= scale/2 (+ rounding slack) for every vector
    for r in got.values():
        assert r.max_err <= r.scale / 2 + 1e-6, r


def test_metric_drift_statuses(spark):
    from tera_spark.operators.profile import metric_drift

    old = spark.createDataFrame(
        [("a", 10.0), ("b", 5.0), ("c", 1.0)], "k string, v double"
    )
    new = spark.createDataFrame(
        [("a", 12.5), ("b", 5.0), ("d", 7.0)], "k string, v double"
    )
    got = {r.k: r for r in metric_drift(old, new, ["k"], "v", eps=0.1).collect()}
    assert got["a"].status == "changed" and got["a"].delta == 2.5
    assert got["b"].status == "stable" and got["b"].delta == 0.0
    # removed/added carry full magnitude in delta
    assert got["c"].status == "removed" and got["c"].delta == -1.0 and got["c"].new_val is None
    assert got["d"].status == "added" and got["d"].delta == 7.0 and got["d"].old_val is None


def test_hll_registers_match_python_and_merge(spark):
    import hashlib

    import pyspark.sql.functions as F

    from tera_spark.operators.sketches import hll_estimate, hll_registers

    vals = [f"tok{i}" for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    p, m, w = 8, 256, 52

    # python replay of the register layout
    regs = {}
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        j, rest = h % m, h >> p
        rho = (w + 1) if rest == 0 else w - rest.bit_length() + 1
        regs[j] = max(regs.get(j, 0), rho)
    got = {r.j: r.rho for r in hll_registers(df, "v", p=p).collect()}
    assert got == regs

    est = hll_estimate(hll_registers(df, "v", p=p), p=p).collect()[0]
    assert abs(est.estimate - 2000) / 2000 < 0.15  # ~1.04/sqrt(256) ≈ 6.5%

    # mergeability: sketch(first half) ∪ sketch(second half) == sketch(all)
    h1 = hll_registers(spark.createDataFrame([(v,) for v in vals[:1000]], "v string"), "v", p=p)
    h2 = hll_registers(spark.createDataFrame([(v,) for v in vals[1000:]], "v string"), "v", p=p)
    merged = h1.unionByName(h2).groupBy("j").agg(F.max("rho").alias("rho"))
    assert {(r.j, r.rho) for r in merged.collect()} == set(regs.items())


def test_hll_small_range_correction(spark):
    from tera_spark.operators.sketches import hll_estimate, hll_registers

    df = spark.createDataFrame([(f"x{i}",) for i in range(10)], "v string")
    est = hll_estimate(hll_registers(df, "v", p=8), p=8).collect()[0]
    # linear counting regime: tiny sets estimate near-exactly
    assert abs(est.estimate - 10) < 1.0


def test_psi_report_hand_computed(spark):
    import math

    from tera_spark.operators.profile import psi_report

    # old uniform over [0, 10); new shifted mass into the top bin
    old = spark.createDataFrame([(float(i % 10),) for i in range(100)], "x double")
    new = spark.createDataFrame([(9.0,)] * 50 + [(0.0,)] * 50, "x double")
    rows = psi_report(old, new, "x", bins=5).collect()
    assert len(rows) == 5 and all(r.psi == rows[0].psi for r in rows)
    by_bin = {r.bin: r for r in rows}
    # old: uniform 0.2/bin (max=9 → width 1.8); new: 0.0→bin0, 9.0→bin4
    assert all(abs(by_bin[b].old_frac - 0.2) < 1e-9 for b in range(5))
    assert by_bin[0].new_frac == 0.5 and by_bin[4].new_frac == 0.5
    eps = 1e-6
    want = sum(
        (q - p) * math.log(q / p)
        for p, q in [(0.2, 0.5), (0.2, eps), (0.2, eps), (0.2, eps), (0.2, 0.5)]
    )
    assert abs(rows[0].psi - round(want, 6)) < 2e-6
    # identical distributions → psi 0
    same = psi_report(old, old, "x", bins=5).collect()
    assert same[0].psi == 0.0


def test_psi_out_of_range_clamps(spark):
    from tera_spark.operators.profile import psi_report

    old = spark.createDataFrame([(0.0,), (10.0,)], "x double")
    new = spark.createDataFrame([(-5.0,), (99.0,)], "x double")
    by_bin = {r.bin: r for r in psi_report(old, new, "x", bins=2).collect()}
    assert by_bin[0].new_frac == 0.5 and by_bin[1].new_frac == 0.5


def test_psi_empty_old_snapshot_is_null_not_zero(spark):
    """A broken upstream snapshot (no non-null old rows) must surface as
    NULL psi, never as a silent 0.0 'no drift'."""
    from tera_spark.operators.profile import psi_report

    old = spark.createDataFrame([(None,), (None,)], "x double")
    new = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    rows = psi_report(old, new, "x", bins=4).collect()
    assert len(rows) == 4
    assert all(r.psi is None and r.contrib is None for r in rows)
    assert all(r.old_frac is None and r.new_frac is None for r in rows)


def test_leakage_safe_split_clusters_atomic(spark):
    from tera_spark.operators.corpus import hash_split, leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string"
    )
    # cluster {0,1,2} and {5,6}; others unmapped (singleton fallback)
    mapping = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (5, 5), (6, 5)], "doc_id long, keep_id long"
    )
    out = leakage_safe_split(docs, mapping, weights={"train": 0.5, "test": 0.5})
    rows = {r.doc_id: r.split for r in out.collect()}
    assert len(rows) == 20
    # cluster members land in the SAME split
    assert rows[0] == rows[1] == rows[2]
    assert rows[5] == rows[6]
    # cluster members inherit the REP's assignment; singletons their own
    rep = {r.doc_id: r.split for r in hash_split(docs, weights={"train": 0.5, "test": 0.5}).collect()}
    assert rows[1] == rep[0] and rows[6] == rep[5] and rows[7] == rep[7]


def test_blocking_quality_hand_computed(spark):
    from tera_spark.operators.dedup import blocking_quality

    docs = spark.createDataFrame([(i, "t") for i in range(5)], "doc_id long, text string")
    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (1, 1)], "a long, b long"  # dup + self-pair ignored
    )
    truth = spark.createDataFrame([(1, 2), (2, 3), (0, 4)], "a long, b long")
    r = blocking_quality(docs, cand, truth).collect()[0]
    # 2 distinct candidates of C(5,2)=10 → rr = 0.8; hits = {(1,2)} → 1/3
    assert r.n_docs == 5 and r.n_candidates == 2 and r.n_truth == 3 and r.n_hit == 1
    assert r.reduction_ratio == 0.8
    assert abs(r.pairs_completeness - 1 / 3) < 1e-6
    # empty truth → NULL completeness, not 1.0/0.0
    r2 = blocking_quality(docs, cand, truth.filter("a > 99")).collect()[0]
    assert r2.pairs_completeness is None


def test_blocking_quality_explicit_columns(spark):
    """Wide/reordered pair frames must be addressed by name, never read
    positionally — a frame with extra leading columns either uses
    a_col/b_col or is rejected."""
    import pytest

    from tera_spark.operators.dedup import blocking_quality

    docs = spark.createDataFrame([(i, "t") for i in range(5)], "doc_id long, text string")
    cand_wide = spark.createDataFrame(
        [(0.9, 1, 2), (0.8, 3, 4)], "score double, a long, b long"
    )
    truth = spark.createDataFrame([(1, 2), (2, 3), (0, 4)], "a long, b long")
    r = blocking_quality(docs, cand_wide, truth, a_col="a", b_col="b").collect()[0]
    assert r.n_candidates == 2 and r.n_hit == 1
    # no names given + more than two columns → loud error, not wrong metrics
    with pytest.raises(ValueError, match="a_col/b_col"):
        blocking_quality(docs, cand_wide, truth).collect()


def test_vocab_coverage_head(spark):
    from tera_spark.operators.textops import vocab_coverage

    # a:6 b:3 c:1 → fracs 0.6/0.3/0.1; 80% target → head is a,b
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a a a b b c")], "doc_id long, text string"
    )
    rows = sorted(vocab_coverage(docs, coverage=0.8).collect(), key=lambda r: r.rank)
    assert [(r.rank, r.tok, r.cnt) for r in rows] == [(1, "a", 6), (2, "b", 3)]
    assert rows[-1].cum_frac == 0.9
    # coverage=1.0 returns the whole vocabulary
    assert vocab_coverage(docs, coverage=1.0).count() == 3


def test_robust_outlier_stats_median_mad(spark):
    from tera_spark.operators.profile import robust_outlier_stats

    # g1: median 10, MAD 1 → threshold 3*1.4826 ≈ 4.45; 100 is the outlier
    # g2: constant values → MAD 0 → any deviation flags
    rows = [("g1", v) for v in [8.0, 9.0, 10.0, 11.0, 12.0, 100.0]] + [
        ("g2", 5.0), ("g2", 5.0), ("g2", 5.0), ("g2", 7.0)
    ]
    df = spark.createDataFrame(rows, "src string, x double")
    got = {r.group: r for r in robust_outlier_stats(df, "x", "src", k=3.0).collect()}
    assert got["g1"].median == 10.5 and got["g1"].n == 6
    assert got["g1"].n_outliers == 1
    assert got["g2"].mad == 0.0 and got["g2"].n_outliers == 1


def test_minhash_signatures_match_explode_groupby_reference(spark):
    """Round 6 turned the signatures into a zero-shuffle array projection;
    pin value-equality against the explode+groupBy definition on the edge
    cases (short text, empty text, null text, unicode)."""
    from pyspark.sql import functions as F

    from tera_spark.operators.dedup import minhash_signatures, word_shingles

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six"),
            (2, "one two three four five six"),
            (3, "tiny"),
            (4, ""),
            (5, None),
            (6, "naïve café naïve café naïve café encore"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
        for r in minhash_signatures(docs, num_hashes=8).collect()
    }
    sh = docs.select(
        F.col("doc_id"), F.explode(word_shingles(F.col("text"), 3)).alias("sh")
    )
    ref_df = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
            for i in range(8)
        ]
    )
    ref = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(8)) for r in ref_df.collect()
    }
    assert got == ref
    assert got[1] == got[2]  # identical docs → identical signatures
    # the projection is shuffle-free
    plan = minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
