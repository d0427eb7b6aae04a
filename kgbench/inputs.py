"""Seeded inputs for the benchmark: a transcript corpus with planted truth,
the linking lexicon (optionally grown with decoy labels) and the parameters
of the access-query mix.

Everything is a pure function of the seed. The program under test receives
only the parquet files written from these frames.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd

from tera_spark.fixtures.transcripts import SPECIES, gen_lexicons, gen_transcripts

# Syllables for pseudo-names: the bulk of a real chemical/taxon vocabulary
# is names that share 3-gram shingles with each other but with no mention.
_SYLLABLES = [
    "ab", "ac", "al", "am", "an", "ar", "ben", "bu", "car", "chlo", "cy",
    "di", "do", "eth", "fen", "flu", "gly", "hex", "hy", "ib", "io", "lin",
    "lo", "ma", "me", "mi", "nal", "neo", "ox", "pen", "pho", "pro", "ra",
    "sul", "ta", "ter", "thi", "tri", "ur", "va", "xy", "zo",
]
# Affixes that turn a real label into a near miss: these decoys share most
# shingles with the real label and land in WRatio's partial-match band.
_PREFIXES = ["iso", "nor", "neo", "pseudo", "sub", "methyl ", "chloro", "di"]
_SUFFIXES = [" oxide", " sulfate", "-d4", "ine", " acetate", " var. minor", "ensis", " complex"]


@dataclass
class Corpus:
    transcripts: pd.DataFrame
    truth: pd.DataFrame  # planted mentions: conv_id, turn_idx, entity, verbatim


def _norm(s: str) -> str:
    """Python twin of pipeline.link._norm for the ASCII labels made here."""
    return " ".join(s.lower().split())


def make_corpus(seed: int, turns: int) -> Corpus:
    """Exactly ``turns`` turns, so that throughput does not move with the
    corpus size a seed happens to draw: the last conversation is cut short.
    One conversation is 30× the average length (the generator's skew case)."""
    pdf, truth = gen_transcripts(
        n_convs=turns // 8 + 40, seed=seed, hot_convs=1, hot_factor=30, return_truth=True
    )
    if len(pdf) < turns:
        raise ValueError("corpus generator produced too few turns")
    pdf = pdf.iloc[:turns]
    truth = truth.merge(pdf[["conv_id", "turn_idx"]], on=["conv_id", "turn_idx"])
    return Corpus(pdf, truth)


def _pseudo_name(rng: random.Random) -> str:
    word = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(3, 5)))
    if rng.random() < 0.3:
        word += " " + "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
    return word


def make_lexicon(n_decoys: int) -> pd.DataFrame:
    """The fixture lexicon plus ``n_decoys`` decoy labels, half near misses
    of real labels and half pseudo-names. Decoys carry ids in the real
    ``cas:``/``taxon:`` namespaces, so a mention linked to one counts
    against precision. After normalization no decoy equals a real label:
    the exact path stays correct and only the fuzzy band is stressed.

    The lexicon is reference data, the same for every seed (its own fixed
    seed): the benchmark seed draws the corpus and the queries."""
    chem, spec = gen_lexicons()
    lex = pd.concat([chem, spec], ignore_index=True)
    labels = list(lex["label"])
    seen = {_norm(x) for x in labels}
    rng = random.Random("decoys")
    rows = []
    while len(rows) < n_decoys:
        i = len(rows)
        kind = "chemical" if i % 2 == 0 else "species"
        if i % 4 < 2:
            # an optional extra syllable keeps the near-miss space far
            # larger than any decoy count asked for
            extra = rng.choice(_SYLLABLES) if rng.random() < 0.7 else ""
            base = rng.choice(labels)
            label = (
                rng.choice(_PREFIXES) + extra + base
                if rng.random() < 0.5
                else base + rng.choice(_SUFFIXES) + extra
            )
        else:
            label = _pseudo_name(rng)
        if _norm(label) in seen:
            continue
        seen.add(_norm(label))
        entity = f"cas:9{i:06d}-00-0" if kind == "chemical" else f"taxon:decoy{i}"
        rows.append({"entity": entity, "label": label, "kind": kind})
    return pd.concat([lex, pd.DataFrame(rows, columns=lex.columns)], ignore_index=True)


def query_rounds(seed: int, corpus: Corpus, n: int) -> list[list[tuple[str, str]]]:
    """``n`` rounds of four (kind, argument) queries, one of each kind.
    Arguments are drawn from the seed: an entity class, a fixture label, a
    conversation of the corpus, a species whose co-mentions are counted."""
    rng = random.Random(f"queries:{seed}")
    convs = sorted(set(corpus.transcripts["conv_id"]))
    chem, spec = gen_lexicons()
    labels = sorted(set(chem["label"]) | set(spec["label"]))
    classes = ["Chemical", "Species"]
    species = ["taxon:" + sid for sid, _, _ in SPECIES]
    return [
        [
            ("type", classes[i % 2]),
            ("label", rng.choice(labels)),
            ("turn_mentions", rng.choice(convs)),
            ("comention", rng.choice(species)),
        ]
        for i in range(n)
    ]
