"""Fuzzy string scoring (J6's scorer; SURVEY.md §2.4 J6, §7.3).

The reference scores candidate entity pairs with fuzzywuzzy's
``process.extractOne`` over label lists
(/root/reference/tera/DataIntegration.py:261-273). fuzzywuzzy's pure-Python
backend is ``difflib.SequenceMatcher`` — we use the same stdlib primitive,
so ``ratio`` matches fuzz.ratio semantics (0-100 int scale), and we provide
token_sort / token_set variants per the fuzzywuzzy algorithm. ``wratio``
approximates WRatio as the max of the three (documented deviation: WRatio
adds partial-ratio heuristics with length-based weights; the alignment
threshold tolerance absorbs the difference — SURVEY.md §7.3).

Execution: scoring only ever runs on *blocked candidate pairs* (see
operators/align.py and pipeline/link.py), via ONE Arrow-vectorized pandas
UDF, ``wratio_at_least(a, b, floor)`` — never on the cross product. Both
callers drop scores below a floor right after scoring (linking at its
merge floor, J6 at its threshold), so the kernel is floor-aware: it
returns exactly ``wratio(a, b)`` whenever that is ≥ floor and some value
below floor otherwise, skipping each difflib ``ratio()`` whose cheap upper
bounds (``real_quick_ratio``/``quick_ratio``) prove it cannot reach the
floor. The pure-Python ``wratio`` is the reference it is tested against.
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _process(s: str) -> str:
    """fuzzywuzzy full_process: non-alphanumeric → space, lower, strip."""
    return re.sub(r"(?ui)\W", " ", str(s)).lower().strip()


def ratio(a: str, b: str) -> int:
    a, b = _process(a), _process(b)
    if not a or not b:
        return 0
    return int(round(100 * SequenceMatcher(None, a, b).ratio()))


def token_sort_ratio(a: str, b: str) -> int:
    sa = " ".join(sorted(_process(a).split()))
    sb = " ".join(sorted(_process(b).split()))
    if not sa or not sb:
        return 0
    return int(round(100 * SequenceMatcher(None, sa, sb).ratio()))


def token_set_ratio(a: str, b: str) -> int:
    ta, tb = set(_process(a).split()), set(_process(b).split())
    if not ta or not tb:
        return 0
    inter = " ".join(sorted(ta & tb))
    s1 = (inter + " " + " ".join(sorted(ta - tb))).strip()
    s2 = (inter + " " + " ".join(sorted(tb - ta))).strip()
    pairs = [(inter, s1), (inter, s2), (s1, s2)]
    best = 0
    for x, y in pairs:
        if x or y:
            best = max(best, int(round(100 * SequenceMatcher(None, x, y).ratio())))
    return best


def wratio(a: str, b: str) -> int:
    """WRatio-lite: max of plain/token-sort/token-set ratios."""
    return max(ratio(a, b), token_sort_ratio(a, b), token_set_ratio(a, b))


def _floor_ratio(x: str, y: str, bar: float) -> int:
    """``int(round(100 * SequenceMatcher(None, x, y).ratio()))`` when that
    can reach ``bar``, else -1. ratio() ≤ quick_ratio() ≤ real_quick_ratio()
    and round(v) ≤ v + 0.5, so a bound below ``bar - 0.5`` proves the
    rounded ratio is below ``bar`` without computing it."""
    lo = bar - 0.5
    # real_quick_ratio() from the lengths alone (difflib's own formula),
    # before paying for the matcher's index of y
    if 100 * (2.0 * min(len(x), len(y)) / (len(x) + len(y))) < lo:
        return -1
    sm = SequenceMatcher(None, x, y)
    if 100 * sm.quick_ratio() < lo:
        return -1
    return int(round(100 * sm.ratio()))


def wratio_floor(a: str, b: str, floor: float, memo: dict) -> int:
    """``wratio(a, b)`` exactly when it is ≥ ``floor``; some value below
    ``floor`` otherwise. Each component ratio is skipped when its difflib
    upper bound shows it cannot reach max(floor, best so far): it can then
    change neither a maximum that is ≥ floor nor the verdict "below floor".
    ``memo`` caches the per-string preprocessing (``_process``, token
    split, sorted join) across calls — one dict per Arrow batch."""

    def prep(s: str) -> tuple[str, str, frozenset]:
        got = memo.get(s)
        if got is None:
            p = _process(s)
            toks = p.split()
            got = memo[s] = (p, " ".join(sorted(toks)), frozenset(toks))
        return got

    pa, sa, ta = prep(a)
    pb, sb, tb = prep(b)
    pairs = []
    if pa and pb:
        pairs.append((pa, pb))
    if sa and sb:
        pairs.append((sa, sb))
    if ta and tb:
        inter = " ".join(sorted(ta & tb))
        s1 = (inter + " " + " ".join(sorted(ta - tb))).strip()
        s2 = (inter + " " + " ".join(sorted(tb - ta))).strip()
        pairs += [(x, y) for x, y in ((inter, s1), (inter, s2), (s1, s2)) if x or y]
    best = 0
    # each distinct string pair once: for one-word or already-sorted
    # inputs the plain, token-sort and token-set components coincide
    for x, y in dict.fromkeys(pairs):
        best = max(best, _floor_ratio(x, y, max(floor, best)))
    return best


@F.pandas_udf(T.IntegerType())
def _wratio_floor_udf(a: pd.Series, b: pd.Series, floor: pd.Series) -> pd.Series:
    """Vectorized floor-aware pair scorer for blocked candidates (Arrow
    batches); ``floor`` is a literal column."""
    f = float(floor.iloc[0]) if len(floor) else 0.0
    memo: dict = {}
    return pd.Series(
        [
            wratio_floor(x, y, f, memo) if x is not None and y is not None else 0
            for x, y in zip(a, b)
        ],
        dtype="int32",
    )


# Marked nondeterministic ON PURPOSE (it is deterministic): this stops
# Catalyst from (a) pushing threshold filters that reference the score
# BELOW the cheap blocking aggregation — measured to re-point the scorer at
# every raw shingle-pair row, ~15× the candidate count — and (b) duplicating
# the UDF into both a pushed filter and the projection (double evaluation).
# Expensive-Python-UDF ordering must be pinned where the plan says it runs.
_wratio_floor_nd = _wratio_floor_udf.asNondeterministic()


def wratio_at_least(a, b, floor: float):
    """WRatio of two string Columns, exact wherever it is ≥ ``floor`` and
    below ``floor`` elsewhere (``wratio_floor``). For callers that drop
    scores below ``floor`` right after scoring: the skipped difflib work
    is work whose result they would discard. Argument order matters —
    difflib's ratio is not symmetric."""
    return _wratio_floor_nd(a, b, F.lit(float(floor)))


# --------------------------------------------------------------------------
# Portable scorer — the SQL-expressible alternative to WRatio
# --------------------------------------------------------------------------
#
# WRatio's difflib backend is Python-only, which makes every query using it
# rows-only for the DuckDB oracle. The portable scorer trades WRatio's
# partial-match heuristics for two primitives that exist verbatim in Spark
# AND DuckDB (and every other SQL engine): levenshtein() and a token-sort.
#
#   lev_sim(x, y)  = 100 * (1 - levenshtein(x, y) / max(len(x), len(y)))
#   portable(x, y) = greatest(lev_sim(x, y), lev_sim(tsort(x), tsort(y)))
#
# computed over fuzzywuzzy-processed strings (non-alphanumeric → space,
# lower, collapse, trim — same preprocessing as WRatio). It is a pure
# Column expression: JVM-side, whole-stage-codegen'd, ~no per-row Python —
# so besides oracle-checkability it is also the *faster* scorer; WRatio
# stays the default for reference parity (golden-tested), portable mode is
# opt-in via scorer="portable".
#
# Bit-exactness across engines: levenshtein and length are integers; the
# float ops are one division, one subtraction, one multiplication in fixed
# order — IEEE-identical in both engines, so thresholds and hashes agree.


def portable_process_col(c):
    """fuzzywuzzy full_process as a Column: non-alphanumeric → space,
    lower, collapse runs, trim. ASCII classes on purpose — identical
    semantics in Java regex and DuckDB's RE2."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " +", " ")
    )


def _lev_sim_col(a, b):
    m = F.greatest(F.length(a), F.length(b))
    return F.when(m == 0, F.lit(100.0)).otherwise(
        F.lit(100.0) * (F.lit(1.0) - F.levenshtein(a, b) / m)
    )


def portable_ratio_col(a, b, processed: bool = False):
    """The portable fuzzy score as a Column (0-100 double). ``processed``:
    inputs already went through ``portable_process_col``."""
    if not processed:
        a, b = portable_process_col(a), portable_process_col(b)

    def tsort(c):
        return F.array_join(F.array_sort(F.split(c, " ")), " ")

    return F.greatest(_lev_sim_col(a, b), _lev_sim_col(tsort(a), tsort(b)))


def sql_portable_ratio(a: str, b: str, processed: bool = False) -> str:
    """The SAME scorer as an ANSI/DuckDB SQL expression string — the oracle
    side of portable_ratio_col. Operation order matches the Column version
    exactly so doubles are bit-identical."""

    def proc(x: str) -> str:
        return (
            "trim(regexp_replace(regexp_replace(lower(" + x + "),"
            " '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"
        )

    def tsort(x: str) -> str:
        return f"array_to_string(list_sort(string_split({x}, ' ')), ' ')"

    def lev(x: str, y: str) -> str:
        m = f"greatest(len({x}), len({y}))"
        return (
            f"CASE WHEN {m} = 0 THEN 100.0 "
            f"ELSE 100.0 * (1.0 - levenshtein({x}, {y}) / {m}) END"
        )

    if not processed:
        a, b = proc(a), proc(b)
    return f"greatest({lev(a, b)}, {lev(tsort(a), tsort(b))})"


def jaccard_tokens(a: str, b: str) -> float:
    ta, tb = set(_process(a).split()), set(_process(b).split())
    if not ta and not tb:
        return 0.0
    return len(ta & tb) / len(ta | tb)


def tanimoto(fp1: int, fp2: int) -> float:
    """F5 (utils.py:206-225) with the intended semantics: Jaccard over
    fingerprint bits. The reference's version TypeErrors on its documented
    str inputs (SURVEY.md §8 item 6); ours takes packed ints."""
    both = bin(fp1 & fp2).count("1")
    c1, c2 = bin(fp1).count("1"), bin(fp2).count("1")
    denom = c1 + c2 - both
    return float(both) / denom if denom else 0.0
