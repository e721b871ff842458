"""Batched string-similarity UDFs (the Arrow slow-path, used only on short strings).

Levenshtein is a Spark built-in (`F.levenshtein`) and stays JVM-side; Jaro-Winkler has
no built-in, so the pair-scoring Arrow kernel (``arrow_kernels.score_pair_batches``)
calls :func:`jaro_winkler_py` inline — only on path *stems* (short strings), never on
content. Mirrors the reference's pairwise string features
fed to its classifier (``am_combiner/combiners/ml.py:274-345``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if not len1 or not len2:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(i + match_window + 1, len2)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c1:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions / 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3


def jaro_winkler_py(s1: str, s2: str, scaling: float = 0.1) -> float:
    """Jaro-Winkler similarity (standard prefix boost up to 4 chars)."""
    j = _jaro(s1, s2)
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 != c2:
            break
        prefix += 1
    return j + prefix * scaling * (1 - j)


def levenshtein_sim(a: Column, b: Column) -> Column:
    """Normalized Levenshtein similarity 1 - dist/max_len — pure JVM expression."""
    max_len = F.greatest(F.length(a), F.length(b))
    return F.when(max_len == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b).cast("double") / max_len
    )


# --- snippet_distance: the 7-metric text-distance ensemble ---------------------
#
# Reference ``am_combiner/utils/ab_utils.py:97-123``: the A/B snippet comparator
# averages seven normalized similarities from the `textdistance` package
# (hamming, damerau-levenshtein, jaro, smith-waterman, jaccard, bag, lcsstr)
# over the utf-8-ENCODED snippets (``encode``, ab_utils.py:60-95: strings that
# fail utf-8 — lone surrogates — are stripped to word chars first). That
# package is absent here, so each metric is re-implemented from its published
# definition; normalizations follow textdistance's conventions (distance
# metrics divide by the longer length; smith-waterman and lcsstr divide by the
# SHORTER length, so full containment scores 1). Metrics run over the encoded
# BYTES like the reference, so multi-byte characters count per byte.
#
# Snippets are short (A/B result blurbs) — the O(len²) DP rows stay tiny; the
# ensemble ships as ONE Arrow-batched pandas UDF (7 metrics per pair in a
# single pass, no per-metric UDF hops).


def _encode_snippet(s: str) -> bytes:
    import re as _re

    try:
        return s.encode("utf-8")
    except UnicodeError:
        return _re.sub(r"\W", "", s).encode("utf-8", "ignore")


def _hamming_nsim(a, b) -> float:
    m = max(len(a), len(b))
    if m == 0:
        return 1.0
    d = sum(x != y for x, y in zip(a, b)) + abs(len(a) - len(b))
    return 1.0 - d / m


def _damerau_levenshtein(a, b) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner last-occurrence DP)."""
    la, lb = len(a), len(b)
    if not la:
        return lb
    if not lb:
        return la
    inf = la + lb
    score = [[inf] * (lb + 2) for _ in range(la + 2)]
    score[1][1] = 0
    for i in range(1, la + 1):
        score[i + 1][1] = i
    for j in range(1, lb + 1):
        score[1][j + 1] = j
    da: dict = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            i1 = da.get(b[j - 1], 0)
            j1 = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            score[i + 1][j + 1] = min(
                score[i][j] + cost,
                score[i + 1][j] + 1,
                score[i][j + 1] + 1,
                score[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        da[a[i - 1]] = i
    return score[la + 1][lb + 1]


def _smith_waterman(a, b) -> int:
    """Local-alignment score: match +1, mismatch -1, gap -1 (textdistance's
    defaults: identity sym func, gap_cost=1)."""
    if not a or not b:
        return 0
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        ai = a[i - 1]
        for j in range(1, len(b) + 1):
            m = prev[j - 1] + (1 if ai == b[j - 1] else -1)
            v = m if m > 0 else 0
            g1 = prev[j] - 1
            if g1 > v:
                v = g1
            g2 = cur[j - 1] - 1
            if g2 > v:
                v = g2
            cur[j] = v
            if v > best:
                best = v
        prev = cur
    return best


def _lcs_substring_len(a, b) -> int:
    if not a or not b:
        return 0
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        ai = a[i - 1]
        for j in range(1, len(b) + 1):
            if ai == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


def snippet_distance_py(s1: str, s2: str) -> float:
    """Mean of the reference's seven normalized similarities (ab_utils.py:115-123)."""
    from collections import Counter

    a = _encode_snippet(s1 or "")
    b = _encode_snippet(s2 or "")
    la, lb = len(a), len(b)
    mx, mn = max(la, lb), min(la, lb)
    if mx == 0:
        return 1.0
    ca, cb = Counter(a), Counter(b)
    inter = sum(min(ca[k], cb[k]) for k in ca if k in cb)
    union = sum((ca | cb).values())
    scores = [
        _hamming_nsim(a, b),
        1.0 - _damerau_levenshtein(a, b) / mx,
        _jaro(a.decode("latin-1"), b.decode("latin-1")),
        (_smith_waterman(a, b) / mn) if mn else 0.0,
        inter / union if union else 1.0,          # multiset jaccard
        1.0 - max(la - inter, lb - inter) / mx,   # bag
        (_lcs_substring_len(a, b) / mn) if mn else 0.0,
    ]
    return sum(scores) / 7.0


@F.pandas_udf(DoubleType())
def snippet_distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    av = a.fillna("").to_numpy()
    bv = b.fillna("").to_numpy()
    return pd.Series([snippet_distance_py(x, y) for x, y in zip(av, bv)])
