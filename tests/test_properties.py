"""Property-based checks (hypothesis) for the engine's core kernels.

The golden tests pin reference-translated values; these pin ALGEBRAIC
contracts on randomized inputs — the class of bug a fixed golden can miss
(an off-by-one that happens to agree on the golden input, a tie broken
differently on shapes the golden never exercises).

Spark-backed properties use few examples (a Spark round-trip per example);
pure-numpy kernel properties run at full hypothesis volume.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------- pure kernels


def _dense_union_find(n: int, edges: list[tuple[int, int]]) -> list[int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labeling, matching connected_components' contract
    return [find(i) for i in range(n)]


# unsorted, with repeated ids: the producers emit each row's ids unique and
# ascending, but the kernel must also be right for any other order
term_lists = st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=12)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(term_lists, min_size=1, max_size=8),
    st.lists(term_lists, min_size=1, max_size=8),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_cosine_jaccard_kernel_matches_dense(score_pairs, tas, tbs, canonical, rng):
    """The Arrow pair-scoring core (composite-key intersect) must agree with a
    direct dense computation of dot product and distinct-set jaccard, where a
    term id repeated within a row counts once with its weights summed."""
    n = min(len(tas), len(tbs))
    tas, tbs = tas[:n], tbs[:n]
    if canonical:  # the TF-IDF producers' shape: the kernel's strictly-increasing path
        tas = [sorted(set(t)) for t in tas]
        tbs = [sorted(set(t)) for t in tbs]
    was = [[round(rng.uniform(0.1, 2.0), 3) for _ in t] for t in tas]
    wbs = [[round(rng.uniform(0.1, 2.0), 3) for _ in t] for t in tbs]
    dots, jacs = score_pairs(tas, was, tbs, wbs)
    for i in range(n):
        wa: dict[int, float] = {}
        wb: dict[int, float] = {}
        for t, w in zip(tas[i], was[i]):
            wa[t] = wa.get(t, 0.0) + w
        for t, w in zip(tbs[i], wbs[i]):
            wb[t] = wb.get(t, 0.0) + w
        inter = set(tas[i]) & set(tbs[i])
        union = set(tas[i]) | set(tbs[i])
        want_dot = sum(wa[t] * wb[t] for t in inter)
        want_jac = (len(inter) / len(union)) if union else 0.0
        assert dots[i] == pytest.approx(want_dot, abs=1e-9)
        assert jacs[i] == pytest.approx(want_jac, abs=1e-9)


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=9).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(  # negative edges
                st.tuples(
                    st.integers(0, n - 1), st.integers(0, n - 1)
                ).filter(lambda p: p[0] != p[1]),
                max_size=12,
            ),
            st.lists(  # positive edges with weights
                st.tuples(
                    st.integers(0, n - 1),
                    st.integers(0, n - 1),
                    st.floats(0.1, 1.0, allow_nan=False),
                ).filter(lambda p: p[0] != p[1]),
                max_size=12,
            ),
        )
    )
)
def test_greedy_colouring_is_proper(case):
    """colour_component must (a) assign every record a colour and (b) never put
    two negative-edge endpoints in the same colour class — the splitter's
    entire correctness contract (reference common.py:130-178)."""
    from entity_resolution_spark.operators.coloring import colour_component

    n, neg, pos = case
    ids = [f"r{i:02d}" for i in range(n)]
    colours = colour_component(ids, pos, neg)
    assert len(colours) == n
    assert all(c >= 0 for c in colours)
    for i, j in neg:
        assert colours[i] != colours[j], (colours, neg)


# -------------------------------------------------------------- Spark-backed


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Both CC strategies label with the component's min id; compare against a
    driver-side union-find on random multigraphs (self-loops dropped, like the
    operator does)."""
    from entity_resolution_spark.operators.components import connected_components

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src: long, dst: long"
    )
    got = {
        int(r["id"]): int(r["component"])
        for r in connected_components(df).collect()
    }
    want_all = _dense_union_find(15, [p for p in edges if p[0] != p[1]])
    touched = {a for p in edges if p[0] != p[1] for a in p}
    want = {i: want_all[i] for i in touched}
    assert got == want


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
        min_size=2,
        max_size=10,
    )
)
def test_ppjoin_matches_bruteforce_jaccard(spark, docs):
    """The prefix-filtered AllPairs join is provably lossless — verify the
    output pair set equals the O(n²) definition on random token multisets."""
    from entity_resolution_spark.operators.dedup import jaccard_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            df, "doc_id", "text", block_col=None, threshold=0.5, ngram=1
        ).collect()
    }
    sets = [frozenset(t for t in toks if t) for toks in docs]
    want = set()
    for i, j in itertools.combinations(range(len(docs)), 2):
        a, b = sets[i], sets[j]
        if not a or not b:
            continue
        jac = len(a & b) / len(a | b)
        if jac >= 0.5:
            want.add((min(i, j), max(i, j)))
    got_norm = {(min(a, b), max(a, b)) for a, b in got}
    assert got_norm == want
