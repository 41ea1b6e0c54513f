"""Hypothesis property tests for the Spark-free deterministic kernels."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


def _osa_slow(a: str, b: str) -> int:
    """Independent memoized-recursive OSA implementation (the textbook
    recurrence) — checks the rolling-row DP in kgspark.link."""
    from functools import lru_cache

    @lru_cache(maxsize=None)
    def d(i: int, j: int) -> int:
        if i == 0:
            return j
        if j == 0:
            return i
        best = min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                   d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))
        if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
            best = min(best, d(i - 2, j - 2) + 1)
        return best

    return d(len(a), len(b))


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abc", max_size=7), st.text(alphabet="abc", max_size=7))
def test_osa_distance_matches_textbook_recurrence(x, y):
    from kgspark.link import osa_distance

    assert osa_distance(x, y) == _osa_slow(x, y)
    assert osa_distance(x, y) == osa_distance(y, x)  # symmetry
    assert (osa_distance(x, y) == 0) == (x == y)


@settings(max_examples=100, deadline=None)
@given(st.integers(2, 40), st.integers(1, 12), st.integers(0, 10**6))
def test_chi2_topk_selects_highest_scores(n_rows, n_feats, seed):
    import numpy as np

    from kgspark.patybred import _chi2_topk

    rng = np.random.RandomState(seed % 2**31)
    X = (rng.rand(n_rows, n_feats) < 0.4).astype(float)
    y = (rng.rand(n_rows) < 0.5).astype(float)
    names = [f"f{i:03d}" for i in range(n_feats)]
    k = max(1, n_feats // 2)
    keep = _chi2_topk(X, y, names, k)
    assert keep == sorted(set(keep))
    assert len(keep) == min(k, n_feats)
    # recompute scores independently (pandas) and check dominance:
    # every kept feature's (score, -name) >= every dropped feature's
    p1 = y.mean()
    tot = X.sum(axis=0)
    obs1 = X[y == 1].sum(axis=0)
    obs0 = tot - obs1
    exp1, exp0 = tot * p1, tot * (1 - p1)

    def score(j):
        s = 0.0
        if exp0[j] > 0:
            s += (obs0[j] - exp0[j]) ** 2 / exp0[j]
        if exp1[j] > 0:
            s += (obs1[j] - exp1[j]) ** 2 / exp1[j]
        return s

    dropped = [j for j in range(n_feats) if j not in set(keep)]
    if dropped:
        worst_kept = min((score(j), [-ord(c) for c in names[j]])
                        for j in keep)
        best_drop = max((score(j), [-ord(c) for c in names[j]])
                       for j in dropped)
        assert worst_kept >= best_drop


@settings(max_examples=60, deadline=None)
@given(st.lists(st.floats(0, 1, allow_nan=False, width=32),
                min_size=2, max_size=64),
       st.integers(0, 50))
def test_isolation_tree_leaves_tile_the_line(vals, p):
    """Every deterministic isolation tree must partition the real line:
    leaves sorted by lo are contiguous (-inf … +inf), non-overlapping,
    with non-negative path lengths — so the interval-join evaluation
    matches exactly one leaf per tree for ANY score."""
    from kgspark.evalops import IF_TREES, _if_trees

    vals = [float(v) for v in vals]
    rows, cn = _if_trees(p, vals, n_trees=4)
    assert cn >= 0.0
    by_tree: dict[int, list] = {}
    for t, lo, hi, h in rows:
        by_tree.setdefault(t, []).append((lo, hi, h))
    assert set(by_tree) == set(range(4))
    for leaves in by_tree.values():
        leaves.sort()
        assert leaves[0][0] == float("-inf")
        assert leaves[-1][1] == float("inf")
        for (lo, hi, h), (lo2, hi2, h2) in zip(leaves, leaves[1:]):
            assert hi == lo2  # contiguous, non-overlapping
        assert all(h >= 0 for _, _, h in leaves)


@st.composite
def _delete_variant_pairs(draw):
    """Two names that share a distance-1 delete variant, the only pairs
    correct.name_candidates blocks: each is the shared variant with at
    most one character inserted."""
    v = draw(st.text(alphabet="abc", max_size=6))

    def grow():
        if not draw(st.booleans()):
            return v
        i = draw(st.integers(0, len(v)))
        return v[:i] + draw(st.sampled_from("abc")) + v[i:]

    return grow(), grow()


@settings(max_examples=25, deadline=None)
@given(st.lists(_delete_variant_pairs(), min_size=1, max_size=40))
def test_osa_within2_matches_osa_on_blocked_pairs(spark, pairs):
    from kgspark.correct import osa_within2
    from kgspark.link import osa_distance

    # plus fixed adjacent-swap cases, so every example covers the OSA=1,
    # Levenshtein=2 branch
    pairs = pairs + [("ab", "ba"), ("abc", "acb"), ("cab", "acb")]
    got = spark.createDataFrame(pairs, "na string, nb string") \
        .select("na", "nb", osa_within2("na", "nb").alias("d")).collect()
    assert [(r["na"], r["nb"], r["d"]) for r in got] \
        == [(a, b, osa_distance(a, b)) for a, b in pairs]
