"""Property tests for the numpy kernels (hypothesis, no Spark session).

SURVEY §5: "property tests for distance UDFs against numpy".  These pin the
kernel strategies' math against naive definitions and the deterministic
tie-break contract."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from tiledb_vector_search_spark.functions.distance import DistanceMetric
from tiledb_vector_search_spark.ml.kmeans import kmeans_numpy
from tiledb_vector_search_spark.operators.knn import (
    _kernel_distances,
    block_topk,
    paired_sum_of_squares,
    partial_topk_idx,
)
from tiledb_vector_search_spark.operators.topk import topk_merge

finite = st.floats(-100, 100, allow_nan=False, width=32)


def _mats(draw, max_n=8, max_d=6):
    nq = draw(st.integers(1, max_n))
    nb = draw(st.integers(1, max_n))
    d = draw(st.integers(1, max_d))
    q = draw(arrays(np.float64, (nq, d), elements=finite))
    x = draw(arrays(np.float64, (nb, d), elements=finite))
    return q, x


@st.composite
def qx(draw):
    return _mats(draw)


@settings(max_examples=60, deadline=None)
@given(qx())
def test_sum_of_squares_matches_naive(pair):
    q, x = pair
    got = _kernel_distances(q, x, DistanceMetric.SUM_OF_SQUARES)
    want = np.array([[np.sum((a - b) ** 2) for b in x] for a in q])
    np.testing.assert_allclose(got, want, rtol=1e-8, atol=1e-6)


@settings(max_examples=60, deadline=None)
@given(qx())
def test_l2_is_sqrt_sos(pair):
    q, x = pair
    got = _kernel_distances(q, x, DistanceMetric.L2)
    sos = _kernel_distances(q, x, DistanceMetric.SUM_OF_SQUARES)
    np.testing.assert_allclose(got, np.sqrt(sos), rtol=1e-8, atol=1e-6)
    assert (got >= 0).all()


@settings(max_examples=60, deadline=None)
@given(qx())
def test_inner_product_matches_naive(pair):
    q, x = pair
    got = _kernel_distances(q, x, DistanceMetric.INNER_PRODUCT)
    np.testing.assert_allclose(got, q @ x.T, rtol=1e-8, atol=1e-6)


@settings(max_examples=60, deadline=None)
@given(qx())
def test_cosine_bounded_and_zero_safe(pair):
    q, x = pair
    got = _kernel_distances(q, x, DistanceMetric.COSINE)
    assert np.isfinite(got).all()  # zero vectors must not produce NaN
    assert (got >= -1e-9).all() and (got <= 2 + 1e-9).all()


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_partial_topk_deterministic_ties(data):
    """partial_topk_idx must pick exactly the (value, id)-lexicographic
    smallest k, regardless of argpartition's arbitrary tie choices."""
    nq = data.draw(st.integers(1, 4))
    nb = data.draw(st.integers(1, 12))
    k = data.draw(st.integers(1, nb))
    # few distinct values → dense ties
    vals = data.draw(
        arrays(np.float64, (nq, nb), elements=st.sampled_from([0.0, 1.0, 2.0]))
    )
    ids = np.array(data.draw(st.permutations(range(nb))), dtype=np.int64)
    idx = partial_topk_idx(vals.copy(), ids, k)
    for qi in range(nq):
        got = sorted(zip(vals[qi][idx[qi]], ids[idx[qi]]))
        want = sorted(zip(vals[qi], ids))[:k]
        assert got == want


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_kmeans_numpy_invariants(data):
    n = data.draw(st.integers(4, 40))
    d = data.draw(st.integers(1, 5))
    k = data.draw(st.integers(1, 8))
    x = data.draw(
        arrays(np.float64, (n, d), elements=st.floats(-10, 10, allow_nan=False))
    )
    for init in ("random", "k-means++"):
        c = kmeans_numpy(x, k, seed=1, init=init)
        assert c.shape == (min(k, n), d)
        assert np.isfinite(c).all()
        # centroids live in the data's bounding box
        assert (c >= x.min(axis=0) - 1e-9).all()
        assert (c <= x.max(axis=0) + 1e-9).all()


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_block_topk_matches_lexsort_reference(data):
    """block_topk keeps, per query, the k best (distance, id) pairs of the
    kernel distance matrix — best = smallest, largest for inner product —
    for every metric, with ties forced by duplicated vectors."""
    metric = data.draw(st.sampled_from(list(DistanceMetric)))
    nq = data.draw(st.integers(1, 4))
    d = data.draw(st.integers(1, 4))
    # few distinct coordinates + repeated rows → many exactly tied distances
    coords = st.sampled_from([-1.0, 0.0, 1.0, 2.0])
    q = data.draw(arrays(np.float64, (nq, d), elements=coords))
    n_uniq = data.draw(st.integers(1, 5))
    uniq = data.draw(arrays(np.float64, (n_uniq, d), elements=coords))
    pick = st.lists(st.integers(0, n_uniq - 1), min_size=1, max_size=12)
    x = uniq[data.draw(pick)]
    ids = np.array(
        data.draw(st.permutations(range(100, 100 + len(x)))), dtype=np.int64
    )
    k = data.draw(st.integers(1, len(x) + 2))
    rows, got_i, got_d = block_topk(q, x, ids, k, metric)
    dm = _kernel_distances(q, x, metric)
    key = -dm if metric is DistanceMetric.INNER_PRODUCT else dm
    for r in range(nq):
        want = np.lexsort((ids, key[r]))[: min(k, len(x))]
        sel = rows == r
        assert sorted(zip(got_i[sel].tolist(), got_d[sel].tolist())) == sorted(
            zip(ids[want].tolist(), dm[r][want].tolist())
        )


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_topk_merge_matches_dict_min_reference(data):
    """The TVF's array merge equals a per-query dict-min over (query, id)
    followed by sorted() and the first k — duplicate (query, id) pairs
    with different distances included."""
    n = data.draw(st.integers(0, 30))

    def column(elements, dtype):
        values = st.lists(elements, min_size=n, max_size=n)
        return np.array(data.draw(values), dtype=dtype)

    rows = column(st.integers(0, 3), np.int64)
    ids = column(st.integers(0, 6), np.int64)
    dists = column(st.sampled_from([0.0, 0.5, 1.0, 1.5]), np.float64)
    k = data.draw(st.integers(1, 5))
    ascending = data.draw(st.booleans())
    merged = topk_merge(rows, ids, dists, k, ascending)
    got = list(zip(*(a.tolist() for a in merged)))
    sign = 1.0 if ascending else -1.0
    want = []
    for r in sorted(set(rows.tolist())):
        best: dict[int, float] = {}
        for rr, i, dv in zip(rows.tolist(), ids.tolist(), dists.tolist()):
            if rr == r and (i not in best or sign * dv < sign * best[i]):
                best[i] = dv
        ranked = sorted(best.items(), key=lambda e: (sign * e[1], e[0]))[:k]
        want += [(r, i, dv, rank) for rank, (i, dv) in enumerate(ranked, 1)]
    assert got == want


@settings(max_examples=60, deadline=None)
@given(qx())
def test_paired_sum_of_squares_is_a_left_fold(pair):
    """The numpy re-rank distance equals distance_expr's left-to-right
    aggregate() fold exactly, not just to a tolerance."""
    q, x = pair
    n = min(len(q), len(x))
    got = paired_sum_of_squares(q[:n], x[:n])
    for a, b, g in zip(q[:n], x[:n], got):
        acc = 0.0
        for ai, bi in zip(a.tolist(), b.tolist()):
            acc = acc + (ai - bi) * (ai - bi)
        assert g == acc
