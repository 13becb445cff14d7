"""Arithmetic the benchmark reports with: percentiles, geomeans, recall,
span self time.  Pure functions over plain Python / numpy values, so the
unit tests in ``test_stats.py`` pin them without a Spark session."""

from __future__ import annotations

import math

import numpy as np

# a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic that still has
    ``min_beyond`` samples above it.

    With n sorted samples, index i has n-1-i samples beyond it, so the
    highest admissible index is n-1-min_beyond and its percentile is
    100·i/(n-1).  When that percentile would not exceed the median (fewer
    than 2·min_beyond+1 samples), the median is returned with percentile
    50, so the record shows that no tail was measurable."""
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    if n <= 2 * min_beyond:
        return median(s), 50.0
    i = n - 1 - min_beyond
    return s[i], 100.0 * i / (n - 1)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values; a non-positive value raises,
    because it would make every geomean it enters meaningless."""
    if not values:
        raise ValueError("geomean of no values")
    for v in values:
        if not v > 0:
            raise ValueError(f"geomean needs positive values, got {v!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def sq_distances(queries: np.ndarray, corpus: np.ndarray) -> np.ndarray:
    """(nq, n) squared L2 distances, computed in float64."""
    q = queries.astype(np.float64)
    x = corpus.astype(np.float64)
    d = (q * q).sum(1)[:, None] - 2.0 * q @ x.T + (x * x).sum(1)[None, :]
    return np.maximum(d, 0.0)


def knn_truth(queries: np.ndarray, corpus: np.ndarray, ids: np.ndarray, k: int):
    """Brute-force (ids, distances) of each query's k nearest rows, with
    the k-th distance kept so recall can treat ties as interchangeable."""
    d = sq_distances(queries, corpus)
    k = min(k, d.shape[1])
    part = np.argpartition(d, k - 1, axis=1)[:, :k]
    pd = np.take_along_axis(d, part, 1)
    order = np.argsort(pd, axis=1, kind="stable")
    idx = np.take_along_axis(part, order, 1)
    return ids[idx], np.take_along_axis(d, idx, 1)


def tie_tolerant_recall(
    returned: list[list[int]],
    kth_dist: np.ndarray,
    dist_of,
    k: int,
    rel_tol: float = 1e-5,
) -> float:
    """Mean over queries of |hits| / k, where a returned id is a hit when
    its true distance is within the query's true k-th distance.

    Counting by distance instead of by id set makes ties interchangeable:
    an index may return any of several rows equidistant at rank k.
    ``dist_of(q, id)`` gives the true distance of ``id`` to query ``q``
    (``None`` for an id not in the corpus, which never counts)."""
    if len(returned) != len(kth_dist):
        raise ValueError("one result list per query required")
    total = 0.0
    for q, ids in enumerate(returned):
        lim = float(kth_dist[q])
        lim = lim + rel_tol * max(abs(lim), 1.0)
        hits = 0
        for i in dict.fromkeys(ids):  # a repeated id counts once
            d = dist_of(q, i)
            if d is not None and d <= lim:
                hits += 1
        total += min(hits, k) / k
    return total / len(returned)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.

    Children may overlap each other (the library submits writes from
    two-thread pools, so two child spans run at once); the covered part
    is the union of their intervals clipped to the parent, never the sum
    of their durations."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return max(0.0, (end - start) - union_length(clipped))
