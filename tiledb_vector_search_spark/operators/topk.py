"""Per-group top-k — the engine's core reduction.

The reference's central data structure is ``fixed_min_pair_heap``, a bounded
max-heap keeping the k smallest (score, id) pairs
(``src/include/utils/fixed_min_heap.h:302-441``); every query path reduces
through it.  Spark-first re-expression (SURVEY §2.5):

- :func:`topk_window` — the declarative form: rank window + filter.  One
  shuffle on the group key; Catalyst plans a WindowGroupLimit (Spark ≥3.5
  pushes ``rank <= k`` below the window, so only k rows per group survive
  each task before the shuffle) — this is the partial+final top-k the
  reference hand-rolls when merging distributed results
  (``ivf_flat_index.py:506-525``).

Tie-breaking: (value, id) lexicographic, deterministic — the reference's heap
insertion order is not (SURVEY §7 risk 3), so equality tests compare sets;
our ordering is reproducible and matches the DuckDB oracle's ORDER BY.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_window(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the top-k rows per group under a total order.

    ``order_cols`` must be a *total* order (include an id tiebreaker) for
    deterministic results.  Spark ≥3.5 rewrites this to WindowGroupLimit:
    each map task keeps only k rows per group before the shuffle, so shuffle
    volume is O(groups·k), not O(rows) — the same partial/final split as the
    reference's per-worker heaps + driver merge.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def topk_merge(
    rows: np.ndarray,
    ids: np.ndarray,
    dists: np.ndarray,
    k: int,
    ascending: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """numpy twin of ``groupBy(query, id).min(distance)`` followed by
    :func:`topk_window`, over flat candidate arrays.

    Keeps each (row, id) pair's best distance, orders each row by
    (distance, id) — distance descending when not ``ascending``, for
    inner-product scores — and keeps the first ``k``.  Returns (row, id,
    distance, rank) sorted by (row, rank), rank 1..k.
    """
    key = dists if ascending else -dists
    o = np.lexsort((key, ids, rows))
    # the first row of each (row, id) run holds its best distance
    r, i = rows[o], ids[o]
    first = np.ones(len(o), dtype=bool)
    first[1:] = (r[1:] != r[:-1]) | (i[1:] != i[:-1])
    o = o[first]
    o = o[np.lexsort((ids[o], key[o], rows[o]))]
    rank = np.arange(1, len(o) + 1) - np.searchsorted(rows[o], rows[o])
    top = rank <= k
    o = o[top]
    return rows[o], ids[o], dists[o], rank[top]


def pad_to_k(
    results: DataFrame,
    queries: DataFrame,
    k: int,
    query_col: str = "query_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Guarantee exactly k rows per query, null-padded.

    The reference pads short result sets with sentinel
    ``(MAX_FLOAT32, MAX_UINT64)`` pairs (``index.py:346-350``,
    ``ivf_flat_index.py:520-522``); per SURVEY §1.3 the sentinels become
    SQL nulls.  Implemented as a left join of the (query × rank 1..k) grid —
    the grid is nq·k rows, always tiny.
    """
    grid = (
        queries.select(query_col)
        .distinct()
        .select(
            query_col,
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias(rank_col),
        )
    )
    value_cols = [c for c in results.columns if c not in (query_col, rank_col)]
    padded = grid.join(results, [query_col, rank_col], "left")
    return padded.select(query_col, *value_cols, rank_col)
