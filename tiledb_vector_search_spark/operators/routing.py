"""IVF probe routing: query → top-nprobe partitions.

Reference: ``partition_ivf_flat_index`` (``detail/ivf/partition.h:84-153``)
computes, per query, the ``nprobe`` nearest centroids, producing a
(partition → queries) multimap that drives partition-pruned search and IO
locality (``detail/ivf/qv.h:36-50``).

Spark-first: the routing table is a *small DataFrame* (nq × nprobe rows).
Centroids are tiny (≤10k × dims — reference caps partitions at 10k), so the
routing computation is a driver-side numpy argpartition; the result is
broadcast into the partition-pruned join.  The Parquet ``partition_id``
directory layout makes the pruning a file-listing operation — the Spark
analogue of the reference's CSR-offset slicing (SURVEY §1.3).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from tiledb_vector_search_spark.session import small_df


def route_queries(
    qids: np.ndarray,
    qmat: np.ndarray,
    centroids: np.ndarray,
    nprobe: int,
) -> list[tuple[int, int]]:
    """(query_id, partition_id) pairs for the nprobe nearest centroids.

    Deterministic: ties broken by partition id (stable argsort on
    (distance, partition)).
    """
    from tiledb_vector_search_spark.functions.distance import DistanceMetric
    from tiledb_vector_search_spark.operators.knn import _kernel_distances

    nprobe = min(nprobe, centroids.shape[0])
    # the engine's one BLAS sq-L2 expansion (knn.py); its clamp at 0
    # only moves exact-hit values of ~-1e-16 to 0, where the stable
    # argsort's index order is the documented partition-id tie-break
    d = _kernel_distances(qmat, centroids, DistanceMetric.SUM_OF_SQUARES)
    pairs: list[tuple[int, int]] = []
    for qi, row in zip(qids, d):
        top = np.argsort(row, kind="stable")[:nprobe]
        pairs.extend((int(qi), int(p)) for p in top)
    return pairs


def queries_by_partition(pairs: list[tuple[int, int]]) -> dict[int, list[int]]:
    """partition_id → [query ids routed to it, in routing order]."""
    groups: dict[int, list[int]] = {}
    for qid, pid in pairs:
        groups.setdefault(pid, []).append(qid)
    return groups


def routing_table(
    spark: SparkSession,
    qids: np.ndarray,
    qmat: np.ndarray,
    centroids: np.ndarray,
    nprobe: int,
) -> DataFrame:
    pairs = route_queries(qids, qmat, centroids, nprobe)
    return small_df(spark, pairs, "query_id long, partition_id int")


def routing_table_join(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    query_id_col: str = "query_id",
    vector_col: str = "vector",
) -> DataFrame:
    """Distributed routing: queries × broadcast(centroids) → rank ≤ nprobe.

    The scale path when the query batch itself is large (the reference's
    small-query contract doesn't hold): no driver collect — routing is a
    broadcast nested-loop + WindowGroupLimit, fully distributed.
    """
    from pyspark.sql import functions as F

    from tiledb_vector_search_spark.functions.distance import (
        DistanceMetric,
        distance_expr,
    )
    from tiledb_vector_search_spark.operators.topk import topk_window

    spark = queries.sparkSession
    nprobe = min(nprobe, centroids.shape[0])
    cdf = small_df(
        spark,
        [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
        "partition_id int, centroid array<double>",
    )
    scored = queries.select(query_id_col, vector_col).crossJoin(
        F.broadcast(cdf)
    ).select(
        query_id_col,
        "partition_id",
        distance_expr(vector_col, "centroid", DistanceMetric.SUM_OF_SQUARES).alias(
            "__d"
        ),
    )
    return topk_window(
        scored,
        [query_id_col],
        [F.col("__d").asc(), F.col("partition_id").asc()],
        nprobe,
    ).select(query_id_col, "partition_id")

