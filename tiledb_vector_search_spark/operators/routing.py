"""IVF probe routing: query → top-nprobe partitions.

Reference: ``partition_ivf_flat_index`` (``detail/ivf/partition.h:84-153``)
computes, per query, the ``nprobe`` nearest centroids, producing a
(partition → queries) multimap that drives partition-pruned search and IO
locality (``detail/ivf/qv.h:36-50``).

Spark-first: centroids are tiny (≤10k × dims — reference caps partitions
at 10k), so routing is one numpy function, :func:`route_queries`, run
wherever the queries are.  A small batch is collected and routed on the
driver, and the (partition → queries) map is broadcast into the
partition-pruned scan; the Parquet ``partition_id`` directory layout makes
the pruning a file-listing operation — the Spark analogue of the
reference's CSR-offset slicing (SURVEY §1.3).  A large batch is routed
batch by batch on the executors (:func:`routing_table_join`) and reaches
its partitions through a shuffle on ``partition_id``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


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
    top = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
    return list(
        zip(
            np.repeat(np.asarray(qids, dtype=np.int64), top.shape[1]).tolist(),
            top.ravel().tolist(),
        )
    )


def queries_by_partition(pairs: list[tuple[int, int]]) -> dict[int, list[int]]:
    """partition_id → [query ids routed to it, in routing order]."""
    groups: dict[int, list[int]] = {}
    for qid, pid in pairs:
        groups.setdefault(pid, []).append(qid)
    return groups


def routing_table_join(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    query_id_col: str = "query_id",
    vector_col: str = "vector",
) -> DataFrame:
    """Distributed routing: (partition_id, query id, query vector) rows,
    one per probed partition of each query.

    The scale path when the query batch itself is large (the reference's
    small-query contract doesn't hold): no driver collect.  Each query
    batch runs :func:`route_queries` against the broadcast centroids, so
    this plan and the driver-routed one make the same probe decisions.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = queries.sparkSession
    q = queries.select(query_id_col, vector_col)
    schema = StructType(
        [StructField("partition_id", IntegerType(), False)] + q.schema.fields
    )
    bc = spark.sparkContext.broadcast(centroids)

    def route(batches):
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qmat = np.array(list(pdf[vector_col]), dtype=np.float64)
            pos, pid = np.array(
                route_queries(np.arange(len(pdf)), qmat, cents, nprobe),
                dtype=np.int64,
            ).reshape(-1, 2).T
            out = pdf.iloc[pos].reset_index(drop=True)
            out.insert(0, "partition_id", pid.astype(np.int32))
            yield out

    return q.mapInPandas(route, schema=schema)
