"""Reference-named module-level API, mapped onto the Spark-native engine.

The reference exports C++ kernel bindings at module level
(``module.py:60-505``: ``load_as_array``, ``query_vq_nth``,
``query_vq_heap``, ``ivf_query``, ``partition_ivf_index``,
``validate_top_k``) alongside the index classes.  A user switching from the
reference reaches for these names; each maps here onto the engine's
existing machinery — numpy for the driver-side array forms (the reference's
matrices are in-RAM objects too), the distributed DataFrame plans for
everything index-shaped.

Import-parity shims (so reference scripts import-and-run unchanged):
``Mode`` (cloud-DAG scheduling enum — accepted, Spark's scheduler replaces
the DAG; LOCAL ≡ this process, REALTIME/BATCH ≡ cluster deploy choices),
``load_as_matrix``/``array_to_matrix`` (the reference's col-major Matrix
class ↔ Fortran-order numpy; Arrow subsumes the zero-copy role),
``ivf_index_tdb`` (stored-source IVF build: URI in, URI out), and
``storage_formats`` (layout-name/feature table keyed by storage version,
describing THIS engine's parquet layout — ``storage_formats.py:3-48``
shape parity).
"""

from __future__ import annotations

import enum
from typing import Any

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledb_vector_search_spark.functions.distance import DistanceMetric
from tiledb_vector_search_spark.operators.knn import block_topk
from tiledb_vector_search_spark.operators.routing import route_queries
from tiledb_vector_search_spark.schemas import ID_COL, VECTOR_COL
from tiledb_vector_search_spark.storage import STORAGE_VERSION  # noqa: F401

__all__ = [
    "load_as_array",
    "load_as_matrix",
    "array_to_matrix",
    "query_vq_nth",
    "query_vq_heap",
    "ivf_query",
    "ivf_query_ram",
    "ivf_index",
    "ivf_index_tdb",
    "partition_ivf_index",
    "validate_top_k",
    "Mode",
    "STORAGE_VERSION",
    "storage_formats",
]


class Mode(enum.Enum):
    """Execution-mode enum accepted for reference signature parity
    (``tiledb.cloud.dag.Mode`` — LOCAL / REALTIME / BATCH).  The reference
    uses it to pick a cloud-DAG scheduler; here every plan is a Spark job,
    so LOCAL means this session and REALTIME/BATCH are deployment choices
    of the cluster the session points at.  APIs accept and record it; no
    code path branches on it."""

    LOCAL = "LOCAL"
    REALTIME = "REALTIME"
    BATCH = "BATCH"


# Layout-name/feature table for THIS engine's parquet group layout, shape-
# compatible with reference ``storage_formats.py:3-48`` (keys preserved
# where the concept carries over; values name our artifacts).
storage_formats: dict[str, dict[str, Any]] = {
    STORAGE_VERSION: {
        "CENTROIDS_ARRAY_NAME": "centroids.parquet",
        "INDEX_ARRAY_NAME": "meta.json",
        "IDS_ARRAY_NAME": "base.parquet:id",
        "PARTS_ARRAY_NAME": "base.parquet:vector",
        "INPUT_VECTORS_ARRAY_NAME": "source",
        "TRAINING_INPUT_VECTORS_ARRAY_NAME": "training_sample",
        "EXTERNAL_IDS_ARRAY_NAME": "base.parquet:id",
        "PARTIAL_WRITE_ARRAY_DIR": "_tmp",
        "DEFAULT_ATTR_FILTERS": "snappy",
        "UPDATES_ARRAY_NAME": "updates",
        "OBJECT_METADATA_ARRAY_NAME": "object_metadata.parquet",
        "SUPPORT_TIMETRAVEL": True,
    }
}


def load_as_array(
    source: DataFrame | str,
    spark: SparkSession | None = None,
    size: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, matrix) from a vectors DataFrame or parquet path, sorted by id
    (reference ``load_as_array``, ``module.py:60-86`` — a bounded driver
    materialization there too; ``size`` caps rows like the reference's).
    """
    if isinstance(source, str):
        if spark is None:
            raise ValueError("pass spark= when loading from a path")
        df = spark.read.parquet(source)
    else:
        df = source
    cols = df.columns
    id_col = ID_COL if ID_COL in cols else cols[0]
    vec_col = VECTOR_COL if VECTOR_COL in cols else cols[1]
    q = df.select(F.col(id_col), F.col(vec_col)).orderBy(id_col)
    if size is not None:
        q = q.limit(size)
    rows = q.collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def load_as_matrix(
    path: str,
    spark: SparkSession | None = None,
    size: int | None = None,
    **_: Any,
) -> np.ndarray:
    """Reference ``load_as_matrix`` (``module.py:10-57``) — the col-major
    Matrix form: (dims × n) Fortran-order ndarray (each column one vector).
    ``load_as_array`` is the row-major (ids, matrix) form."""
    _, mat = load_as_array(path, spark=spark, size=size)
    return np.asfortranarray(mat.T)


def array_to_matrix(array: np.ndarray) -> np.ndarray:
    """Reference ``array_to_matrix`` (``module.py:493-505``) — numpy →
    col-major Matrix handle for the C++ kernels.  Arrow/numpy subsume the
    class here; this validates the same dtype set and returns the
    Fortran-order view the kernels would have received."""
    supported = (np.float32, np.float64, np.uint8, np.int8, np.int32, np.uint64)
    if not any(array.dtype == np.dtype(t) for t in supported):
        raise TypeError(f"Unsupported dtype {array.dtype}")
    return np.asfortranarray(array)


def ivf_index_tdb(
    spark: SparkSession,
    uri: str,
    db_uri: str,
    partitions: int | None = None,
    **kw: Any,
):
    """Stored-source IVF build (reference ``ivf_index_tdb``,
    ``module.py:166-230`` — URIs in, index out): reads the vectors from
    ``db_uri`` (parquet, or any format ``sources`` autodetects) and
    delegates to :func:`ivf_index`."""
    from tiledb_vector_search_spark.sources.vecs import read_vectors

    external_ids_uri = kw.pop("external_ids_uri", None)
    source = read_vectors(spark, db_uri, external_ids_uri=external_ids_uri)
    return ivf_index(spark, uri, source, partitions=partitions, **kw)


def _vq(db: np.ndarray, db_ids: np.ndarray, q: np.ndarray, k: int):
    rows, ids, d = block_topk(q, db, db_ids, k, DistanceMetric.SUM_OF_SQUARES)
    # partial selection is unordered — order each row by (distance, id)
    o = np.lexsort((ids, d, rows))
    keep = min(k, db.shape[0])
    return np.sqrt(d[o]).reshape(-1, keep), ids[o].reshape(-1, keep)


def query_vq_nth(
    db: np.ndarray, db_ids: np.ndarray, queries: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force L2 top-k over in-RAM arrays → (distances, ids), each
    (nq, k) (reference ``query_vq_nth``, ``module.py:103-121`` —
    nth_element selection).  Selection strategy is an implementation detail
    here: ``partial_topk_idx`` is argpartition (the nth_element analogue)
    with deterministic (distance, id) ties."""
    return _vq(np.asarray(db, float), np.asarray(db_ids), np.asarray(queries, float), k)


def query_vq_heap(
    db: np.ndarray, db_ids: np.ndarray, queries: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Reference ``query_vq_heap`` (``module.py:123-141``) — same contract
    as :func:`query_vq_nth`; the heap-vs-nth distinction is a C++ kernel
    implementation detail with identical results."""
    return query_vq_nth(db, db_ids, queries, k)


def partition_ivf_index(
    centroids: np.ndarray, queries: np.ndarray, nprobe: int = 1
) -> list[tuple[int, int]]:
    """(query_pos, partition) probe routing (reference
    ``partition_ivf_index``, ``module.py:445-460``)."""
    qids = np.arange(np.asarray(queries).shape[0], dtype=np.int64)
    return route_queries(
        qids, np.asarray(queries, float), np.asarray(centroids, float), nprobe
    )


def ivf_index(
    spark: SparkSession,
    uri: str,
    source: DataFrame,
    partitions: int | None = None,
    **kw: Any,
):
    """Standalone IVF build (reference ``ivf_index``, ``module.py:380-430``)
    — wraps :meth:`IVFFlatIndex.ingest`."""
    from tiledb_vector_search_spark.indexes import IVFFlatIndex

    return IVFFlatIndex.ingest(spark, uri, source, partitions=partitions, **kw)


def ivf_query(
    index: Any, queries: DataFrame, k: int, nprobe: int | None = None, **kw: Any
) -> DataFrame:
    """Probe-routed IVF query (reference ``ivf_query``, ``module.py:262``)."""
    return index.query(queries, k, nprobe=nprobe, **kw)


def ivf_query_ram(
    index: Any, queries: DataFrame, k: int, nprobe: int | None = None, **kw: Any
) -> DataFrame:
    """Reference ``ivf_query_ram`` — the infinite-RAM variant; here the
    same plan (Spark manages memory; ``memory_budget_mb`` opts into the
    finite-RAM blocked scan instead)."""
    return index.query(queries, k, nprobe=nprobe, **kw)


def validate_top_k(result_ids: np.ndarray, ground_truth: np.ndarray) -> bool:
    """True iff each row of ``result_ids`` equals the ground-truth row as a
    SET (reference ``validate_top_k``, ``module.py:486-490``; its
    ``accuracy()`` is set-intersection based, ``common.py:312``)."""
    r = np.asarray(result_ids)
    g = np.asarray(ground_truth)
    if r.shape != g.shape:
        return False
    return all(set(r[i]) == set(g[i]) for i in range(r.shape[0]))
