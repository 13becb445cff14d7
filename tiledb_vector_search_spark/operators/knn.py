"""Brute-force k-NN plans — the FLAT query path.

Reference: ``query_vq_heap`` → ``detail/flat/vq.h:62-163`` /
``detail/flat/qv.h:138-279`` — a cartesian product of queries × vectors with
a per-pair distance, reduced to top-k per query via per-thread bounded heaps.

Two Spark-first physical strategies, one logical semantics:

- ``strategy="expr"``: ``vectors.crossJoin(broadcast(queries))`` + a native
  Catalyst distance expression + window top-k.  Whole-stage codegen, zero
  Python; exact reproducible doubles (matches the DuckDB oracle bit-for-bit).
  Right choice when the candidate set is bounded (post-IVF-routing, re-rank)
  or the vector count is modest.

- ``strategy="kernel"``: the scale path and the AVX/BLAS analogue (SURVEY
  §4).  Queries are broadcast as a numpy matrix; ``mapInPandas`` over the
  vectors computes a BLAS distance matrix per Arrow batch and emits only the
  per-batch top-k — so the shuffle carries O(batches · nq · k) rows instead
  of O(nb · nq).  A final window merges partial top-ks.  On 1000 executors ×
  100 TB this is a full scan + tiny shuffle; no crossJoin materialization.

Queries are data (a small DataFrame), never a driver loop — batching
amortizes scheduling, matching the reference's batch-query API
(``index.py:270-271``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiledb_vector_search_spark.functions.distance import (
    DistanceMetric,
    distance_expr,
)
from tiledb_vector_search_spark.operators.topk import topk_window
from tiledb_vector_search_spark.schemas import (
    DISTANCE_COL,
    ID_COL,
    QUERY_ID_COL,
    VECTOR_COL,
)

_KNN_PAIR_SCHEMA = (
    f"{QUERY_ID_COL} long, {ID_COL} long, {DISTANCE_COL} double"
)

# the kernel strategy collects + broadcasts the query batch; this bound
# keeps that a driver micro-task.  The probe-routed indexes' ``auto``
# strategy takes its join plan above it, and every per-cell scorer sees at
# most this many queries at once
KERNEL_MAX_NQ = 4096


def _order(metric: DistanceMetric):
    asc = DistanceMetric(metric).ascending
    dist = F.col(DISTANCE_COL)
    return [dist.asc() if asc else dist.desc(), F.col(ID_COL).asc()]


def knn_bruteforce_expr(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: DistanceMetric | str = DistanceMetric.SUM_OF_SQUARES,
    id_col: str = ID_COL,
    vector_col: str = VECTOR_COL,
) -> DataFrame:
    """Declarative brute-force k-NN: broadcast queries, score, window top-k.

    Returns (query_id, external_id, distance, rank), rank 1..k per query.
    """
    metric = DistanceMetric(metric)
    q = queries.select(
        F.col(QUERY_ID_COL), F.col(VECTOR_COL).alias("__qvec")
    )
    pairs = vectors.select(
        F.col(id_col).alias(ID_COL), F.col(vector_col).alias("__v")
    ).crossJoin(F.broadcast(q))
    scored = pairs.select(
        QUERY_ID_COL,
        ID_COL,
        distance_expr("__qvec", "__v", metric).alias(DISTANCE_COL),
    )
    return topk_window(scored, [QUERY_ID_COL], _order(metric), k)


def _kernel_distances(
    qmat: np.ndarray, xmat: np.ndarray, metric: DistanceMetric
) -> np.ndarray:
    """(nq, nb) distance/score matrix in float64 via BLAS."""
    ip = qmat @ xmat.T
    if metric is DistanceMetric.INNER_PRODUCT:
        return ip
    if metric is DistanceMetric.COSINE:
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        xn = np.linalg.norm(xmat, axis=1, keepdims=True)
        denom = qn @ xn.T
        with np.errstate(divide="ignore", invalid="ignore"):
            return 1.0 - np.where(denom > 0, ip / denom, 0.0)
    sq = (
        np.sum(qmat * qmat, axis=1)[:, None]
        + np.sum(xmat * xmat, axis=1)[None, :]
        - 2.0 * ip
    )
    np.maximum(sq, 0.0, out=sq)
    if metric is DistanceMetric.L2:
        return np.sqrt(sq)
    return sq


def paired_sum_of_squares(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ(a_i − b_i)² of each row pair, summed left to right as
    ``distance_expr``'s ``aggregate()`` folds — bit-equal to the expr
    strategy's exact re-rank of the same pairs."""
    diff = a - b
    return np.cumsum(diff * diff, axis=1)[:, -1]


def partial_topk_idx(dmat: np.ndarray, ids: np.ndarray, keep: int) -> np.ndarray:
    """Deterministic per-row top-``keep`` column indices by (value, id) asc.

    ``argpartition`` gives the O(nb) selection; only rows whose k-th value
    ties with dropped candidates are re-selected with a lexicographic
    (value, id) sort, so per-batch survivors always match the global
    (distance, id) tie-break order the engine documents (and the oracle
    uses) — ties at the boundary no longer keep an arbitrary id.
    """
    nq = dmat.shape[0]
    idx = np.argpartition(dmat, keep - 1, axis=1)[:, :keep]
    rows = np.arange(nq)[:, None]
    kth = dmat[rows, idx].max(axis=1)
    n_le = (dmat <= kth[:, None]).sum(axis=1)
    for i in np.flatnonzero(n_le > keep):
        idx[i] = np.lexsort((ids, dmat[i]))[:keep]
    return idx


def topk_rows(
    dmat: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each row's top-``k`` of a precomputed (rows, nb) value matrix as
    flat (row position, id, value) arrays — ``partial_topk_idx`` plus the
    gather every partial top-k emitter shares."""
    keep = min(k, dmat.shape[1])
    idx = partial_topk_idx(dmat, ids, keep)
    rows = np.repeat(np.arange(dmat.shape[0]), keep)
    return rows, ids[idx.ravel()], np.take_along_axis(dmat, idx, axis=1).ravel()


def block_topk(
    qmat: np.ndarray,
    xmat: np.ndarray,
    ids: np.ndarray,
    k: int,
    metric: DistanceMetric,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Partial top-k of one scored block: (query row position, id,
    distance) flat arrays, ``k`` best per query under the (distance, id)
    order (inner product: largest score first).  The scan → score →
    partial top-k step of every numpy query kernel; a window or array
    merge of the partials gives the global top-k."""
    dmat = _kernel_distances(qmat, xmat, metric)
    if metric is DistanceMetric.INNER_PRODUCT:
        rows, out_i, out_d = topk_rows(-dmat, ids, k)
        return rows, out_i, -out_d
    return topk_rows(dmat, ids, k)


def knn_bruteforce_kernel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: DistanceMetric | str = DistanceMetric.SUM_OF_SQUARES,
    id_col: str = ID_COL,
    vector_col: str = VECTOR_COL,
    vector_dtype: str = "float32",
    expected_dims: int | None = None,
) -> DataFrame:
    """Scale-path brute-force k-NN: numpy kernel + partial top-k per batch.

    ``expected_dims``: validate the collected query batch driver-side
    (raggedness + dimensionality) with index-style errors — callers that
    know their corpus dims (FlatIndex.query) pass it instead of paying a
    separate validation aggregate job (r11 opt).

    The queries (small by contract — same asymmetry the reference exploits
    by holding them in registers, ``detail/flat/qv.h``) are collected and
    broadcast; vectors stream through ``mapInPandas``.  ``vector_dtype``
    byte variants decode a packed ``binary`` vector column in the kernel
    (reference u8/i8 dispatch ``module.py:114-121``).

    The contract is ENFORCED: more than ``KERNEL_MAX_NQ`` queries raises
    (collecting a corpus-sized batch onto the driver is the
    anti-pattern) — use :func:`knn_join` or an index query's
    ``strategy="join"`` for bulk
    dataset-vs-dataset search.
    """
    metric = DistanceMetric(metric)
    q_rows = (
        queries.select(QUERY_ID_COL, VECTOR_COL)
        .limit(KERNEL_MAX_NQ + 1)
        .collect()
    )
    if len(q_rows) > KERNEL_MAX_NQ:
        raise ValueError(
            f"knn_bruteforce_kernel collects queries to the driver and is "
            f"bounded at {KERNEL_MAX_NQ} query vectors; for bulk batches "
            f"use knn_join (dataset-vs-dataset) or an index query with "
            f'strategy="join"'
        )
    if not q_rows:
        # empty query batch: the expr strategy returns empty gracefully;
        # a (0,) qmat would crash the matmul inside every executor task
        return vectors.sparkSession.createDataFrame(
            [], _KNN_PAIR_SCHEMA + ", rank int"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    if q_rows and isinstance(q_rows[0][1], (bytes, bytearray)):
        # packed byte queries (e.g. the recall-curve self-sample keeps
        # the stored binary column): decode with the DECLARED dtype —
        # np.array over bytearrays reads bytes unsigned, so an int8
        # query's -1 would silently score as 255.0
        from tiledb_vector_search_spark.functions.dtypes import (
            BYTE_DTYPES,
            decode_matrix,
        )

        if vector_dtype not in BYTE_DTYPES:
            raise ValueError(
                "queries are packed binary but vector_dtype is "
                f"{vector_dtype!r}; pass the corpus byte dtype"
            )
        qmat = decode_matrix([bytes(r[1]) for r in q_rows], vector_dtype)
    else:
        if expected_dims is not None:
            sizes = [len(r[1]) for r in q_rows if r[1] is not None]
            if sizes and min(sizes) != max(sizes):
                raise ValueError(
                    f"ragged query batch: vector sizes vary from "
                    f"{min(sizes)} to {max(sizes)} — every query "
                    f"must have the index's dimensionality ({expected_dims})"
                )
            if sizes and sizes[0] != expected_dims:
                raise ValueError(
                    f"query dimensions ({sizes[0]}) do not match index "
                    f"dimensions ({expected_dims})"
                )
        qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat))

    def score_batches(batches):
        from tiledb_vector_search_spark.functions.dtypes import decode_matrix

        qids_l, qmat_l = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # O(nb) selection per query with deterministic (dist, id) ties
            rows, out_i, out_d = block_topk(
                qmat_l,
                decode_matrix(pdf[vector_col], vector_dtype),
                pdf[id_col].to_numpy(dtype=np.int64),
                k,
                metric,
            )
            yield pd.DataFrame(
                {QUERY_ID_COL: qids_l[rows], ID_COL: out_i, DISTANCE_COL: out_d}
            )

    partial = vectors.select(
        F.col(id_col).alias(id_col), F.col(vector_col).alias(vector_col)
    ).mapInPandas(score_batches, schema=_KNN_PAIR_SCHEMA)
    return topk_window(partial, [QUERY_ID_COL], _order(metric), k)


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: DistanceMetric | str = DistanceMetric.SUM_OF_SQUARES,
    strategy: str = "kernel",
    **kw,
) -> DataFrame:
    """FLAT top-k query plan; see module docstring for strategy choice."""
    if strategy == "expr":
        return knn_bruteforce_expr(vectors, queries, k, metric, **kw)
    if strategy == "kernel":
        return knn_bruteforce_kernel(vectors, queries, k, metric, **kw)
    raise ValueError(f"unknown strategy: {strategy}")


def _cell_splits(
    assigned: DataFrame, max_cell_rows: int
) -> dict[int, int]:
    """partition_id -> number of salt slices for cells whose RIGHT-side
    row count exceeds ``max_cell_rows``.  ONE aggregate over the assigned
    frame; the result is bounded by the centroid count (≤10k), so the
    driver round-trip is a micro-task."""
    rows = assigned.groupBy("partition_id").count().collect()
    return {
        int(r["partition_id"]): -(-int(r["count"]) // max_cell_rows)
        for r in rows
        if int(r["count"]) > max_cell_rows
    }


def knn_join(
    left: DataFrame,
    right: DataFrame | None,
    k: int,
    centroids: np.ndarray | None = None,
    nprobe: int | None = None,
    partitions: int | None = None,
    metric: DistanceMetric | str = DistanceMetric.SUM_OF_SQUARES,
    left_id_col: str = QUERY_ID_COL,
    right_id_col: str = ID_COL,
    vector_col: str = VECTOR_COL,
    seed: int = 42,
    strategy: str = "kernel",
    max_cell_rows: int | None = 100_000,
    right_index: "Any | None" = None,
    recall_target: float | None = None,
) -> DataFrame:
    """Approximate kNN JOIN of two LARGE vector tables — no index build,
    neither side broadcast, no driver-side query collect.

    The dataset-vs-dataset primitive (near-duplicate mining between two
    corpora, retrieval-augmented labeling, cross-snapshot diffing) that
    the per-index query paths don't cover: ``Index.query`` assumes a
    built index and the FLAT kernels broadcast the query batch, both
    wrong when BOTH sides are corpus-sized.

    Dataflow (shared IVF routing, the ``detail/ivf/qv.h`` partition
    cogroup re-expressed as an equi-join):

      1. centroids — caller-provided, or k-means on a bounded RIGHT
         sample (driver-side numpy over ≤100k rows; the ingest path's
         trainer).  Always ≤10k × dims — the only broadcast anywhere.
      2. right → ``assign_partitions_expr``: nearest-centroid partition
         id via an Arrow-batched kernel, NO shuffle.
      3. left → top-``nprobe`` centroid ranks via broadcast distance +
         bounded window (one shuffle on ``left_id_col``); the vector
         column rides along so no second left-side join is needed.
      4. candidate scoring — two strategies, same semantics:
         ``strategy="kernel"`` (default, the scale path) COGROUPs the
         two sides on ``partition_id`` and scores each partition with
         one BLAS distance matrix + deterministic partial top-k, so the
         shuffle carries O(|left|·nprobe·k) scored rows and per-pair
         work is vectorized (measured 15× over the expr join at 20k×20k
         self-join: 95s → 6.3s);  ``strategy="expr"`` is a plain equi-join with the
         Catalyst distance expression — whole-stage codegen, exact
         reproducible doubles (the DuckDB-oracle path).

    At 100×: shuffle volume is |left|·nprobe + |right| rows keyed by
    partition id — never |left|·|right|.  Skew: the ``expr`` join gets
    AQE's split-skew-join; the ``kernel`` cogroup's task unit is one IVF
    cell (AQE cannot sub-split a cogroup), so hot cells are AUTO-SPLIT:
    one bounded aggregate counts right-side rows per cell, any cell over
    ``max_cell_rows`` is salted into ``ceil(count/max_cell_rows)``
    slices (right rows hash-salted; that cell's routed left rows
    replicated across slices), the cogroup keys on (cell, salt), and the
    existing final top-k window merges the per-slice partials — the
    ``operators/skew.py`` salting pattern applied in-plan, so a
    clustered corpus (the common case for embeddings) no longer
    serializes on one task.  Returns (left_id, right_id, distance,
    rank ≤ k) with the engine's (distance, id) tie-break.

    Routing always uses squared-L2 against the centroids (the IVF
    contract).  For COSINE/INNER_PRODUCT metrics pre-normalize both
    sides (and train centroids on normalized vectors) so nearest-by-sos
    routing agrees with the scoring metric — the same normalize-on-write
    discipline the cosine index types apply at ingest.

    ``right_index``: a built probe-routed index (``IVFFlatIndex`` /
    ``IVFPQIndex``) standing in for the right side — its trained
    centroids route the join (no re-training), ``right`` defaults to
    its effective vector set, and ``recall_target`` resolves ``nprobe``
    from the index's persisted measured recall curve
    (``Index.measure_recall_curve``) instead of a hand-picked knob.
    Honesty note: the curve was measured on the index's own query
    plan; it transfers here because the join's routing (same centroids,
    same nprobe, nearest-by-sos) makes the same probe decisions — but
    it speaks for THIS right side only when ``right`` is the index's
    own corpus (the default).
    """
    metric = DistanceMetric(metric)
    if recall_target is not None:
        if right_index is None:
            raise ValueError(
                "recall_target needs right_index= (a built index with a "
                "measured recall curve; see Index.measure_recall_curve)"
            )
        if nprobe is not None:
            raise ValueError("pass either nprobe or recall_target, not both")
        nprobe = int(right_index.resolve_recall_target(recall_target)["nprobe"])
    if right_index is not None:
        if centroids is None:
            centroids = right_index.centroids()
        if right is None:
            right = right_index.effective_vectors()
            from tiledb_vector_search_spark.functions.dtypes import (
                is_byte_dtype,
                unpack_vectors,
            )

            if (
                is_byte_dtype(getattr(right_index, "vector_dtype", "float32"))
                and dict(right.dtypes).get(VECTOR_COL) == "binary"
            ):
                # byte-dtype indexes store packed binary on the
                # no-updates fast path; the join kernels score float
                # arrays (u8/i8 values are exactly representable)
                right = unpack_vectors(
                    right, right_index.vector_dtype, VECTOR_COL
                )
            right = right.select(
                F.col("external_id").alias(right_id_col),
                F.col("vector").alias(vector_col),
            )
    if right is None:
        raise ValueError("knn_join needs right= (or right_index=)")
    if nprobe is None:
        nprobe = 4
    if centroids is None:
        from tiledb_vector_search_spark.ml.kmeans import (
            default_partitions,
            default_training_sample_size,
            kmeans_numpy,
        )

        n = right.count()
        parts = partitions or default_partitions(n)
        sample_n = default_training_sample_size(n, parts)
        frac = min(1.0, (1.2 * sample_n) / max(n, 1))
        # hash-ordered take, not a bare limit(): limit() keeps whichever
        # tasks finish first, so the training sample — and every routing
        # decision downstream — would drift run to run (the same
        # nondeterminism the ingest trainers' hash-ordered takes
        # prevent).  Deterministic routing is what lets callers composing
        # knn_join (e.g. the streaming screen's within-batch mode) replay
        # a batch bit-identically.
        rows = (
            right.select(F.col(vector_col).alias("__v"))
            .sample(fraction=frac, seed=seed)
            .orderBy(F.xxhash64("__v"))
            .limit(sample_n)
            .collect()
        )
        x = np.array([r[0] for r in rows], dtype=np.float64)
        centroids = kmeans_numpy(x, min(parts, len(x)), seed=seed)

    from tiledb_vector_search_spark.ml.kmeans import assign_partitions_expr
    from tiledb_vector_search_spark.session import small_df

    spark = left.sparkSession
    assigned = assign_partitions_expr(
        right.select(
            F.col(right_id_col).alias("__rid"),
            F.col(vector_col).alias("__rvec"),
        ),
        centroids,
        vector_col="__rvec",
    )

    cdf = small_df(
        spark,
        [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
        "partition_id int, __cent array<double>",
    )
    nprobe = min(nprobe, centroids.shape[0])
    routed = (
        left.select(
            F.col(left_id_col).alias("__lid"),
            F.col(vector_col).alias("__lvec"),
        )
        .crossJoin(F.broadcast(cdf))
        .select(
            "__lid",
            "__lvec",
            "partition_id",
            distance_expr(
                "__lvec", "__cent", DistanceMetric.SUM_OF_SQUARES
            ).alias("__cd"),
        )
    )
    routed = topk_window(
        routed,
        ["__lid"],
        [F.col("__cd").asc(), F.col("partition_id").asc()],
        nprobe,
    ).select("__lid", "__lvec", "partition_id")

    asc = metric.ascending
    if strategy == "expr":
        scored = routed.join(assigned, "partition_id").select(
            F.col("__lid").alias(left_id_col),
            F.col("__rid").alias(right_id_col),
            distance_expr("__lvec", "__rvec", metric).alias(DISTANCE_COL),
        )
    elif strategy == "kernel":
        # per-partition BLAS scoring + partial top-k: cogroup puts one
        # partition's left slice and right members in one task — the
        # shape of the indexes' join plans (indexes.base.probe_cogroup),
        # index-free
        # hot-cell auto-split (see docstring): salt oversized cells so no
        # single cogroup task owns a mega-cell.  The detection aggregate
        # costs one extra pass over the right side's assignment (narrow:
        # id + partition only); pass max_cell_rows=None to skip it when
        # the corpus is known to be balanced
        splits = (
            _cell_splits(assigned, max_cell_rows) if max_cell_rows else {}
        )
        if splits:
            smap = small_df(
                spark,
                [(pid, n) for pid, n in sorted(splits.items())],
                "partition_id int, __nsplit int",
            )
            assigned = (
                assigned.join(F.broadcast(smap), "partition_id", "left")
                .withColumn(
                    "__salt",
                    F.when(
                        F.col("__nsplit").isNull(), F.lit(0)
                    ).otherwise(
                        F.pmod(F.xxhash64("__rid"), F.col("__nsplit")).cast(
                            "int"
                        )
                    ),
                )
                .drop("__nsplit")
            )
            routed = (
                routed.join(F.broadcast(smap), "partition_id", "left")
                .withColumn(
                    "__salt",
                    F.explode(
                        F.sequence(
                            F.lit(0),
                            F.coalesce(F.col("__nsplit"), F.lit(1)) - 1,
                        )
                    ),
                )
                .drop("__nsplit")
            )
            cogroup_keys = ["partition_id", "__salt"]
        else:
            cogroup_keys = ["partition_id"]

        def score(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            if len(lpdf) == 0 or len(rpdf) == 0:
                return pd.DataFrame(
                    {"__lid": [], "__rid": [], DISTANCE_COL: []}
                )
            rids = rpdf["__rid"].to_numpy()
            rows, out_i, out_d = block_topk(
                np.array(list(lpdf["__lvec"]), dtype=np.float64),
                np.array(list(rpdf["__rvec"]), dtype=np.float64),
                rids,
                k,
                metric,
            )
            return pd.DataFrame(
                {
                    "__lid": lpdf["__lid"].to_numpy()[rows],
                    "__rid": out_i,
                    DISTANCE_COL: out_d,
                }
            )

        scored = (
            routed.groupBy(*cogroup_keys)
            .cogroup(assigned.groupBy(*cogroup_keys))
            .applyInPandas(
                lambda ldf, rdf: score(ldf, rdf),
                schema=f"__lid long, __rid long, {DISTANCE_COL} double",
            )
            .select(
                F.col("__lid").alias(left_id_col),
                F.col("__rid").alias(right_id_col),
                DISTANCE_COL,
            )
        )
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    dist = F.col(DISTANCE_COL)
    order = [dist.asc() if asc else dist.desc(), F.col(right_id_col).asc()]
    return topk_window(scored, [left_id_col], order, k)
