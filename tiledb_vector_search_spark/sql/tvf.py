"""``ann_search`` — the engine's index query surface as a pure-SQL TVF.

SURVEY §4's "optional future" item: once registered, a SQL-only user runs

    SELECT * FROM ann_search(
        TABLE(SELECT query_id, vector FROM my_queries),
        '/path/to/ivf_index', 10, 4)

with no DataFrame code.  Spark distributes the query table across tasks;
each task's UDTF instance searches its query slice, for any of the four
index types, by reading the index FILES directly with pyarrow — meta and
centroids first (tiny), then ONLY the probed ``partition_id=P``
directories.  That is the same partition-pruned IO the DataFrame path
gets from Catalyst, obtained here by file listing, because executors
have no SparkSession to plan with.  Scoring, partial top-k and the final
merge run through the DataFrame kernel strategy's own per-block
functions (``operators.knn.block_topk``, ``indexes.ivf_pq.adc_topk``,
``indexes.vamana._walk_shard``, ``operators.topk.topk_merge``), so the
two surfaces cannot drift apart.
This mirrors the reference's embedded query model (each worker owns its
own reads, ``detail/ivf/qv.h``) while Spark handles distribution of the
queries.

Scale posture: per task the work is |queries_in_task| × nprobe partition
reads — independent of total corpus size.  Best for small-to-medium query
batches; bulk dataset-vs-dataset search should use the DataFrame API's
``strategy="join"`` plans instead.

Supported index types — the COMPLETE index family is SQL-reachable:
FLAT (full scan, the brute-force contract), IVF_FLAT (probed partitions
only), IVF_PQ (ADC scan over the packed ``code`` column — per-task IO is
nprobe partitions × 1 byte per subspace per row — with optional
``k_factor`` exact re-rank reading the ``vector`` column only for
candidate rows' partitions), and VAMANA (per-shard graph walks from the
stored medoids, including the cross-shard overlay pseudo-shard when the
index has one).

Metrics: SUM_OF_SQUARES / L2 / COSINE (cosine for the index types that
support it in the DataFrame API) and INNER_PRODUCT for FLAT — the
reference's per-index support matrix.  An optional ``timestamp``
argument time-travels to the newest snapshot at or before it.

Un-consolidated updates are MERGED, mirroring the DataFrame path: every
task reads the updates log (parquet under ``updates/``), resolves
latest-per-id with the exact ``IndexStorage.read_updates`` precedence
(ts desc, upsert-over-delete, vector-lexicographic), tombstone-filters
the base results, and brute-force-scores the additions into the top-k.
Per-task cost is O(|updates log in window|) extra IO — the same bounded-
churn assumption as the DataFrame small-batch path; consolidate for
heavy churn.

Filtered search: an optional 7th argument names an ids parquet
(``external_id`` column); base rows and additions outside the set are
masked BEFORE scoring — the SQL twin of the DataFrame ``allowed_ids``
semi-join, with the same index-type policy (FLAT/IVF_FLAT/IVF_PQ;
VAMANA keeps over-fetch).  Per-task cost is one ids-parquet read — use
the DataFrame path when the allowed set itself is corpus-sized.

Index paths are SCHEME-AGNOSTIC: every read goes through
``driver_io.resolve_fs``, so a bare path and every ``file:`` form read
the local filesystem, and ``s3://``, ``gs://``, ``hdfs://`` (any
pyarrow-registered scheme, fsspec for the rest) read the object store —
so an object-store index (the reference's normal deployment) is
reachable from pure SQL.
"""

from __future__ import annotations

import math
import posixpath

import numpy as np

from tiledb_vector_search_spark.driver_io import (
    is_dir,
    list_parquet_files,
    read_json_file,
    read_parquet_dir,
)
from tiledb_vector_search_spark.functions.distance import DistanceMetric
from tiledb_vector_search_spark.functions.dtypes import decode_matrix
from tiledb_vector_search_spark.indexes.base import decode_centroids
from tiledb_vector_search_spark.indexes.ivf_pq import (
    PQ_CODEBOOK_AUX,
    adc_topk,
    decode_codebooks,
)
from tiledb_vector_search_spark.indexes.vamana import (
    MEDOID_AUX,
    OVERLAY_PID,
    _walk_shard,
    decode_medoids,
)
from tiledb_vector_search_spark.operators.knn import (
    block_topk,
    paired_sum_of_squares,
)
from tiledb_vector_search_spark.operators.routing import (
    queries_by_partition,
    route_queries,
)
from tiledb_vector_search_spark.operators.topk import topk_merge
from tiledb_vector_search_spark.schemas import DISTANCE_COL, ID_COL, QUERY_ID_COL

ANN_SEARCH_SCHEMA = "query_id long, external_id long, distance double, rank long"

# cosine is supported for FLAT / IVF_FLAT / VAMANA (the index types that
# support it in the DataFrame API); IVF_PQ rejects it at ingest already.
# inner_product is FLAT-only — the reference support matrix
# (``flat_index.py:182``: FLAT accepts all four metrics; the partitioned
# types reject IP at ingest)
_SUPPORTED_METRICS = {"sum_of_squares", "l2", "cosine"}
_FLAT_ONLY_METRICS = {"inner_product"}
_NO_IDS = np.empty(0, dtype=np.int64)


_TVF_INDEX_TYPES = ("FLAT", "IVF_FLAT", "IVF_PQ", "VAMANA")


def _open_index_meta(
    uri: str, timestamp: int | None = None
) -> tuple[dict, int, str, str, bool]:
    """(meta, base_ts, metric, vector_dtype, has_pending) validations.

    ``timestamp`` time-travels: the newest ingestion ≤ timestamp is read
    (the DataFrame ``open_index(timestamp=...)`` contract).
    ``has_pending`` is True when un-consolidated update batches fall
    INSIDE the requested window (base_ts, timestamp] — the search paths
    then merge the updates overlay (``_load_updates``).
    """
    meta = read_json_file(posixpath.join(uri, "_index_meta.json"))
    if meta.get("index_type") not in _TVF_INDEX_TYPES:
        raise ValueError(
            f"ann_search TVF supports {'/'.join(_TVF_INDEX_TYPES)} indexes; "
            f"got {meta.get('index_type')}"
        )
    metric = meta.get("metric", "sum_of_squares")
    if metric in _FLAT_ONLY_METRICS:
        if meta.get("index_type") != "FLAT":
            raise ValueError(
                f"metric {metric} is FLAT-only in the ann_search TVF"
            )
    elif metric not in _SUPPORTED_METRICS:
        raise ValueError(f"ann_search TVF does not support metric {metric}")
    if not meta.get("ingestions"):
        raise ValueError(f"no ingestions at {uri}")
    ings = [
        e["ts"]
        for e in meta["ingestions"]
        if timestamp is None or e["ts"] <= timestamp
    ]
    if not ings:
        raise ValueError(f"no ingestion at or before timestamp {timestamp}")
    ts = max(ings)
    pending = [
        t
        for t in meta.get("update_batches", [])
        if t > ts and (timestamp is None or t <= timestamp)
    ]
    return meta, ts, metric, meta.get("vector_dtype", "float32"), bool(pending)


def _load_centroids(uri: str, ts: int) -> np.ndarray:
    return decode_centroids(
        read_parquet_dir(posixpath.join(uri, "centroids", f"ts={ts}"))
    )


def _load_updates(
    uri: str,
    base_ts: int,
    timestamp: int | None,
    committed_ts: "list[int] | None" = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Resolved updates overlay in (base_ts, timestamp] —
    (tombstone_ids, addition_ids, addition_matrix).

    Mirrors ``IndexStorage.read_updates`` EXACTLY: latest row per id by
    (ts desc, is_delete asc, vector lexicographic asc, nulls last).
    ``tombstone_ids`` is every updated id (upserts too — their base copy
    is superseded); additions re-add the upserted ids with new vectors.

    ``committed_ts``: the meta's ``update_batches`` list — the meta flip
    is the commit point, so rows from a batch whose parquet append
    landed but whose meta write crashed must stay invisible (same
    filter ``IndexStorage.read_updates_raw`` applies).
    """
    empty = _NO_IDS
    ufs, files = list_parquet_files(posixpath.join(uri, "updates"))
    if not files:
        return empty, empty, None
    import pyarrow as pa
    import pyarrow.parquet as pq

    # window filter pushed into the parquet read: each batch file's ts is
    # a constant column, so row-group statistics prune whole out-of-window
    # batches without decoding them — at heavy churn the task reads only
    # the log slice it needs
    filters = [("ts", ">", base_ts)]
    if timestamp is not None:
        filters.append(("ts", "<=", timestamp))
    tables = []
    for f in files:
        t = pq.read_table(
            f,
            columns=["external_id", "vector", "is_delete", "ts"],
            filters=filters,
            filesystem=ufs,
        )
        if t.num_rows:
            tables.append(t)
    if not tables:
        return empty, empty, None
    # permissive: log files can differ in nullability markers (batches
    # written by different writers/sessions); values unify fine
    tb = pa.concat_tables(tables, promote_options="permissive")
    ids = tb.column("external_id").to_numpy()
    tss = tb.column("ts").to_numpy()
    if committed_ts is not None:
        keep = np.isin(tss, np.array(sorted(committed_ts), dtype=np.int64))
        if not keep.all():
            tb = tb.filter(pa.array(keep))
            ids = tb.column("external_id").to_numpy()
            tss = tb.column("ts").to_numpy()
        if tb.num_rows == 0:
            return empty, empty, None
    dels = tb.column("is_delete").to_numpy(zero_copy_only=False)
    vecs = tb.column("vector").to_pylist()
    best: dict[int, tuple] = {}  # id -> (ts, is_delete, vec_key, vec)
    for i in range(len(tss)):
        v = vecs[i]
        # sort key mirroring (ts desc, is_delete asc, vector asc nulls last)
        key = (-int(tss[i]), bool(dels[i]), v is None, tuple(v or ()))
        eid = int(ids[i])
        cur = best.get(eid)
        if cur is None or key < cur[0]:
            best[eid] = (key, bool(dels[i]), v)
    if not best:
        return empty, empty, None
    tomb = np.array(sorted(best), dtype=np.int64)
    adds = sorted(
        (eid, v) for eid, (_, d, v) in best.items() if not d
    )
    if not adds:
        return tomb, empty, None
    add_ids = np.array([e for e, _ in adds], dtype=np.int64)
    add_mat = np.array([v for _, v in adds], dtype=np.float64)
    return tomb, add_ids, add_mat


def _keep_mask(
    ids: np.ndarray, tomb: np.ndarray, allowed: np.ndarray | None
) -> np.ndarray:
    """Tombstone-exclude ∧ allowed-include keep-mask."""
    keep = ~np.isin(ids, tomb)
    if allowed is not None:
        keep &= np.isin(ids, allowed)
    return keep


def _load_allowed(path: str) -> np.ndarray:
    """external_id column of an ids parquet (file or directory)."""
    tb = read_parquet_dir(path, columns=["external_id"])
    return tb.column("external_id").to_numpy().astype(np.int64)


def _read_vectors(
    path: str,
    vector_dtype: str,
    tomb: np.ndarray = _NO_IDS,
    allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(external ids, float64 vectors) of one snapshot directory, with
    tombstoned and not-allowed rows dropped."""
    tb = read_parquet_dir(path, columns=["external_id", "vector"])
    ids = tb.column("external_id").to_numpy()
    x = decode_matrix(tb.column("vector").to_pylist(), vector_dtype)
    keep = _keep_mask(ids, tomb, allowed)
    return ids[keep], x[keep]


def _by_id(ids: np.ndarray, *cols):
    """A cell's columns in id order — the row layout the DataFrame plans'
    per-cell scorers see (``indexes.base._cell_topk``)."""
    order = np.argsort(ids, kind="stable")
    return (ids[order],) + tuple(c[order] for c in cols)


def _normalize_queries_f32(qmat: np.ndarray) -> np.ndarray:
    """Mirror the DataFrame path's query normalization EXACTLY: Catalyst's
    ``normalize_expr(...).cast("array<float>")`` rounds the normalized
    components to float32, so the numpy twin must too or parities drift."""
    norms = np.linalg.norm(qmat, axis=1, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        normed = np.where(norms > 0, qmat / norms, qmat)
    return normed.astype(np.float32).astype(np.float64)


def _probes(
    uri: str, ts: int, qmat: np.ndarray, centroids: np.ndarray, nprobe: int
):
    """(partition id, partition directory, routed query positions) of every
    probed partition that holds rows, in partition order — the DataFrame
    path's ``route_queries`` decisions, read as a directory listing."""
    pairs = route_queries(np.arange(len(qmat)), qmat, centroids, nprobe)
    base = posixpath.join(uri, "base", f"ts={ts}")
    for pid, qpos in sorted(queries_by_partition(pairs).items()):
        pdir = posixpath.join(base, f"partition_id={pid}")
        if is_dir(pdir):  # an empty partition writes no directory
            yield pid, pdir, np.asarray(qpos, dtype=np.int64)


def _scan_block(
    qmat: np.ndarray,
    ids: np.ndarray,
    x: np.ndarray,
    k: int,
    metric: DistanceMetric,
    qpos: np.ndarray | None = None,
) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """``block_topk`` of the queries at ``qpos`` (default: all) over one
    block, its rows mapped back to query positions — as a list of zero
    parts (empty block) or one."""
    if len(ids) == 0:
        return []
    if qpos is None:
        qpos = np.arange(len(qmat))
    rows, out_i, out_d = block_topk(qmat[qpos], x, ids, k, metric)
    return [(qpos[rows], out_i, out_d)]


def _overlay_parts(
    uri, aux, ts, vector_dtype, qmat, k, metric, tomb, allowed
) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Exact scan of an IVF partial-probe overlay (aux pseudo-partition
    of RAW vectors) for EVERY query, mirroring the DataFrame query paths.
    The persisted recall curve is measured WITH overlay probing, so
    skipping it would silently under-deliver any recall_target resolved
    from it.  A member whose home partition was also probed appears
    twice; the merge's min() per (query, id) keeps the tighter estimate,
    exactly the DataFrame path's groupBy(query, id).agg(min(distance))."""
    ov_dir = posixpath.join(uri, "aux", aux, f"ts={ts}")
    if not is_dir(ov_dir):
        return []
    ids, x = _by_id(*_read_vectors(ov_dir, vector_dtype, tomb, allowed))
    return _scan_block(qmat, ids, x, k, metric)


def _final_rows(
    qids: np.ndarray,
    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    k: int,
    metric: str,
    halve: bool = False,
) -> list[tuple[int, int, float, int]]:
    """Merge every block's partial top-k into (query_id, external_id,
    distance, rank) rows: min per (query, id), (distance, id) order,
    first k — then the metric's rescale (l2 scans in squared space;
    ``halve`` maps a unit-vector sos scan to cosine distance)."""
    if not parts:
        return []
    rows, ids, dist, rank = topk_merge(
        *(np.concatenate(col) for col in zip(*parts)),
        k,
        ascending=metric != "inner_product",
    )
    if metric == "l2":
        dist = np.sqrt(dist)
    elif halve:
        dist = dist / 2.0
    return list(
        zip(qids[rows].tolist(), ids.tolist(), dist.tolist(), rank.tolist())
    )


def _resolve_recall_target_meta(
    meta: dict, ts: int, recall_target: float
) -> dict:
    """pyarrow-twin of ``Index.resolve_recall_target``: the SQL surface
    must pick the identical operating point as the DataFrame path, so
    both call the ONE shared pure resolver (same sort key, same
    errors)."""
    from tiledb_vector_search_spark.indexes.recall import (
        resolve_curve_point,
    )

    entry = next(
        (e for e in reversed(meta["ingestions"]) if e["ts"] == ts), {}
    )
    return resolve_curve_point(entry.get("recall_curve"), recall_target)


def search_index_files(
    uri: str,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    nprobe: int,
    k_factor: float = 1.0,
    timestamp: int | None = None,
    allowed_ids_path: str | None = None,
    recall_target: float | None = None,
    start_timestamp: int | None = None,
) -> list[tuple[int, int, float, int]]:
    """Index top-k over the on-disk index via pyarrow — no SparkSession.

    Deterministic (distance, external_id) tie-break, identical to the
    DataFrame query path's contract.  ``k_factor`` applies to IVF_PQ only
    (coarse ADC candidates × k_factor, exact re-rank on the ``vector``
    column of the candidates' partitions).  ``timestamp`` time-travels to
    the newest snapshot at or before it.

    ``recall_target`` resolves (nprobe [, k_factor]) from the resolved
    snapshot's persisted recall curve — identical pick to the DataFrame
    path's ``query(recall_target=...)``; pass ``nprobe=0`` (the
    "resolve for me" sentinel) and leave ``k_factor`` at 1.0.

    ``start_timestamp`` makes the pair (start_timestamp, timestamp) a
    RANGE read — the SQL twin of ``open_index(uri, timestamp=(start,
    end))``.  With ``start_timestamp`` past the first ingestion the base
    is excluded entirely and the result is the exact scan over the
    window's update batches (reference ``query_base_array=False``,
    ``index.py:125-131``); probe knobs / recall_target don't apply (no
    base, no centroids) and are ignored, mirroring the DataFrame
    intercept.  A range covering the corpus start is fold-equivalent to
    the plain ``timestamp`` read and falls through.

    Every index type yields per-block partial top-k's — scored by the
    DataFrame kernel strategy's own per-block functions — that one array
    merge (``_final_rows``) reduces.
    """
    allowed = (
        None if allowed_ids_path is None else _load_allowed(allowed_ids_path)
    )
    # queries in id order: each probed cell then scores its routed queries
    # in the order the DataFrame plans' per-cell scorers use
    order = np.argsort(qids, kind="stable")
    qids, qmat = qids[order], qmat[order]
    if start_timestamp is not None:
        meta0, _lts, metric0, _vd, _p = _open_index_meta(uri, None)
        if int(start_timestamp) > int(meta0["ingestions"][0]["ts"]):
            _tomb, add_ids, add_mat = _load_updates(
                uri,
                int(start_timestamp) - 1,  # (lo exclusive] → [start, end]
                timestamp,
                committed_ts=[
                    int(t) for t in meta0.get("update_batches", [])
                ],
            )
            parts = _additions_topk(
                qmat, add_ids, add_mat, allowed, k, _scan_metric(metric0)
            )
            return _final_rows(qids, parts, k, metric0)
    meta, ts, metric, vector_dtype, pending = _open_index_meta(uri, timestamp)
    index_type = meta["index_type"]
    l_search = None
    if recall_target is not None:
        if nprobe != 0 or k_factor != 1.0:
            raise ValueError(
                "recall_target resolves the probe knobs: pass nprobe=0 "
                "and leave k_factor at 1.0"
            )
        resolved = _resolve_recall_target_meta(meta, ts, recall_target)
        nprobe = int(resolved.get("nprobe", 0)) or 1
        k_factor = float(resolved.get("k_factor", 1.0))
        l_search = resolved.get("l_search")  # VAMANA beam width
        l_search = None if l_search is None else int(l_search)
    elif nprobe == 0:
        raise ValueError("nprobe=0 is the recall_target sentinel; set one")
    if allowed is not None and index_type == "VAMANA":
        raise ValueError(
            "allowed_ids filtering supports FLAT/IVF_FLAT/IVF_PQ; "
            "VAMANA uses the over-fetch path (a pre-filtered graph "
            "walk changes recall semantics)"
        )
    if k_factor != 1.0 and index_type != "IVF_PQ":
        raise ValueError("k_factor applies to IVF_PQ indexes only")
    tomb, add_ids, add_mat = (
        _load_updates(
            uri, ts, timestamp,
            committed_ts=[int(t) for t in meta.get("update_batches", [])],
        )
        if pending
        else (_NO_IDS, _NO_IDS, None)
    )
    if metric == "cosine" and index_type != "FLAT":
        # IVF_FLAT/VAMANA store pre-normalized vectors (normalize_on_write);
        # mirror the DataFrame path's query normalization.  FLAT scores
        # raw vectors with the kernel's cosine formula
        qmat = _normalize_queries_f32(qmat)
    scan = _scan_metric(metric, index_type)
    if index_type == "FLAT":
        # the whole corpus per task — exactly the FLAT contract; the
        # partition-pruned types are the scale path
        ids, x = _read_vectors(
            posixpath.join(uri, "base", f"ts={ts}"), vector_dtype, tomb,
            allowed,
        )
        parts = _scan_block(qmat, ids, x, k, scan)
    elif index_type == "IVF_FLAT":
        parts = _ivf_flat_parts(
            uri, ts, vector_dtype, qmat, k, nprobe, scan, tomb, allowed
        )
    elif index_type == "IVF_PQ":
        parts = _ivf_pq_parts(
            uri, meta, ts, vector_dtype, qmat, k, nprobe, k_factor, tomb,
            allowed,
        )
    else:
        parts = _vamana_parts(
            uri, ts, vector_dtype, qmat, k, nprobe, tomb, l_search
        )
    # additions are scored exactly and join the merge — the DataFrame
    # paths' knn_bruteforce_expr(additions) unionByName branch
    parts += _additions_topk(qmat, add_ids, add_mat, allowed, k, scan)
    return _final_rows(
        qids, parts, k, metric,
        halve=index_type == "VAMANA" and metric == "cosine",
    )


def _scan_metric(metric: str, index_type: str = "FLAT") -> DistanceMetric:
    """The space blocks are scored and merged in: l2 merges squared and
    takes the sqrt at the end; the VAMANA walk and the IVF_PQ tables are
    sos (unit vectors: cosine distance = sos/2).  A base-less range read
    scores raw additions, as FLAT does."""
    if index_type in ("IVF_PQ", "VAMANA") or metric == "l2":
        return DistanceMetric.SUM_OF_SQUARES
    return DistanceMetric(metric)


def _additions_topk(
    qmat: np.ndarray,
    add_ids: np.ndarray,
    add_mat: np.ndarray | None,
    allowed: np.ndarray | None,
    k: int,
    metric: DistanceMetric,
) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """The resolved additions' partial top-k (none when nothing survives
    the allowed-ids filter)."""
    if add_mat is None:
        return []
    keep = _keep_mask(add_ids, _NO_IDS, allowed)
    return _scan_block(qmat, add_ids[keep], add_mat[keep], k, metric)


def _ivf_flat_parts(
    uri, ts, vector_dtype, qmat, k, nprobe, scan, tomb, allowed
):
    """Exact scan of each probed partition for the queries routed to it,
    plus the partial-probe overlay."""
    parts = []
    centroids = _load_centroids(uri, ts)
    for _pid, pdir, qpos in _probes(uri, ts, qmat, centroids, nprobe):
        ids, x = _by_id(*_read_vectors(pdir, vector_dtype, tomb, allowed))
        parts += _scan_block(qmat, ids, x, k, scan, qpos)
    return parts + _overlay_parts(
        uri, "ivf_overlay", ts, vector_dtype, qmat, k, scan, tomb, allowed
    )


def _ivf_pq_parts(
    uri, meta, ts, vector_dtype, qmat, k, nprobe, k_factor, tomb, allowed
):
    """ADC scan over the packed ``code`` column + optional exact re-rank.

    Mirrors ``IVFPQIndex.query(strategy="kernel")``: the same per-cell
    ADC scan (``indexes.ivf_pq.adc_topk``), shifted by the cell's
    centroid on residual spark-0.3 indexes, and the (distance, id)
    tie-break.  Per-task IO: the coarse pass reads
    (external_id, code) of probed partitions only — ``num_subspaces``
    bytes per row — and the re-rank pass re-reads ONLY the candidate
    rows' partitions' (external_id, vector).
    """
    m = int(meta["num_subspaces"])
    centroids = _load_centroids(uri, ts)
    cb = decode_codebooks(
        read_parquet_dir(posixpath.join(uri, "aux", PQ_CODEBOOK_AUX, f"ts={ts}")),
        m,
    )
    residual = bool(meta.get("pq_residual", False))
    coarse_k = max(k, int(math.ceil(k * k_factor)))
    coarse, coarse_pid = [], []
    for pid, pdir, qpos in _probes(uri, ts, qmat, centroids, nprobe):
        tb = read_parquet_dir(pdir, columns=["external_id", "code"])
        ids = tb.column("external_id").to_numpy()
        codes = np.frombuffer(
            b"".join(tb.column("code").to_pylist()), dtype=np.uint8
        ).reshape(len(ids), m)
        keep = _keep_mask(ids, tomb, allowed)
        ids, codes = _by_id(ids[keep], codes[keep])
        if len(ids) == 0:
            continue
        target = qmat[qpos] - centroids[pid][None, :] if residual else qmat[qpos]
        rows, out_i, out_d = adc_topk(target, cb, codes, ids, coarse_k)
        coarse.append((qpos[rows], out_i, out_d))
        coarse_pid.append(np.full(len(rows), pid))

    parts = coarse
    if k_factor > 1.0 and coarse:
        # exact re-rank: the coarse_k best per query, re-scored from the
        # ORIGINAL vectors of just the partitions those candidates live in
        c_rows, c_ids, c_d = (np.concatenate(col) for col in zip(*coarse))
        rows, ids, _d, _r = topk_merge(c_rows, c_ids, c_d, coarse_k)
        needed = np.unique(np.concatenate(coarse_pid)[np.isin(c_ids, ids)])
        base = posixpath.join(uri, "base", f"ts={ts}")
        vec_ids, vecs = zip(
            *(
                _read_vectors(
                    posixpath.join(base, f"partition_id={pid}"),
                    vector_dtype,
                    allowed=ids,
                )
                for pid in needed
            )
        )
        vec_ids = np.concatenate(vec_ids)
        order = np.argsort(vec_ids, kind="stable")
        x = np.concatenate(vecs)[order[np.searchsorted(vec_ids[order], ids)]]
        parts = [(rows, ids, paired_sum_of_squares(qmat[rows], x))]

    # the bridge set is scored exactly in the tables' sos space
    return parts + _overlay_parts(
        uri, "pq_overlay", ts, vector_dtype, qmat, k,
        DistanceMetric.SUM_OF_SQUARES, tomb, allowed,
    )


def _vamana_parts(uri, ts, vector_dtype, qmat, k, nprobe, tomb, l_search):
    """Sharded Vamana graph walks over the on-disk index.

    Routes each query to its nprobe nearest shards and walks each one
    with ``indexes.vamana._walk_shard`` — the per-shard body of both
    DataFrame strategies — plus the cross-shard overlay pseudo-shard
    (an exact scan) when present.  Per-task IO = probed shard
    directories only.

    Updates mirror ``VamanaIndex.query``'s lazy-delete contract:
    tombstoned nodes stay in the graph as WAYPOINTS (removing them would
    cut connectivity), each shard over-walks by its tombstone overlap,
    and tombstones are dropped from the walk RESULTS.
    """
    medoids = decode_medoids(
        read_parquet_dir(posixpath.join(uri, "aux", MEDOID_AUX, f"ts={ts}"))
    )
    if l_search is None:
        l_search = max(2 * k, 50)  # VamanaIndex.query default
    shards = list(_probes(uri, ts, qmat, _load_centroids(uri, ts), nprobe))
    overlay_dir = posixpath.join(uri, "aux", "vamana_overlay", f"ts={ts}")
    if is_dir(overlay_dir):
        # the bridge set is probed by EVERY query
        shards.append((OVERLAY_PID, overlay_dir, np.arange(len(qmat))))
    parts = []
    for pid, pdir, qpos in shards:
        tb = read_parquet_dir(
            pdir, columns=["external_id", "vector", "neighbors"]
        )
        ids, x, neighbors = _by_id(
            tb.column("external_id").to_numpy(),
            decode_matrix(tb.column("vector").to_pylist(), vector_dtype),
            tb.column("neighbors").to_numpy(zero_copy_only=False),
        )
        walked = _walk_shard(
            pid,
            ids,
            x,
            neighbors,
            medoids.get(pid),
            qpos,
            qmat[qpos],
            # over-walk past this shard's tombstones so k survivors remain
            # after the result-side filter (the DataFrame path's eff_k)
            k + int(np.isin(ids, tomb).sum()),
            l_search,
        )
        live = ~np.isin(walked[ID_COL], tomb)
        parts.append(
            tuple(
                walked.loc[live, col].to_numpy()
                for col in (QUERY_ID_COL, ID_COL, DISTANCE_COL)
            )
        )
    return parts


class AnnSearchUDTF:
    """Python UDTF: accumulate this task's query slice, search at terminate.

    ``eval`` receives one query row plus the constant (uri, k, nprobe
    [, k_factor]) arguments; ``terminate`` runs one batched file-pruned
    search (FLAT, IVF_FLAT, IVF_PQ or VAMANA) so the per-partition IO
    amortizes over every query in the task.
    """

    def __init__(self):
        self._qids: list[int] = []
        self._qvecs: list[list[float]] = []
        self._args: tuple | None = None

    def eval(
        self,
        row,
        uri: str,
        k: int,
        nprobe: int,
        k_factor: float = 1.0,
        timestamp: int | None = None,
        allowed_ids_path: str | None = None,
        recall_target: float | None = None,
        start_timestamp: int | None = None,
    ):
        self._qids.append(int(row.query_id))
        self._qvecs.append(list(row.vector))
        if self._args is None:  # constant per task; store once, not per row
            self._args = (
                uri,
                int(k),
                int(nprobe),
                float(k_factor),
                None if timestamp is None else int(timestamp),
                allowed_ids_path,
                None if recall_target is None else float(recall_target),
                None if start_timestamp is None else int(start_timestamp),
            )

    def terminate(self):
        if not self._qids:
            return
        (
            uri, k, nprobe, k_factor, timestamp, allowed_ids_path,
            recall_target, start_timestamp,
        ) = self._args
        qids = np.asarray(self._qids, dtype=np.int64)
        qmat = np.asarray(self._qvecs, dtype=np.float64)
        yield from search_index_files(
            uri, qids, qmat, k, nprobe, k_factor, timestamp,
            allowed_ids_path, recall_target, start_timestamp,
        )


def register_ann_search(spark, name: str = "ann_search") -> None:
    """Register the TVF on this session; returns nothing.

    After this, ``spark.sql("SELECT * FROM <name>(TABLE(...), uri, k,
    nprobe)")`` works for any SQL client of the session.
    """
    from pyspark.sql.functions import udtf

    spark.udtf.register(name, udtf(AnnSearchUDTF, returnType=ANN_SEARCH_SCHEMA))
