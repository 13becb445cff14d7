"""``ann_search`` — the engine's index query surface as a pure-SQL TVF.

SURVEY §4's "optional future" item: once registered, a SQL-only user runs

    SELECT * FROM ann_search(
        TABLE(SELECT query_id, vector FROM my_queries),
        '/path/to/ivf_index', 10, 4)

with no DataFrame code.  Spark distributes the query table across tasks;
each task's UDTF instance performs an IVF search for its query slice by
reading the index FILES directly with pyarrow — centroids first (tiny),
then ONLY the probed ``partition_id=P`` directories.  That is the same
partition-pruned IO the DataFrame path gets from Catalyst, obtained here
by file listing, because executors have no SparkSession to plan with.
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

Index paths are SCHEME-AGNOSTIC: bare paths read the local filesystem;
``file://``, ``s3://``, ``gs://``, ``hdfs://`` (any pyarrow-registered
scheme) resolve via ``pyarrow.fs.FileSystem.from_uri``, with an fsspec
fallback for schemes pyarrow lacks — so an object-store index (the
reference's normal deployment) is reachable from pure SQL.
"""

from __future__ import annotations

import json
import posixpath

import numpy as np

ANN_SEARCH_SCHEMA = "query_id long, external_id long, distance double, rank long"

# cosine is supported for FLAT / IVF_FLAT / VAMANA (the index types that
# support it in the DataFrame API); IVF_PQ rejects it at ingest already.
# inner_product is FLAT-only — the reference support matrix
# (``flat_index.py:182``: FLAT accepts all four metrics; the partitioned
# types reject IP at ingest)
_SUPPORTED_METRICS = {"sum_of_squares", "l2", "cosine"}
_FLAT_ONLY_METRICS = {"inner_product"}


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-local path) for a possibly scheme-qualified
    index path.

    Scheme-agnostic by construction: a bare path is the local
    filesystem; ``file://``, ``s3://``, ``gs://``, ``hdfs://`` (and any
    other scheme pyarrow registers) resolve via
    ``pyarrow.fs.FileSystem.from_uri`` — the reference serves indexes
    from object storage as the default deployment (VFS URIs throughout,
    e.g. ``object_index.py``), so the SQL surface must too.  Schemes
    pyarrow doesn't know fall back to fsspec when installed
    (``PyFileSystem(FSSpecHandler(...))``), else raise with that hint.
    """
    from pyarrow import fs as pafs

    if "://" not in path:
        return pafs.LocalFileSystem(), path
    try:
        return pafs.FileSystem.from_uri(path)
    except Exception as exc:
        try:
            import fsspec
            from pyarrow.fs import FSSpecHandler, PyFileSystem
        except ImportError:
            raise ValueError(
                f"unsupported filesystem scheme in {path!r} ({exc}); "
                "install fsspec to enable additional schemes"
            ) from exc
        fs, fpath = fsspec.core.url_to_fs(path)
        return PyFileSystem(FSSpecHandler(fs)), fpath


def _list_parquet_files(path: str) -> tuple[object, list[str]]:
    """(filesystem, sorted fs-local parquet paths under ``path``);
    empty list when the directory does not exist."""
    from pyarrow import fs as pafs

    fs, p = _resolve_fs(path)
    infos = fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return fs, sorted(
        i.path
        for i in infos
        if i.type == pafs.FileType.File and i.path.endswith(".parquet")
    )


def _is_dir(path: str) -> bool:
    from pyarrow import fs as pafs

    fs, p = _resolve_fs(path)
    return fs.get_file_info(p).type == pafs.FileType.Directory


def _read_json_file(path: str) -> dict:
    fs, p = _resolve_fs(path)
    with fs.open_input_stream(p) as fh:
        return json.loads(fh.read().decode("utf-8"))


def _read_parquet_dir(path: str, columns: list[str] | None = None):
    import pyarrow.parquet as pq

    fs, files = _list_parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    import pyarrow as pa

    tables = [
        pq.read_table(f, columns=columns, filesystem=fs) for f in files
    ]
    return pa.concat_tables(tables)


_TVF_INDEX_TYPES = ("FLAT", "IVF_FLAT", "IVF_PQ", "VAMANA")


def _open_index_meta(
    uri: str, timestamp: int | None = None
) -> tuple[dict, int, str, str]:
    """(meta, base_ts, metric, vector_dtype, has_pending) validations.

    ``timestamp`` time-travels: the newest ingestion ≤ timestamp is read
    (the DataFrame ``open_index(timestamp=...)`` contract).
    ``has_pending`` is True when un-consolidated update batches fall
    INSIDE the requested window (base_ts, timestamp] — the search paths
    then merge the updates overlay (``_load_updates``).
    """
    meta = _read_json_file(posixpath.join(uri, "_index_meta.json"))
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
    cent_tb = _read_parquet_dir(posixpath.join(uri, "centroids", f"ts={ts}"))
    order = np.argsort(cent_tb.column("partition_id").to_numpy())
    cent_rows = cent_tb.column("centroid").to_pylist()
    return np.array([cent_rows[i] for i in order], dtype=np.float64)


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
    empty = np.empty(0, dtype=np.int64)
    ufs, files = _list_parquet_files(posixpath.join(uri, "updates"))
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


def _mask_tombstones(
    ids: np.ndarray, tomb: np.ndarray
) -> np.ndarray | None:
    """Boolean keep-mask over ``ids``, or None when nothing is masked."""
    if len(tomb) == 0:
        return None
    keep = ~np.isin(ids, tomb)
    return None if keep.all() else keep


def _keep_mask(
    ids: np.ndarray, tomb: np.ndarray, allowed: np.ndarray | None
) -> np.ndarray | None:
    """Tombstone-exclude ∧ allowed-include keep-mask, or None if total."""
    keep = np.ones(len(ids), dtype=bool)
    if len(tomb):
        keep &= ~np.isin(ids, tomb)
    if allowed is not None:
        keep &= np.isin(ids, allowed)
    return None if keep.all() else keep


def _load_allowed(path: str) -> np.ndarray:
    """external_id column of an ids parquet (file or directory)."""
    tb = _read_parquet_dir(path, columns=["external_id"])
    return tb.column("external_id").to_numpy().astype(np.int64)


def _extend_with_additions(
    out: dict[int, list[tuple[float, int]]],
    qmat: np.ndarray,
    add_ids: np.ndarray,
    add_mat: np.ndarray | None,
    k: int,
    metric: str,
) -> None:
    """Brute-force-score additions for every query and merge into ``out``
    — the ``knn_bruteforce_expr(additions) unionByName`` branch of the
    DataFrame paths.  ``metric`` is the INTERNAL scoring space of the
    caller (squared for sos/l2 pre-finalize; cosine direct)."""
    if add_mat is None or len(add_ids) == 0:
        return
    dm = _pairwise_distances(qmat, add_mat, metric)
    keep = min(k, dm.shape[1])
    for qi in range(qmat.shape[0]):
        idx = np.lexsort((add_ids, dm[qi]))[:keep]
        out[qi].extend((float(dm[qi, j]), int(add_ids[j])) for j in idx)


def _route_files(
    qmat: np.ndarray, centroids: np.ndarray, nprobe: int
) -> dict[int, list[int]]:
    """partition_id → [query positions]: per query the nprobe nearest
    centroids, ties by partition id (same contract as ``route_queries``)."""
    d = (
        np.sum(qmat * qmat, axis=1)[:, None]
        + np.sum(centroids * centroids, axis=1)[None, :]
        - 2.0 * (qmat @ centroids.T)
    )
    nprobe = min(nprobe, centroids.shape[0])
    part_queries: dict[int, list[int]] = {}
    for qi in range(qmat.shape[0]):
        probes = np.argsort(d[qi], kind="stable")[:nprobe]
        for p in probes:
            part_queries.setdefault(int(p), []).append(qi)
    return part_queries


def _pairwise_distances(qmat: np.ndarray, x: np.ndarray, metric: str) -> np.ndarray:
    """(nq, nb) distance matrix — cosine matches the engine kernel's
    1 − ip/(|q||x|) form; sos/l2 use the BLAS identity (l2's sqrt is
    applied at finalize so per-partition merges compare squared values,
    same as the DataFrame path).  inner_product returns NEGATED scores so
    ascending merge order = best-first; finalize negates back."""
    if metric == "inner_product":
        return -(qmat @ x.T)
    if metric == "cosine":
        ip = qmat @ x.T
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        xn = np.linalg.norm(x, axis=1, keepdims=True)
        denom = qn @ xn.T
        with np.errstate(divide="ignore", invalid="ignore"):
            return 1.0 - np.where(denom > 0, ip / denom, 0.0)
    dm = (
        np.sum(qmat * qmat, axis=1)[:, None]
        + np.sum(x * x, axis=1)[None, :]
        - 2.0 * (qmat @ x.T)
    )
    np.maximum(dm, 0.0, out=dm)
    return dm


def _decode_vector_column(tb, vector_dtype: str, n: int) -> np.ndarray:
    if vector_dtype == "float32":
        return np.array(tb.column("vector").to_pylist(), dtype=np.float64)
    raw = np.frombuffer(
        b"".join(tb.column("vector").to_pylist()),
        dtype=np.uint8 if vector_dtype == "uint8" else np.int8,
    )
    return raw.reshape(n, -1).astype(np.float64)


def _normalize_queries_f32(qmat: np.ndarray) -> np.ndarray:
    """Mirror the DataFrame path's query normalization EXACTLY: Catalyst's
    ``normalize_expr(...).cast("array<float>")`` rounds the normalized
    components to float32, so the numpy twin must too or parities drift."""
    norms = np.linalg.norm(qmat, axis=1, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        normed = np.where(norms > 0, qmat / norms, qmat)
    return normed.astype(np.float32).astype(np.float64)


def _finalize(
    qids: np.ndarray,
    out: dict[int, list[tuple[float, int]]],
    k: int,
    sqrt: bool = False,
    halve: bool = False,
    negate: bool = False,
) -> list[tuple[int, int, float, int]]:
    results: list[tuple[int, int, float, int]] = []
    for qi in range(len(qids)):
        merged = sorted(out[qi])[:k]
        for rank, (dist, eid) in enumerate(merged, 1):
            if sqrt:
                dist = float(np.sqrt(dist))
            elif halve:
                dist = dist / 2.0
            elif negate:  # inner_product: undo the merge-order negation
                dist = -dist
            results.append((int(qids[qi]), eid, dist, rank))
    return results


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
    """
    if start_timestamp is not None:
        meta0, _lts, metric0, _vd, _p = _open_index_meta(uri, None)
        if int(start_timestamp) > int(meta0["ingestions"][0]["ts"]):
            tomb, add_ids, add_mat = _load_updates(
                uri,
                int(start_timestamp) - 1,  # (lo exclusive] → [start, end]
                timestamp,
                committed_ts=[
                    int(t) for t in meta0.get("update_batches", [])
                ],
            )
            if allowed_ids_path is not None and add_mat is not None:
                keep = np.isin(add_ids, _load_allowed(allowed_ids_path))
                add_ids, add_mat = add_ids[keep], add_mat[keep]
            if add_mat is None or len(add_ids) == 0:
                return []
            dm = _pairwise_distances(qmat, add_mat, metric0)
            keep_n = min(k, dm.shape[1])
            out: dict[int, list[tuple[float, int]]] = {}
            for qi in range(len(qids)):
                order = np.lexsort((add_ids, dm[qi]))[:keep_n]
                out[qi] = [
                    (float(dm[qi, j]), int(add_ids[j])) for j in order
                ]
            return _finalize(
                qids, out, k,
                sqrt=metric0 == "l2",
                negate=metric0 == "inner_product",
            )
    meta, ts, metric, vector_dtype, pending = _open_index_meta(uri, timestamp)
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
    else:
        l_search = None
    upd = (
        _load_updates(
            uri, ts, timestamp,
            committed_ts=[int(t) for t in meta.get("update_batches", [])],
        )
        if pending
        else (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), None)
    )
    allowed = None
    if allowed_ids_path is not None:
        if meta["index_type"] == "VAMANA":
            raise ValueError(
                "allowed_ids filtering supports FLAT/IVF_FLAT/IVF_PQ; "
                "VAMANA uses the over-fetch path (a pre-filtered graph "
                "walk changes recall semantics)"
            )
        allowed = _load_allowed(allowed_ids_path)
        tomb_, add_ids_, add_mat_ = upd
        if add_mat_ is not None and len(add_ids_):
            keep = np.isin(add_ids_, allowed)
            upd = (tomb_, add_ids_[keep], add_mat_[keep])
    if meta["index_type"] == "IVF_PQ":
        return _search_ivf_pq_files(
            uri, meta, ts, metric, vector_dtype, qids, qmat, k, nprobe,
            k_factor, upd, allowed,
        )
    if k_factor != 1.0:
        raise ValueError("k_factor applies to IVF_PQ indexes only")
    if meta["index_type"] == "VAMANA":
        return _search_vamana_files(
            uri, ts, metric, vector_dtype, qids, qmat, k, nprobe, upd,
            l_search=l_search,
        )
    if meta["index_type"] == "FLAT":
        return _search_flat_files(
            uri, ts, metric, vector_dtype, qids, qmat, k, upd, allowed
        )

    if metric == "cosine":
        # the DataFrame path normalizes queries (float32-cast) before
        # routing and scores 1 − ip/(|q||x|) in the kernel — mirror both
        qmat = _normalize_queries_f32(qmat)
    tomb, add_ids, add_mat = upd
    centroids = _load_centroids(uri, ts)
    base = posixpath.join(uri, "base", f"ts={ts}")
    part_queries = _route_files(qmat, centroids, nprobe)

    out: dict[int, list[tuple[float, int]]] = {qi: [] for qi in range(len(qids))}
    for pid, qlist in sorted(part_queries.items()):
        pdir = posixpath.join(base, f"partition_id={pid}")
        if not _is_dir(pdir):
            continue  # empty partition: no directory was written
        tb = _read_parquet_dir(pdir, columns=["external_id", "vector"])
        ids = tb.column("external_id").to_numpy()
        x = _decode_vector_column(tb, vector_dtype, len(ids))
        mask = _keep_mask(ids, tomb, allowed)
        if mask is not None:
            ids, x = ids[mask], x[mask]
            if len(ids) == 0:
                continue
        sub = qmat[qlist]
        dm = _pairwise_distances(sub, x, metric)
        keep = min(k, dm.shape[1])
        for row, qi in enumerate(qlist):
            idx = np.lexsort((ids, dm[row]))[:keep]
            out[qi].extend((float(dm[row, j]), int(ids[j])) for j in idx)

    # partial-probe overlay: EVERY query scans the bridge pseudo-
    # partition exactly, mirroring IVFFlatIndex.query — the persisted
    # recall curve is measured WITH overlay probing, so skipping it here
    # would silently under-deliver any recall_target resolved from it.
    # Overlay rows are copies of base rows (pre-normalized for cosine),
    # scored in the loop's own internal space; a member whose home
    # partition was also probed appears twice and min() dedups, exactly
    # the DataFrame path's groupBy(query, id).agg(min(distance))
    ov_dir = posixpath.join(uri, "aux", "ivf_overlay", f"ts={ts}")
    if _is_dir(ov_dir):
        ov_tb = _read_parquet_dir(ov_dir, columns=["external_id", "vector"])
        ov_ids = ov_tb.column("external_id").to_numpy()
        ov_x = _decode_vector_column(ov_tb, vector_dtype, len(ov_ids))
        ov_mask = _keep_mask(ov_ids, tomb, allowed)
        if ov_mask is not None:
            ov_ids, ov_x = ov_ids[ov_mask], ov_x[ov_mask]
        if len(ov_ids):
            ov_dm = _pairwise_distances(qmat, ov_x, metric)
            ov_keep = min(k, ov_dm.shape[1])
            for qi in range(len(qids)):
                idx = np.lexsort((ov_ids, ov_dm[qi]))[:ov_keep]
                out[qi].extend(
                    (float(ov_dm[qi, j]), int(ov_ids[j])) for j in idx
                )
            for qi in out:
                best: dict[int, float] = {}
                for d, eid in out[qi]:
                    if eid not in best or d < best[eid]:
                        best[eid] = d
                out[qi] = [(d, eid) for eid, d in best.items()]

    # additions scored in the same internal space the loop used (sos/l2
    # stay squared until _finalize's sqrt; cosine is direct) — stored
    # additions are pre-normalized for cosine (normalize_on_write), and
    # _pairwise_distances' cosine form is scale-invariant regardless
    _extend_with_additions(out, qmat, add_ids, add_mat, k, metric)
    return _finalize(qids, out, k, sqrt=metric == "l2")


def _search_ivf_pq_files(
    uri: str,
    meta: dict,
    ts: int,
    metric: str,
    vector_dtype: str,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    nprobe: int,
    k_factor: float,
    upd: tuple[np.ndarray, np.ndarray, np.ndarray | None],
    allowed: np.ndarray | None = None,
) -> list[tuple[int, int, float, int]]:
    """ADC scan over the packed ``code`` column + optional exact re-rank.

    Mirrors ``IVFPQIndex.query(strategy="kernel")`` exactly: the same
    per-query lookup tables (``ivf_pq.py:_adc_scores``), (distance, id)
    tie-breaks, and metric scaling — pinned by a parity test.  Per-task IO:
    the coarse pass reads (external_id, code) of probed partitions only —
    ``num_subspaces`` bytes per row — and the re-rank pass re-reads ONLY
    the candidate rows' partitions' (external_id, vector).
    """
    import math

    tomb, add_ids, add_mat = upd
    m = int(meta["num_subspaces"])
    centroids = _load_centroids(uri, ts)

    # codebooks aux table → (m, n_codes, sub_dim)
    cb_tb = _read_parquet_dir(posixpath.join(uri, "aux", "pq_codebooks", f"ts={ts}"))
    subspace = cb_tb.column("subspace").to_numpy()
    code = cb_tb.column("code").to_numpy()
    cents = cb_tb.column("centroid").to_pylist()
    n_codes = int(code.max()) + 1
    sub_dim = len(cents[0])
    cb = np.empty((m, n_codes, sub_dim), dtype=np.float64)
    for j, c, v in zip(subspace, code, cents):
        cb[int(j), int(c)] = v

    # per-query ADC tables: table[q, j, c] = ||q_sub_j − cb[j, c]||².
    # residual indexes (meta pq_residual, storage spark-0.3) shift the
    # target by the probed partition's centroid — tables are then built
    # per (partition, routed query) inside the partition loop, mirroring
    # IVFPQIndex._adc_scores exactly.
    residual = bool(meta.get("pq_residual", False))
    nq = qmat.shape[0]
    cb_sq = np.sum(cb * cb, axis=2)  # (m, n_codes)

    def _build_tables(q_block: np.ndarray) -> np.ndarray:
        t = np.empty((q_block.shape[0], m, n_codes), dtype=np.float64)
        for j in range(m):
            qs = q_block[:, j * sub_dim : (j + 1) * sub_dim]
            t[:, j, :] = (
                np.sum(qs * qs, axis=1)[:, None]
                + cb_sq[j][None, :]
                - 2.0 * (qs @ cb[j].T)
            )
        np.maximum(t, 0.0, out=t)
        return t

    if not residual:
        tables = _build_tables(qmat)

    base = posixpath.join(uri, "base", f"ts={ts}")
    part_queries = _route_files(qmat, centroids, nprobe)
    coarse_k = max(k, int(math.ceil(k * k_factor)))
    arange_m = np.arange(m)

    out: dict[int, list[tuple[float, int]]] = {qi: [] for qi in range(nq)}
    cand_pids: dict[int, set[int]] = {}  # external_id -> candidate partitions
    for pid, qlist in sorted(part_queries.items()):
        pdir = posixpath.join(base, f"partition_id={pid}")
        if not _is_dir(pdir):
            continue
        tb = _read_parquet_dir(pdir, columns=["external_id", "code"])
        ids = tb.column("external_id").to_numpy()
        codes = np.frombuffer(
            b"".join(tb.column("code").to_pylist()), dtype=np.uint8
        ).reshape(len(ids), m)
        mask = _keep_mask(ids, tomb, allowed)
        if mask is not None:
            ids, codes = ids[mask], codes[mask]
            if len(ids) == 0:
                continue
        keep = min(coarse_k, len(ids))
        if residual:
            pid_tables = _build_tables(qmat[qlist] - centroids[pid][None, :])
        for i, qi in enumerate(qlist):
            t = pid_tables[i] if residual else tables[qi]
            dv = t[arange_m[None, :], codes].sum(axis=1)
            idx = np.lexsort((ids, dv))[:keep]
            out[qi].extend((float(dv[j]), int(ids[j])) for j in idx)
            for j in idx:
                cand_pids.setdefault(int(ids[j]), set()).add(pid)

    # partial-probe overlay (aux pseudo-partition of RAW vectors):
    # EVERY query scores the bridge set EXACTLY in sos space — the
    # persisted recall curve is measured WITH overlay probing, so the
    # SQL twin must probe it too or a resolved recall_target silently
    # under-delivers.  min() per (query, id) keeps the tighter estimate
    # when a member's home partition was also probed (exact vs ADC, or
    # exact vs exact after a re-rank) — the DataFrame path's
    # groupBy(query, id).agg(min(distance)) semantics.
    ov_dir = posixpath.join(uri, "aux", "pq_overlay", f"ts={ts}")
    ov: tuple[np.ndarray, np.ndarray] | None = None
    if _is_dir(ov_dir):
        ov_tb = _read_parquet_dir(ov_dir, columns=["external_id", "vector"])
        ov_ids = ov_tb.column("external_id").to_numpy()
        ov_x = _decode_vector_column(ov_tb, vector_dtype, len(ov_ids))
        ov_mask = _keep_mask(ov_ids, tomb, allowed)
        if ov_mask is not None:
            ov_ids, ov_x = ov_ids[ov_mask], ov_x[ov_mask]
        if len(ov_ids):
            ov = (ov_ids, ov_x)

    def _merge_overlay(target: dict[int, list[tuple[float, int]]]) -> None:
        if ov is None:
            return
        o_ids, o_x = ov
        dm = _pairwise_distances(qmat, o_x, "sum_of_squares")
        o_keep = min(k, dm.shape[1])
        for qi in range(nq):
            idx = np.lexsort((o_ids, dm[qi]))[:o_keep]
            target[qi].extend(
                (float(dm[qi, j]), int(o_ids[j])) for j in idx
            )
        for qi in target:
            best: dict[int, float] = {}
            for d, eid in target[qi]:
                if eid not in best or d < best[eid]:
                    best[eid] = d
            target[qi] = [(d, eid) for eid, d in best.items()]

    if k_factor <= 1.0:
        _merge_overlay(out)
        # additions are scored EXACTLY (the DataFrame path's
        # knn_bruteforce_expr branch) and merge with the base's ADC
        # approximations — identical to IVFPQIndex.query semantics
        _extend_with_additions(out, qmat, add_ids, add_mat, k, "sum_of_squares")
        return _finalize(qids, out, k, sqrt=metric == "l2")

    # exact re-rank: trim to coarse_k per query, then re-score those ids
    # from the ORIGINAL vectors of just the partitions candidates live in
    needed: dict[int, set[int]] = {}  # pid -> external ids to load
    per_q_cand: dict[int, list[int]] = {}
    for qi in range(nq):
        cand = [eid for _, eid in sorted(out[qi])[:coarse_k]]
        per_q_cand[qi] = cand
        for eid in cand:
            for pid in cand_pids[eid]:
                needed.setdefault(pid, set()).add(eid)
    vec_of: dict[int, np.ndarray] = {}
    for pid, eids in sorted(needed.items()):
        pdir = posixpath.join(base, f"partition_id={pid}")
        tb = _read_parquet_dir(pdir, columns=["external_id", "vector"])
        ids = tb.column("external_id").to_numpy()
        x = _decode_vector_column(tb, vector_dtype, len(ids))
        mask = np.isin(ids, np.fromiter(eids, dtype=np.int64))
        for eid, vec in zip(ids[mask], x[mask]):
            vec_of[int(eid)] = vec

    exact: dict[int, list[tuple[float, int]]] = {}
    for qi in range(nq):
        qv = qmat[qi]
        scored = []
        for eid in set(per_q_cand[qi]):
            diff = vec_of[eid] - qv
            scored.append((float(np.dot(diff, diff)), eid))
        exact[qi] = scored
    _merge_overlay(exact)
    # additions bypass the coarse/re-rank pair entirely — they are exact
    # from the start (the DataFrame path unions them after the re-rank)
    _extend_with_additions(exact, qmat, add_ids, add_mat, k, "sum_of_squares")
    return _finalize(qids, exact, k, sqrt=metric == "l2")


def _search_flat_files(
    uri: str,
    ts: int,
    metric: str,
    vector_dtype: str,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    upd: tuple[np.ndarray, np.ndarray, np.ndarray | None],
    allowed: np.ndarray | None = None,
) -> list[tuple[int, int, float, int]]:
    """Brute-force scan of the (unpartitioned) FLAT snapshot.

    Per-task IO = the whole corpus — exactly the FLAT contract; the
    partition-pruned types are the scale path.  ``nprobe`` does not apply.
    Updates fold into the scanned set itself (``effective_vectors``
    semantics: base ∖ updated_ids ∪ additions).
    """
    tomb, add_ids, add_mat = upd
    base = posixpath.join(uri, "base", f"ts={ts}")
    tb = _read_parquet_dir(base, columns=["external_id", "vector"])
    ids = tb.column("external_id").to_numpy()
    x = _decode_vector_column(tb, vector_dtype, len(ids))
    mask = _keep_mask(ids, tomb, allowed)
    if mask is not None:
        ids, x = ids[mask], x[mask]
    if add_mat is not None and len(add_ids):
        if len(ids) == 0:
            ids, x = add_ids, add_mat
        else:
            ids = np.concatenate([ids, add_ids])
            x = np.concatenate([x, add_mat], axis=0)
    if len(ids) == 0:  # fully tombstoned, nothing added
        return []
    # FLAT stores raw vectors (no normalize-on-write); cosine is computed
    # directly by the kernel formula, queries NOT pre-normalized;
    # inner_product scores merge negated (best-first) and un-negate at
    # finalize — the DataFrame path's (distance desc, id asc) ordering
    dm = _pairwise_distances(qmat, x, metric)
    keep = min(k, dm.shape[1])
    out: dict[int, list[tuple[float, int]]] = {}
    for qi in range(len(qids)):
        idx = np.lexsort((ids, dm[qi]))[:keep]
        out[qi] = [(float(dm[qi, j]), int(ids[j])) for j in idx]
    return _finalize(
        qids, out, k, sqrt=metric == "l2", negate=metric == "inner_product"
    )


def _search_vamana_files(
    uri: str,
    ts: int,
    metric: str,
    vector_dtype: str,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    nprobe: int,
    upd: tuple[np.ndarray, np.ndarray, np.ndarray | None],
    l_search: int | None = None,
) -> list[tuple[int, int, float, int]]:
    """Sharded Vamana graph walks over the on-disk index — no SparkSession.

    Routes each query to its nprobe nearest shards, walks each shard's
    graph from its medoid (``ml.vamana.search_vamana_graph`` — the same
    kernel the DataFrame path runs), walks the cross-shard overlay
    pseudo-shard when present, and merges with the (distance, id)
    tie-break.  Per-task IO = probed shard directories only.

    Updates mirror ``VamanaIndex.query``'s lazy-delete contract:
    tombstoned nodes stay in the graph as WAYPOINTS (removing them would
    cut connectivity), each shard over-walks by its tombstone overlap,
    tombstones are dropped from the walk RESULTS, and additions are
    brute-force-scored into the merge.
    """
    from tiledb_vector_search_spark.ml.vamana import (
        adjacency_from_ids,
        medoid_position,
        search_vamana_graph,
    )

    if metric == "cosine":
        # stored vectors are pre-normalized (normalize_on_write); mirror
        # the DataFrame path's query normalization, walk in sos space and
        # halve at finalize (unit vectors: cosine distance = sos/2)
        qmat = _normalize_queries_f32(qmat)
    centroids = _load_centroids(uri, ts)
    med_tb = _read_parquet_dir(posixpath.join(uri, "aux", "vamana_medoids", f"ts={ts}"))
    medoids = {
        int(p): int(m)
        for p, m in zip(
            med_tb.column("partition_id").to_pylist(),
            med_tb.column("medoid_id").to_pylist(),
        )
    }
    base = posixpath.join(uri, "base", f"ts={ts}")
    part_queries = _route_files(qmat, centroids, nprobe)
    overlay_dir = posixpath.join(uri, "aux", "vamana_overlay", f"ts={ts}")
    if l_search is None:
        l_search = max(2 * k, 50)  # VamanaIndex.query default

    out: dict[int, list[tuple[float, int]]] = {qi: [] for qi in range(len(qids))}

    tomb, add_ids, add_mat = upd
    tomb_set = set(tomb.tolist())

    def walk_group(tb, pid: int, qlist: list[int]) -> None:
        ids = tb.column("external_id").to_numpy()
        x = _decode_vector_column(tb, vector_dtype, len(ids))
        # over-walk past this group's tombstones so k survivors remain
        # after the result-side filter (the DataFrame path's eff_k; the
        # kernel widens the beam to max(l_search, eff_k) itself, and the
        # first k SURVIVORS are invariant to any eff_k ≥ k + overlap)
        n_tomb = int(np.isin(ids, tomb).sum()) if tomb_set else 0
        eff_k = k + n_tomb
        if pid == -1:
            # overlay pseudo-shard: EXACT scan of the capped bridge set —
            # mirrors the DataFrame kernel (the overlay stores no graph
            # since r6; an old overlay's graph columns are ignored).
            # _pairwise_distances clamps at 0 — the raw BLAS identity can
            # emit ~-1e-16 for exact matches, which np.sqrt turns to NaN
            # under L2
            d = _pairwise_distances(
                qmat[qlist].astype(np.float64),
                x.astype(np.float64),
                "sum_of_squares",
            )
            take = min(eff_k, len(ids))
            for r_i, qi in enumerate(qlist):
                top = np.argpartition(d[r_i], take - 1)[:take]
                out[qi].extend(
                    (float(d[r_i][p]), int(ids[p]))
                    for p in top
                    if int(ids[p]) not in tomb_set
                )
            return
        adj, deg = adjacency_from_ids(
            ids, tb.column("neighbors").to_numpy(zero_copy_only=False)
        )
        vi, vd = search_vamana_graph(
            x, adj, deg, medoid_position(ids, medoids.get(pid)),
            qmat[qlist], eff_k, l_search,
        )
        for qi, row_i, row_d in zip(qlist, vi, vd):
            out[qi].extend(
                (float(d), int(ids[p]))
                for p, d in zip(row_i, row_d)
                if p >= 0 and int(ids[p]) not in tomb_set
            )

    for pid, qlist in sorted(part_queries.items()):
        pdir = posixpath.join(base, f"partition_id={pid}")
        if not _is_dir(pdir):
            continue
        walk_group(
            _read_parquet_dir(pdir, columns=["external_id", "vector", "neighbors"]),
            pid,
            qlist,
        )
    if _is_dir(overlay_dir):
        # the bridge graph is probed by EVERY query (pseudo-shard -1)
        walk_group(
            _read_parquet_dir(
                overlay_dir, columns=["external_id", "vector", "neighbors"]
            ),
            -1,
            list(range(len(qids))),
        )
        # a vector can surface from both its shard and the overlay
        for qi in out:
            best: dict[int, float] = {}
            for d, eid in out[qi]:
                if eid not in best or d < best[eid]:
                    best[eid] = d
            out[qi] = [(d, eid) for eid, d in best.items()]
    # additions merge in the walk's sos space (finalize halves for cosine
    # — stored additions are pre-normalized, so sos/2 = cosine distance)
    _extend_with_additions(out, qmat, add_ids, add_mat, k, "sum_of_squares")
    return _finalize(
        qids, out, k, sqrt=metric == "l2", halve=metric == "cosine"
    )


class AnnSearchUDTF:
    """Python UDTF: accumulate this task's query slice, search at terminate.

    ``eval`` receives one query row plus the constant (uri, k, nprobe
    [, k_factor]) arguments; ``terminate`` runs one batched file-pruned
    IVF/IVF_PQ search so the per-partition IO amortizes over every query
    in the task.
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
