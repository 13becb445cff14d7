"""Abstract index: open/query/update/delete/consolidate/time-travel.

Mirrors the reference's ``Index`` ABC (``apis/python/src/tiledb/vector_search/
index.py:22-177``) and its DML surface (``index.py:418-577``), re-expressed
as lazy DataFrame plans over :class:`~tiledb_vector_search_spark.storage.
IndexStorage`.

Query-with-updates semantics (reference ``index.py:352-416``): the reference
over-fetches 2k from the immutable base, masks ids present in the updates
log, brute-forces the additions, and re-ranks the union.  Spark can do better
than the 2k heuristic: the updated ids are *anti-joined out before* top-k, so
the base branch is exact, then the additions branch unions in and one final
window re-ranks — a single lazy plan, no thread fork
(the reference's ``ThreadPoolExecutor`` at ``index.py:356`` becomes two
branches of one DAG).
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledb_vector_search_spark.driver_io import (
    list_files,
    local_os_path,
    read_small_table,
)
from tiledb_vector_search_spark.functions.distance import (
    DistanceMetric,
    normalize_expr,
)
from tiledb_vector_search_spark.operators import knn as _knn
from tiledb_vector_search_spark.operators.routing import (
    queries_by_partition,
    routing_table_join,
)
from tiledb_vector_search_spark.operators.topk import pad_to_k, topk_window
from tiledb_vector_search_spark.schemas import (
    DISTANCE_COL,
    ID_COL,
    PARTITION_COL,
    QUERY_ID_COL,
    VECTOR_COL,
    integral_id_col,
)
from tiledb_vector_search_spark.storage import (
    LONG_LEASE_TTL_MS,
    IndexStorage,
    cached_snapshot_artifact,
    locked_mutation,
    now_ms,
)
from tiledb_vector_search_spark.session import small_df

# Consolidate the updates log automatically once it accumulates this many
# appended batches (reference: >10 update fragments, ``index.py:837-858``).
MAX_UPDATE_BATCHES = 10



# Query kwargs some OTHER index type names (cross-type tolerance: the
# streaming search, the screen, and ObjectIndex forward one query_kwargs
# dict to whatever index type the uri holds, so FLAT must absorb nprobe
# and IVF must absorb l_search as no-ops) plus the reference's
# driver-scheduling knobs (no-ops on Spark — its scheduler replaces the
# cloud DAG).  Anything OUTSIDE this set is a typo, and silently
# swallowing it means a knob the caller thinks they set changed nothing.
QUERY_KWARG_TOLERANCE = {
    "nprobe", "k_factor", "l_search", "memory_budget_mb", "strategy",
    "pad", "allowed_ids", "excluded_ids", "recall_target",
    "nthreads", "mode", "resources", "num_workers", "num_partitions",
    "driver_mode", "driver_resource_class", "driver_resources",
    "driver_access_credentials_name", "use_nuv_implementation",
}


def check_query_kwargs(kw: dict, context: str) -> None:
    unknown = set(kw) - QUERY_KWARG_TOLERANCE
    if unknown:
        raise TypeError(
            f"{context}: unknown query kwarg(s) {sorted(unknown)} — "
            "unrecognized knobs are refused rather than silently "
            "ignored; tolerated cross-type/no-op kwargs: "
            f"{sorted(QUERY_KWARG_TOLERANCE)}"
        )


def decode_centroids(table) -> np.ndarray:
    """A centroids table (partition_id, centroid) as a float64 matrix,
    one row per partition in ``partition_id`` order."""
    order = np.argsort(table.column(PARTITION_COL).to_numpy(), kind="stable")
    cents = np.array(table.column("centroid").to_pylist(), dtype=np.float64)
    return cents[order]


class Index:
    """Base class; concrete indexes implement ``_ingest`` and ``query``."""

    index_type = "BASE"
    # consolidation knobs this index type honors; anything else passed to
    # consolidate_updates is refused BY NAME — the same contract as query
    # kwargs (a knob the caller thinks they set must never silently
    # change nothing).  recall_curve/timestamp are handled before the
    # subclass sees kwargs.
    CONSOLIDATE_KWARGS: frozenset = frozenset()
    # True for index types that store vectors pre-normalized for COSINE
    # (reference IVFFlatIndex normalizes updates before writing,
    # ``ivf_flat_index.py:313-325``); FLAT stores raw and scores cosine at
    # query time, so it stays False.
    normalize_on_write = False

    def __init__(
        self,
        spark: SparkSession,
        uri: str,
        timestamp: "int | tuple[int | None, int | None] | None" = None,
    ):
        self.spark = spark
        self.storage = IndexStorage(spark, uri)
        if not self.storage.exists():
            raise FileNotFoundError(f"no index at {uri}")
        self.meta = self.storage.read_meta()
        if self.meta.get("index_type") != self.index_type:
            raise ValueError(
                f"index at {uri} is {self.meta.get('index_type')}, "
                f"not {self.index_type}"
            )
        # Range open (reference ``index.py:117-150``):
        # ``timestamp=(start, end)`` reads the index over a WINDOW.
        # With ``start`` past the first ingestion the base is excluded
        # entirely (reference ``query_base_array=False``) and the
        # logical set is the update batches in [start, end] — "what
        # changed in this window".  Otherwise the range covers the
        # corpus from its beginning and is fold-equivalent to an int
        # open at ``end``: the reference resolves to the FIRST base +
        # every update through ``end`` (``index.py:132-149``); the
        # newest base ≤ end + its own window is the same logical row
        # set (a consolidated base IS its predecessor plus the folded
        # batches) and stays readable after that first base is
        # vacuumed.
        self.query_base_array = True
        self.range_lo: int | None = None
        if isinstance(timestamp, (tuple, list)):
            if len(timestamp) != 2:
                raise ValueError(
                    "'timestamp' tuple expects (start, end), ints or None "
                    f"— got {timestamp!r}"
                )
            start, end = timestamp
            first_ts = int(self.meta["ingestions"][0]["ts"])
            self.timestamp = int(end) if end is not None else None
            if start is not None and int(start) > first_ts:
                self.query_base_array = False
                self.range_lo = int(start)
                self.base_ts = None
                return
            timestamp = self.timestamp
        else:
            self.timestamp = timestamp
        self.base_ts = self.storage.resolve_base_ts(timestamp)
        if self.base_ts is None:
            raise ValueError(f"no ingestion at or before timestamp={timestamp}")

    # -- properties ----------------------------------------------------------

    @property
    def uri(self) -> str:
        return self.storage.uri

    @property
    def metric(self) -> DistanceMetric:
        return DistanceMetric(self.meta["metric"])

    @property
    def dimensions(self) -> int:
        return int(self.meta["dimensions"])

    def get_dimensions(self) -> int:
        """Reference method-name parity (``index.py`` exposes
        ``get_dimensions()`` on every index class)."""
        return self.dimensions

    @property
    def vector_dtype(self) -> str:
        """Stored vector element type: float32 (array column) or uint8/int8
        (packed binary column; reference dispatch ``module.py:114-121``)."""
        return self.meta.get("vector_dtype", "float32")

    def describe(self) -> dict[str, Any]:
        """Operational snapshot: identity, logical size, updates-log debt,
        and (per index type) partition balance — the numbers an operator
        needs before pointing a 1000-executor job at the index.  ONE
        Spark job over the base (a partition-column aggregate) plus the
        already-loaded meta; the updates log is counted only if present.
        """
        lo, hi = self._updates_window()
        # re-read meta from storage: update_batch() appends to disk without
        # refreshing the open-time self.meta snapshot, so the cached copy
        # under-reports log debt on a handle that just wrote updates
        batches = self.storage.read_meta().get("update_batches", [])
        pending = [
            int(ts)
            for ts in batches
            if (lo is None or ts > lo) and (hi is None or ts <= hi)
        ]
        out: dict[str, Any] = {
            "uri": self.uri,
            "index_type": self.index_type,
            "metric": self.metric.value,
            "dimensions": self.dimensions,
            "vector_dtype": self.vector_dtype,
            "base_ts": self.base_ts,
            "opened_at": self.timestamp,
            "size": self.size(),
            "pending_update_batches": len(pending),
        }
        if not self.query_base_array:
            # updates-only range open: no base → no partition balance /
            # overlay extras to report; say what the handle IS instead
            out["range_open"] = [self.range_lo, self.timestamp]
            return out
        out.update(self._describe_extra())
        return out

    def _describe_extra(self) -> dict[str, Any]:
        return {}

    def _partition_balance(self, partition_col: str) -> dict[str, Any]:
        """min/mean/max rows per storage partition + skew = max/mean (the
        straggler multiplier a probe-routed scan pays on the hot shard)."""
        row = (
            self._base_vectors()
            .groupBy(partition_col)
            .count()
            .agg(
                F.count("*").alias("nparts"),
                F.min("count").alias("pmin"),
                F.avg("count").alias("pavg"),
                F.max("count").alias("pmax"),
            )
            .first()
        )
        if not row or not row["nparts"]:
            return {}
        return {
            "partition_rows_min": int(row["pmin"]),
            "partition_rows_mean": round(float(row["pavg"]), 1),
            "partition_rows_max": int(row["pmax"]),
            "partition_skew": round(row["pmax"] / row["pavg"], 3),
        }

    # -- effective vector set (base ⊖ updated ⊕ additions) --------------------

    def _base_vectors(self) -> DataFrame:
        if not self.query_base_array:
            raise ValueError(
                "this handle is an updates-only range open "
                "(timestamp=(start, end) with start past the first "
                "ingestion) — it has no base snapshot.  Open with an "
                "int timestamp for base-backed operations."
            )
        # one parquet-reader resolution (file listing + schema) per
        # SNAPSHOT per session, not per query: resolving the reader costs
        # ~0.1 s of driver/py4j round-trips, and streaming re-opens the
        # handle every micro-batch.  The base layout under a snapshot is
        # immutable (nonce-keyed), so the resolved plan stays valid.
        return self._snapshot_memo(
            "base_df",
            lambda: self.storage.read_base(self.base_ts),
            per_session=True,
        )

    def _snapshot_memo(self, name: str, load, per_session: bool = False):
        """``load()`` once per handle and once per process per snapshot.

        Every artifact under a snapshot is immutable, so it is cached
        under ``(name[, id(spark)], uri, base_ts, snapshot_nonce)`` by
        ``storage.cached_snapshot_artifact``: streaming loops re-open the
        index every micro-batch and would otherwise pay the read each
        time.
        ``per_session`` keys DataFrames by their session.  Legacy meta
        without a nonce memoizes per handle only."""
        memo = self.__dict__.setdefault("_snapshot_memos", {})
        if name not in memo:
            nonce = self._snapshot_nonce()
            if nonce is None:
                memo[name] = load()
            else:
                key = (name, id(self.spark)) if per_session else (name,)
                memo[name] = cached_snapshot_artifact(
                    key + (self.uri, self.base_ts, nonce), load
                )
        return memo[name]

    def _base_entry(self) -> dict:
        for e in reversed(self.meta["ingestions"]):
            if e["ts"] == self.base_ts:
                return e
        raise RuntimeError("no ingestion entry for base_ts")

    def _snapshot_nonce(self) -> "str | None":
        return self._base_entry().get("snapshot_nonce")

    @property
    def partitions(self) -> int:
        return int(self._base_entry()["partitions"])

    def centroids(self) -> np.ndarray:
        """Routing centroids of the base snapshot, in partition order."""
        return self._snapshot_memo(
            "centroids",
            lambda: decode_centroids(
                read_small_table(
                    self.spark, self.storage.centroids_path(self.base_ts)
                )
            ),
        )

    def _partition_bytes(self) -> dict:
        """On-disk bytes per base partition, one FS walk per snapshot.

        Used to right-size pruned kernel scans (``_kernel_scan_tasks``)
        and the finite-RAM partition groups without a per-query listing
        — the layout under ``base_path(base_ts)`` is immutable, so the
        map is memoized per snapshot.  Local layouts list with pyarrow:
        the JVM ``RemoteIterator`` costs ~4 py4j round-trips PER FILE
        (0.7 s on a 32-partition snapshot, paid on the first query of
        every fresh index); other URIs keep the Hadoop listing."""

        def load():
            base = self.storage.base_path(self.base_ts)
            if local_os_path(base) is not None:
                files = list_files(base)
            else:
                files = self.storage.fs.list_files(base)
            prefix = f"{PARTITION_COL}="
            sizes: dict[int, int] = {}
            for path, size in files:
                segs = path.split("/")
                if segs[-1].startswith((".", "_")):
                    continue
                seg = next((g for g in segs if g.startswith(prefix)), None)
                if seg is None:
                    continue
                try:
                    pid = int(seg[len(prefix):])
                except ValueError:
                    continue
                sizes[pid] = sizes.get(pid, 0) + int(size)
            return sizes

        return self._snapshot_memo("part_bytes", load)

    # per-task scoring budget for the kernel scan, in bytes·queries:
    # scoring CPU ∝ probed bytes × routed queries, and ~8e8 byte·query
    # products ≈ 0.1-0.3 s of numpy per task — small enough to stay
    # latency-shaped, large enough that the fixed Arrow/Python worker
    # round-trip (~10 ms) is noise
    KERNEL_TASK_BYTE_QUERIES = 8e8

    def _kernel_scan_tasks(self, group: list, nq: int = 128) -> int:
        """Task count for a pruned kernel scan: ``ceil(bytes/split)`` —
        the arithmetic Spark itself uses for LARGE scans.  Spark floors
        the split count of a small scan at ``spark.sql.files.
        minPartitionNum`` (= default parallelism), so a few-MB probed
        read explodes into one task per core, each paying the fixed
        Arrow/Python worker round-trip for a handful of rows (measured
        ~10 s task time for 0.2 s of scoring on the streaming-search
        row).  ``coalesce`` to the byte-derived count: at 100 TB the
        count exceeds the scan's natural split count and coalesce is a
        no-op, so the behavior is scale-adaptive, not a local[32] tune
        (guide §2.2/§6).  ``spark.tvs.kernelSplitBytes`` overrides the
        per-task target (default 32 MB of packed vectors ≈ 0.1-0.3 s of
        kernel CPU per task at 100-query batches)."""
        try:
            target = int(
                self.spark.conf.get("spark.tvs.kernelSplitBytes", "")
            )
        except (TypeError, ValueError):
            target = 32 * 1024 * 1024
        pbytes = self._partition_bytes()
        gbytes = sum(pbytes.get(int(p), 0) for p in group)
        by_bytes = -(-gbytes // max(target, 1))
        # scoring CPU scales with queries too: a 4096-query batch over a
        # few-MB scan must NOT collapse to one task
        by_cpu = int(gbytes * max(nq, 1) // self.KERNEL_TASK_BYTE_QUERIES)
        return max(1, by_bytes, by_cpu)

    def _updates_window(self) -> tuple[int | None, int | None]:
        if self.range_lo is not None:
            # the storage convention is (lo exclusive, hi inclusive];
            # the reference passes the tuple straight to a TileDB array
            # open whose bounds are inclusive — lo-1 makes [start, end]
            return (self.range_lo - 1, self.timestamp)
        return (self.base_ts, self.timestamp)

    def _has_updates(self) -> bool:
        lo, hi = self._updates_window()
        return self.storage.has_updates(lo, hi)

    def _latest_updates(self) -> DataFrame:
        lo, hi = self._updates_window()
        return self.storage.read_updates(lo, hi)

    def _additions(self) -> DataFrame:
        """Non-deleted latest updates → (external_id, vector)."""
        return (
            self._latest_updates()
            .where(~F.col("is_delete"))
            .select(ID_COL, VECTOR_COL)
        )

    def _updated_ids(self) -> DataFrame:
        return self._latest_updates().select(ID_COL)

    def effective_vectors(self) -> DataFrame:
        """The logical vector set at this index's timestamp.

        base ∖ updated_ids ∪ additions — the anti-join replaces the
        reference's post-hoc sentinel masking (``index.py:377-385``).

        For byte-dtype indexes with updates, the base is promoted to
        ``array<float>`` so it unions with the float-typed updates log (u8/
        i8 values are exactly representable); without updates the packed
        binary column flows straight to the byte-aware kernels.

        An updates-only range open (``timestamp=(start, end)`` with
        ``start`` past the first ingestion) excludes the base entirely —
        the logical set is the non-deleted latest updates in the window
        (reference ``query_base_array=False``, ``index.py:125-131``).
        """
        if not self.query_base_array:
            return self._additions()
        base = self._base_vectors().select(ID_COL, VECTOR_COL)
        if not self._has_updates():
            return base
        from tiledb_vector_search_spark.functions.dtypes import (
            is_byte_dtype,
            unpack_vectors,
        )

        if is_byte_dtype(self.vector_dtype):
            base = unpack_vectors(base, self.vector_dtype, VECTOR_COL)
        return base.join(
            F.broadcast(self._updated_ids()), ID_COL, "left_anti"
        ).unionByName(self._additions())

    def size(self) -> int:
        return self.effective_vectors().count()

    def partition_stats(self) -> DataFrame:
        """(partition_id, rows) of the current base snapshot — the skew
        report for every partitioned index type (IVF_FLAT / IVF_PQ /
        VAMANA shards).  Cells grow unevenly under upsert-heavy churn
        (new data clusters where the corpus is growing, not where the
        centroids were trained), and a hot cell is a hot probe AND a
        hot cogroup task.  ``max(rows)/mean(rows)`` is the skew factor;
        on every partitioned type (IVF_FLAT / IVF_PQ / VAMANA, r11)
        feed the result to
        ``consolidate_updates(split_hot_cells=True)``."""
        base = self._base_vectors()
        if "partition_id" not in base.columns:
            raise NotImplementedError(
                f"{type(self).__name__} has no partitions "
                "(exact index types scan the whole corpus)"
            )
        return base.groupBy("partition_id").agg(F.count("*").alias("rows"))

    # bound the driver k-means work per consolidation: only the
    # hottest cells split in one fold (the next fold picks up the rest
    # — consolidation is periodic), and each cell trains on a bounded
    # hash-ordered sample.  Shared by every partitioned index type
    # (IVF_FLAT cells, IVF_PQ coarse cells, VAMANA shards).
    MAX_SPLIT_CELLS = 64
    SPLIT_SAMPLE_PER_SUB = 256
    SPLIT_SAMPLE_MAX = 20_000

    def _split_pass(
        self,
        vectors: DataFrame,
        centroids: "np.ndarray",
        cell_cap: int | None,
    ) -> "tuple[np.ndarray, DataFrame | None]":
        """First-pass assignment + hot-cell split, the shared front half
        of ``consolidate_updates(split_hot_cells=True)`` on every
        partitioned type.  Assigns ``vectors`` against ``centroids``,
        counts rows per cell, and replaces each over-cap cell's
        centroid with sub-centroids (:meth:`_split_hot_centroids`).

        Returns ``(centroids, first_pass)``: when nothing was hot the
        input centroids come back unchanged WITH the assignment frame
        (reusable — no second corpus scan); when cells split, the new
        centroid set comes back with ``None`` (partition ids changed,
        the caller re-assigns)."""
        import numpy as np  # noqa: F811 — typing alias above

        from tiledb_vector_search_spark.ml.kmeans import (
            assign_partitions_expr,
        )
        from tiledb_vector_search_spark.schemas import PARTITION_COL

        first_pass = assign_partitions_expr(
            vectors, centroids, vector_dtype=self.vector_dtype
        )
        counts = {
            int(r[PARTITION_COL]): int(r["rows"])
            for r in first_pass.groupBy(PARTITION_COL)
            .agg(F.count("*").alias("rows"))
            .collect()
        }
        total = sum(counts.values())
        cap = cell_cap or max(1, 4 * total // max(len(centroids), 1))
        hot = {p: n for p, n in counts.items() if n > cap}
        if not hot:
            return centroids, first_pass
        return (
            self._split_hot_centroids(first_pass, centroids, hot, cap),
            None,
        )

    def _split_hot_centroids(
        self,
        assigned: DataFrame,
        centroids: "np.ndarray",
        hot: "dict[int, int]",
        cap: int,
        seed: int = 42,
    ) -> "np.ndarray":
        """Replace each hot cell's centroid with ``ceil(rows/cap)``
        sub-centroids trained on a bounded hash-ordered sample of that
        cell's own members — ONE sampling job covers every splitting
        cell (a rank-per-cell window, not a per-cell collect loop).
        Cold centroids survive byte-identical; new partition ids are a
        deterministic renumbering (cold cells first in original order,
        then sub-centroids grouped by their source cell).  Hash-ordered
        sampling + fixed seed keep the split bit-reproducible."""
        import numpy as np  # noqa: F811

        from pyspark.sql import Window

        from tiledb_vector_search_spark.functions.dtypes import decode_matrix
        from tiledb_vector_search_spark.ml.kmeans import kmeans_numpy
        from tiledb_vector_search_spark.schemas import PARTITION_COL

        split = dict(
            sorted(hot.items(), key=lambda kv: -kv[1])[: self.MAX_SPLIT_CELLS]
        )
        targets = {
            p: min(
                n,
                min(
                    self.SPLIT_SAMPLE_PER_SUB * (-(-n // cap)),
                    self.SPLIT_SAMPLE_MAX,
                ),
            )
            for p, n in split.items()
        }
        w = Window.partitionBy(PARTITION_COL).orderBy(
            F.xxhash64(F.col(ID_COL)), F.col(ID_COL)
        )
        # Arrow transfer (toPandas), not a Row collect: the sample is
        # bounded (≤64 cells × 20k rows) but at d≥512 embeddings the
        # same frame as py4j-serialized Row objects is multi-GB;
        # Arrow moves it columnar at ~10× less driver cost for
        # identical semantics.  The explicit (partition, __rn) sort
        # pins the sample order the k-means init sees — collect order
        # out of a shuffle is not a contract.
        pdf = (
            assigned.where(F.col(PARTITION_COL).isin(list(split)))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max(targets.values()))
            .select(PARTITION_COL, "__rn", VECTOR_COL)
            .toPandas()
            .sort_values([PARTITION_COL, "__rn"], kind="mergesort")
        )
        out = [
            c for i, c in enumerate(centroids) if int(i) not in split
        ]
        for p in sorted(split):
            cell = pdf[pdf[PARTITION_COL] == p]
            cell = cell[cell["__rn"] <= targets[p]]
            x = decode_matrix(
                cell[VECTOR_COL].reset_index(drop=True), self.vector_dtype
            )
            k_i = min(-(-split[p] // cap), len(x))
            out.extend(
                kmeans_numpy(np.asarray(x, dtype=np.float64), k_i, seed=seed)
            )
        return np.array(out, dtype=np.float64)

    def writer_session(self, ttl_ms: int | None = None):
        """Hold the writer lease across MULTIPLE mutations — a
        transaction boundary against other writers::

            with idx.writer_session() as lease:
                idx.delete_batch(stale_ids)
                idx.update_batch(fresh_rows)
                lease.renew()          # long sessions: re-stamp the TTL
                idx.consolidate_updates()

        No other writer can interleave between the calls (the lease is
        re-entrant per thread, so each mutation's own lease nests
        inside this one).  NOT atomicity: each mutation still commits
        its own fenced meta flip, so a crash mid-session leaves the
        already-committed prefix — what it prevents is another writer
        mutating BETWEEN your calls.  ``ttl_ms`` sizes the lease to the
        whole session (default 10 min; consolidations inside the
        session re-enter, so size for the total)."""
        from tiledb_vector_search_spark.storage import (
            DEFAULT_LEASE_TTL_MS,
            HadoopFS,
            writer_lease,
        )

        return writer_lease(
            HadoopFS(self.spark, self.uri),
            self.uri,
            ttl_ms=ttl_ms or DEFAULT_LEASE_TTL_MS,
        )

    @property
    def partition_history(self) -> "list[int]":
        """Partition count per retained ingestion, oldest first — the
        reference's ``partition_history`` group meta
        (``index.py:678-695``), derived here from the per-ingestion
        entries instead of a parallel list that can drift.  Empty for
        index types without partitions (FLAT)."""
        return [
            int(e["partitions"])
            for e in self.meta.get("ingestions", [])
            if e.get("partitions") is not None
        ]

    # -- query ---------------------------------------------------------------

    def query(self, queries: DataFrame, k: int, **kw: Any) -> DataFrame:
        raise NotImplementedError

    def query_np(
        self, queries: "np.ndarray", k: int, **kw: Any
    ) -> "tuple[np.ndarray, np.ndarray]":
        """Reference-signature convenience: numpy queries in,
        ``(distances, external_ids)`` arrays out — the reference's
        ``Index.query`` contract (``index.py:244-416``): row ``q`` holds
        query ``q``'s top-k ascending, padded with MAX_FLOAT32 /
        MAX_UINT64 sentinels where fewer than k results exist.  A
        driver-side shim over the DataFrame plan (the distributed path
        is :meth:`query`); distances follow this engine's DataFrame
        convention (inner product already flipped to a distance)."""
        import numpy as np  # noqa: F811 — typing alias above

        q = np.asarray(queries, dtype=np.float32)
        if q.ndim == 1:
            q = q[None, :]
        if q.ndim != 2:
            raise ValueError(f"queries must be (nq, dims); got {q.shape}")
        df = self.spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(q)],
            "query_id long, vector array<float>",
        )
        res = self.query(df, k, **kw).collect()
        d = np.full((len(q), k), np.finfo(np.float32).max, dtype=np.float32)
        ids = np.full((len(q), k), np.iinfo(np.uint64).max, dtype=np.uint64)
        for r in res:
            if r.external_id is None:
                continue
            d[r.query_id, r.rank - 1] = r.distance
            ids[r.query_id, r.rank - 1] = r.external_id
        return d, ids

    def _updates_only_query(
        self,
        queries: DataFrame,
        k: int,
        pad: bool = False,
        allowed_ids: "DataFrame | None" = None,
        excluded_ids: "DataFrame | None" = None,
    ) -> DataFrame:
        """Query path for updates-only range opens (``timestamp=(start,
        end)`` past the first ingestion): exact brute-force over the
        window's additions.  The reference itself always brute-forces
        the updates overlay (``_query_additions``,
        ``index.py:353-366``) — and a window of update batches is
        increment-sized by construction, so the exact scan IS the right
        plan at any corpus scale; centroids/codebooks/graphs describe a
        base this handle excludes.  Probe knobs (nprobe / k_factor /
        l_search / strategy / memory_budget) are therefore ignored by
        the partitioned types' intercepts."""
        from tiledb_vector_search_spark.indexes.flat import FlatIndex

        return FlatIndex.query(
            self,
            queries,
            k,
            pad=pad,
            allowed_ids=allowed_ids,
            excluded_ids=excluded_ids,
        )

    # -- probe-routed plans (IVF_FLAT, IVF_PQ, VAMANA) --------------------------
    #
    # Each query is routed to its nprobe nearest cells; each cell scores the
    # queries routed to it with the index's one per-cell scorer and keeps a
    # partial top-k; one tail merges the partials.  The ``kernel`` and
    # ``join`` strategies differ only in how queries reach the cells:
    # ``kernel`` collects the batch, routes it on the driver and broadcasts
    # the route map into the pruned scan (``probe_scan``); ``join`` routes
    # on the executors and cogroups the routed queries with the cells on
    # partition_id (``probe_cogroup``).

    def _collect_queries(
        self,
        q: DataFrame,
        queries: DataFrame,
        strategy: str,
        driver_strategies: tuple = ("kernel",),
    ) -> "list | None":
        """The collected query rows for a driver-routed plan, or ``None``
        when the batch takes the ``join`` plan.  ``auto`` collects at most
        ``knn.KERNEL_MAX_NQ + 1`` rows — one job that doubles as the
        small-batch fetch — and takes the join plan above the bound, which
        never collects the batch.  Collected rows are validated on the
        driver; the join plan runs the distributed data check."""
        bound = _knn.KERNEL_MAX_NQ
        if strategy == "auto":
            q_rows = q.limit(bound + 1).collect()
            if len(q_rows) > bound:
                q_rows = None
        elif strategy == "join":
            q_rows = None
        elif strategy in driver_strategies:
            q_rows = q.collect()
        else:
            raise ValueError(f"unknown strategy: {strategy}")
        if q_rows is None:
            self._validate_queries(queries)
        else:
            self._validate_query_rows(q_rows)
        return q_rows

    def _route_join(
        self, q: DataFrame, nprobe: int, every: "int | None" = None
    ) -> DataFrame:
        """(partition_id, query_id, vector) rows of the ``join`` plan;
        ``every`` names a pseudo-cell (the overlay) that every query
        also probes."""
        routed = routing_table_join(
            q, self.centroids(), nprobe, QUERY_ID_COL, VECTOR_COL
        )
        if every is not None:
            routed = routed.unionByName(
                q.select(
                    F.lit(every).cast("int").alias(PARTITION_COL),
                    QUERY_ID_COL,
                    VECTOR_COL,
                )
            )
        return routed

    def _live_rows(
        self,
        rows: DataFrame,
        allowed_ids: "DataFrame | None" = None,
        excluded_ids: "DataFrame | None" = None,
        tombstones: bool = False,
    ) -> DataFrame:
        """``rows`` restricted to ``allowed_ids`` and without
        ``excluded_ids``; ``tombstones`` also drops base ids the updates
        log supersedes."""
        if tombstones and self._has_updates():
            rows = rows.join(
                F.broadcast(self._updated_ids()), ID_COL, "left_anti"
            )
        if allowed_ids is not None:
            rows = rows.join(allowed_ids, ID_COL, "left_semi")
        if excluded_ids is not None:
            rows = rows.join(excluded_ids, ID_COL, "left_anti")
        return rows

    def _merge_topk(
        self,
        scored: DataFrame,
        q: DataFrame,
        queries: DataFrame,
        k: int,
        pad: bool,
        allowed_ids: "DataFrame | None" = None,
        excluded_ids: "DataFrame | None" = None,
        extra: "DataFrame | None" = None,
        dedup: bool = False,
    ) -> DataFrame:
        """The result tail of every probe-routed query.  The pending
        additions, scored exactly under the same id filters, and
        ``extra`` (a second scored branch) join the partial top-k's in the
        index metric's distance space.  With ``dedup`` each (query, id)
        keeps its minimum distance: an overlay member can be scored in its
        home cell and again in the overlay.  Then the global (distance,
        id) top-k, padded to ``k`` rows when asked."""
        if self._has_updates():
            additions = self._live_rows(
                self._additions(), allowed_ids, excluded_ids
            )
            scored = scored.unionByName(
                _knn.knn_bruteforce_expr(additions, q, k, self.metric).drop(
                    "rank"
                )
            )
        if extra is not None:
            scored = scored.unionByName(extra)
        if dedup:
            scored = scored.groupBy(QUERY_ID_COL, ID_COL).agg(
                F.min(DISTANCE_COL).alias(DISTANCE_COL)
            )
        order = [F.col(DISTANCE_COL).asc(), F.col(ID_COL).asc()]
        res = topk_window(scored, [QUERY_ID_COL], order, k)
        return pad_to_k(res, queries, k) if pad else res

    # -- measured recall curve / auto operating point --------------------------
    #
    # The engine ships three probe-routed index types × overlay ×
    # (nprobe, k_factor, l_search); hand-picking the setting per
    # deployment is folklore — the reference's own guidance is the
    # nprobe = √partitions rule of thumb (``ivf_flat_index.py:215``).
    # Instead, ``measure_recall_curve()`` measures recall@k of each
    # candidate setting against the exact brute-force truth on a
    # bounded held-out sample of THIS index's own corpus, persists the
    # curve in the snapshot's meta entry, and
    # ``query(..., recall_target=0.9)`` resolves the CHEAPEST measured
    # setting that clears the target.  Meta schema (per ingestion
    # entry):
    #
    #   "recall_curve": {"k": 10, "nq": 256,
    #                    "points": [{"params": {"nprobe": 2, ...},
    #                                "recall_at_k": 0.87, "sec": 0.41},
    #                               ...]}
    #
    # Scale posture: sample is bounded (nq rows via hash pick), truth
    # is ONE corpus-scan brute-force kernel job, each curve point is a
    # bounded nq-query batch — the whole measurement is a small
    # multiple of one query batch, paid once at build (opt-in:
    # ``ingest(..., recall_curve=True)`` or post-hoc on any open
    # index).

    RECALL_CURVE_NQ = 256

    def _recall_curve_settings(self) -> "list[dict]":
        """Candidate query settings to sweep, cheapest knobs first —
        per index type."""
        raise NotImplementedError(
            f"{type(self).__name__} has no recall knobs to sweep "
            "(exact index types answer every query exactly)"
        )

    @locked_mutation
    def measure_recall_curve(
        self,
        k: int = 10,
        nq: int | None = None,
        settings: "list[dict] | None" = None,
        queries: "DataFrame | None" = None,
    ) -> "list[dict]":
        """Measure recall@k for each candidate setting on a held-out
        hash-sample of this snapshot's own vectors (the corpus is its
        own query distribution for a training-data pipeline — the same
        stance as the overlay self-audit), persist the curve into the
        snapshot's meta entry, and return it.

        ``queries``: measure against YOUR query distribution instead —
        a (query_id, vector) DataFrame (float vectors; the first ``nq``
        rows are used, so pre-sample if order matters).  The truth is
        still the exact brute-force top-k over this snapshot, so the
        curve stays an honest recall measurement either way; the meta
        records which distribution it was measured on."""
        import time as _time

        from tiledb_vector_search_spark.functions.dtypes import (
            is_byte_dtype,
            unpack_vectors,
        )
        from tiledb_vector_search_spark.operators.knn import (
            knn_bruteforce_kernel,
        )

        if not self.query_base_array:
            raise ValueError(
                "measure_recall_curve on an updates-only range open has "
                "no snapshot meta entry to persist into (and a windowed "
                "log scan has no probe knobs to sweep) — open with an "
                "int timestamp."
            )
        nq = nq or self.RECALL_CURVE_NQ
        vectors = self.effective_vectors()
        packed = dict(vectors.dtypes).get(VECTOR_COL) == "binary"
        dtype = self.vector_dtype if packed else "float32"
        if queries is not None:
            truth_q = (
                queries.select(
                    integral_id_col(
                        queries, "query_id", "measure_recall_curve"
                    ).alias("query_id"),
                    F.col(VECTOR_COL)
                    .cast("array<float>")
                    .alias(VECTOR_COL),
                )
                .limit(nq)
                .localCheckpoint(eager=True)
            )
            if packed:
                # explicit queries are float: decode the corpus side
                # once for the truth job (byte values are exactly
                # representable, so ranking is unchanged)
                vectors = unpack_vectors(
                    vectors, self.vector_dtype, VECTOR_COL
                ).select(
                    ID_COL,
                    F.col(VECTOR_COL).cast("array<float>").alias(VECTOR_COL),
                )
                packed = False
                dtype = "float32"
        else:
            n = vectors.count()
            frac = min(1.0, (nq * 1.5) / max(n, 1))
            sample = (
                vectors.where(
                    (F.abs(F.xxhash64(F.col(ID_COL))) % 1_000_000)
                    < int(frac * 1_000_000)
                )
                .orderBy(ID_COL)
                .limit(nq)
                .localCheckpoint(eager=True)
            )
            truth_q = sample.select(
                F.col(ID_COL).alias("query_id"), VECTOR_COL
            )
        truth: dict[int, set[int]] = {}
        for r in knn_bruteforce_kernel(
            vectors, truth_q, k, self.metric, vector_dtype=dtype
        ).collect():
            truth.setdefault(int(r["query_id"]), set()).add(
                int(r["external_id"])
            )
        denom = sum(len(v) for v in truth.values())
        qdf = truth_q
        if packed:
            # index query paths take float queries regardless of the
            # stored dtype (byte values are exactly representable)
            qdf = unpack_vectors(truth_q, self.vector_dtype, VECTOR_COL)
            qdf = qdf.select(
                "query_id", F.col(VECTOR_COL).cast("array<float>").alias(VECTOR_COL)
            )
        points: list[dict] = []
        for params in settings or self._recall_curve_settings():
            t0 = _time.perf_counter()
            rows = self.query(qdf, k, **params).collect()
            sec = _time.perf_counter() - t0
            hits = sum(
                1
                for r in rows
                if int(r[ID_COL]) in truth.get(int(r["query_id"]), ())
            )
            points.append(
                {
                    "params": dict(params),
                    "recall_at_k": round(hits / max(denom, 1), 4),
                    "sec": round(sec, 3),
                }
            )
        curve = {
            "k": k,
            "nq": int(truth_q.count()),
            "query_distribution": "provided" if queries is not None else "self-sample",
            "points": points,
        }
        meta = self.storage.read_meta()
        for e in reversed(meta["ingestions"]):
            if e["ts"] == self.base_ts:
                e["recall_curve"] = curve
                break
        self.meta = self.storage.commit_meta(meta)
        return points

    def resolve_recall_target(self, recall_target: float) -> dict:
        """The cheapest measured setting whose recall clears the
        target — raises when no curve is persisted (measure first) or
        when the target exceeds the index's measured ceiling."""
        entry = next(
            (
                e
                for e in reversed(self.meta["ingestions"])
                if e["ts"] == self.base_ts
            ),
            {},
        )
        from tiledb_vector_search_spark.indexes.recall import (
            resolve_curve_point,
        )

        return resolve_curve_point(entry.get("recall_curve"), recall_target)

    def _validate_queries(
        self,
        queries: DataFrame,
        k: int | None = None,
        kw: dict | None = None,
        data_check: bool = True,
    ) -> None:
        """Mirror reference validation (``index.py:298-312``): schema shape
        AND query dimensionality vs the index's stored dimensions; ``kw``
        (the query method's absorbed ``**kw``) is screened against
        :data:`QUERY_KWARG_TOLERANCE` so a typo'd knob raises instead of
        silently changing nothing."""
        if kw:
            check_query_kwargs(kw, f"{type(self).__name__}.query")
        if k is not None and k < 1:
            raise ValueError(f"k must be >= 1; got {k}")
        cols = dict(queries.dtypes)
        if "query_id" not in cols or VECTOR_COL not in cols:
            raise ValueError(
                f"queries must have (query_id, {VECTOR_COL}); got {list(cols)}"
            )
        if not cols[VECTOR_COL].startswith("array<"):
            raise ValueError(f"{VECTOR_COL} must be an array column")
        # type-level id check: a string query_id would cast to NULL and
        # a fractional one would truncate — distinct queries silently
        # MERGE under one id (the BM25 kernel's wave-2 finding, closed
        # here for the vector side at the shared validation point)
        integral_id_col(queries, "query_id", "query")
        if not data_check:
            # kernel strategies collect the query batch anyway; the
            # caller validates the COLLECTED rows driver-side
            # (_validate_query_rows) so the row-level check costs zero
            # extra Spark jobs (r11 opt: one agg job per query() call
            # removed on every small-batch path)
            return
        # ONE aggregate job validates EVERY row, not just the first: a
        # ragged batch (heterogeneous sources) would otherwise pass and
        # fail deep in the kernels (object-dtype matmul) or, worse,
        # silently truncate in the expr path's zip_with.  Query frames
        # are small by contract, so the full pass costs what the old
        # first() job did.
        row = queries.agg(
            F.min(F.size(VECTOR_COL)).alias("dmin"),
            F.max(F.size(VECTOR_COL)).alias("dmax"),
        ).first()
        if row is None or row["dmin"] is None:
            return
        if int(row["dmin"]) != int(row["dmax"]):
            raise ValueError(
                f"ragged query batch: vector sizes vary from "
                f"{int(row['dmin'])} to {int(row['dmax'])} — every query "
                f"must have the index's dimensionality ({self.dimensions})"
            )
        if int(row["dmax"]) != self.dimensions:
            raise ValueError(
                f"query dimensions ({int(row['dmax'])}) do not match index "
                f"dimensions ({self.dimensions})"
            )

    def _validate_query_rows(self, q_rows: list) -> None:
        """Row-level twin of the ``_validate_queries`` data check for
        paths that have ALREADY collected the query batch: identical
        errors, zero extra Spark jobs.  ``q_rows``: (query_id, vector)."""
        if not q_rows:
            return
        sizes = [len(r[1]) for r in q_rows if r[1] is not None]
        if not sizes:
            return
        dmin, dmax = min(sizes), max(sizes)
        if dmin != dmax:
            raise ValueError(
                f"ragged query batch: vector sizes vary from "
                f"{dmin} to {dmax} — every query "
                f"must have the index's dimensionality ({self.dimensions})"
            )
        if dmax != self.dimensions:
            raise ValueError(
                f"query dimensions ({dmax}) do not match index "
                f"dimensions ({self.dimensions})"
            )

    # -- DML (reference index.py:418-501) -------------------------------------

    def update(
        self, external_id: int, vector: list[float], timestamp: int | None = None
    ) -> None:
        self.update_batch([(external_id, vector)], timestamp)

    @locked_mutation
    def update_batch(
        self,
        rows: list[tuple[int, list[float]]] | DataFrame,
        timestamp: int | None = None,
    ) -> None:
        ts = timestamp if timestamp is not None else now_ms()
        if isinstance(rows, DataFrame):
            if "is_delete" in rows.columns:
                # a mixed upsert/tombstone frame belongs to merge_batch;
                # silently dropping the column here would upsert every
                # tombstone row (a NULL-vector upsert) instead of
                # deleting it — refuse and redirect
                raise ValueError(
                    "update_batch received a DataFrame with an "
                    "'is_delete' column — every row here is an UPSERT. "
                    "Use merge_batch for mixed upsert/tombstone batches."
                )
            df = rows.select(
                integral_id_col(rows, ID_COL, "update_batch").alias(ID_COL),
                F.col(VECTOR_COL).cast("array<float>"),
            )
        else:
            if not (
                self.normalize_on_write
                and self.metric is DistanceMetric.COSINE
            ):
                # r11 opt: a driver-resident upsert list appends through
                # the pyarrow fast path — no Spark job for a tiny DML
                # batch (the COSINE normalize branch stays on the Spark
                # writer so the stored floats keep the exact
                # normalize_expr fold order)
                self.storage.append_updates_rows(
                    [
                        (int(i), [float(x) for x in v], False, int(ts))
                        for i, v in rows
                    ],
                    ts,
                )
                self._maybe_auto_consolidate_log()
                return
            df = small_df(
                self.spark, rows, f"{ID_COL} long, {VECTOR_COL} array<float>"
            )
        if self.normalize_on_write and self.metric is DistanceMetric.COSINE:
            # normalize before writing so consolidation assigns the stored
            # vector to centroids trained on normalized data (reference
            # ``ivf_flat_index.py:313-325``)
            df = df.withColumn(
                VECTOR_COL, normalize_expr(VECTOR_COL).cast("array<float>")
            )
        df = df.withColumn("is_delete", F.lit(False)).withColumn("ts", F.lit(ts))
        self.storage.append_updates(df, ts)
        self._maybe_auto_consolidate_log()

    @locked_mutation
    def merge_batch(self, rows: DataFrame, timestamp: int | None = None) -> None:
        """MERGE-style mixed upsert/tombstone batch — fully distributed.

        ``rows``: (external_id, vector, is_delete); tombstone rows carry a
        null vector.  One timestamped updates batch, no driver round-trip —
        the unit the streaming ``foreachBatch`` writer appends (a
        driver-side ``collect()`` of delete ids would bound throughput by
        batch size).

        If one batch carries BOTH an upsert and a tombstone for the same
        id, the upsert wins (deterministically — see
        ``IndexStorage.read_updates``): the same outcome as issuing the
        delete first and the upsert at a later ts."""
        ts = timestamp if timestamp is not None else now_ms()
        df = rows.select(
            integral_id_col(rows, ID_COL, "merge_batch").alias(ID_COL),
            F.col(VECTOR_COL).cast("array<float>"),
            F.col("is_delete").cast("boolean"),
        )
        if self.normalize_on_write and self.metric is DistanceMetric.COSINE:
            df = df.withColumn(
                VECTOR_COL,
                F.when(
                    ~F.col("is_delete"),
                    normalize_expr(VECTOR_COL).cast("array<float>"),
                ),
            )
        df = df.withColumn("ts", F.lit(ts))
        self.storage.append_updates(df, ts)
        self._maybe_auto_consolidate_log()

    def delete(self, external_id: int, timestamp: int | None = None) -> None:
        self.delete_batch([external_id], timestamp)

    @locked_mutation
    def delete_batch(
        self, external_ids: list[int], timestamp: int | None = None
    ) -> None:
        ts = timestamp if timestamp is not None else now_ms()
        # r11 opt: tombstone lists are driver-resident — append through
        # the pyarrow fast path instead of paying a Spark job per call
        self.storage.append_updates_rows(
            [(int(i), None, True, int(ts)) for i in external_ids], ts
        )
        self._maybe_auto_consolidate_log()

    def _maybe_auto_consolidate_log(self) -> None:
        """Compact the updates *log files* (not the index) when fragmented.

        Reference auto-consolidates the updates array at >10 fragments
        (``index.py:837-858``).  Here we rewrite the log directory into one
        parquet footprint.  Compaction changes file layout only: the logical
        batch list (``update_batches``) is preserved so timestamped opens
        still see every batch's updates (each log row keeps its ``ts``), and
        ``log_compacted_batches`` tracks how many batches the last compaction
        covered so the trigger doesn't re-fire on every append.
        """
        meta = self.storage.read_meta()
        since = len(meta["update_batches"]) - meta.get("log_compacted_batches", 0)
        if since <= MAX_UPDATE_BATCHES:
            return
        self.storage.compact_updates_log()

    # -- consolidation (reference index.py:503-577) ---------------------------

    @locked_mutation(ttl_ms=LONG_LEASE_TTL_MS)
    def consolidate_updates(
        self,
        timestamp: int | None = None,
        recall_curve: bool = False,
        **kw: Any,
    ):
        """Fold the updates overlay into a new base snapshot.

        Equivalent to the reference's re-ingest of base∖updated ∪ additions;
        subclasses re-partition / re-train as needed.  Returns a re-opened
        index at the new timestamp.

        ``recall_curve=True`` re-measures the operating-point curve on
        the NEW snapshot (curves are per-snapshot: the fold re-assigns
        rows, so the old measurements don't transfer) — keeps
        ``query(recall_target=...)`` working straight through a fold.
        """
        if not self.query_base_array:
            raise ValueError(
                "consolidate_updates on an updates-only range open would "
                "fold WITHOUT the base — the new snapshot would contain "
                "only the window's update batches and every other vector "
                "would be lost.  Open with an int timestamp (or latest) "
                "to consolidate."
            )
        ts = timestamp if timestamp is not None else now_ms()
        unknown = set(kw) - set(self.CONSOLIDATE_KWARGS)
        if unknown:
            raise TypeError(
                f"{type(self).__name__}.consolidate_updates: unknown "
                f"kwarg(s) {sorted(unknown)} — this index type honors "
                f"{sorted(self.CONSOLIDATE_KWARGS) or ['(none)']}; "
                "unrecognized knobs are refused rather than silently "
                "ignored"
            )
        # the fold reads exactly this handle's updates window
        # (base_ts, hi]; clearing past it would DESTROY updates the fold
        # never saw.  Two ways a batch can sit beyond the window: a
        # time-traveled handle (hi = open timestamp < newer batches), or
        # a caller-supplied consolidation ts earlier than a batch (which
        # would fold future data into a past-stamped snapshot — a
        # time-travel anomaly for readers between the two).  Raise on
        # both instead of silently losing/mis-stamping data.
        _, hi = self._updates_window()
        fold_hi = hi if hi is not None else ts
        later = [
            int(t)
            for t in self.storage.read_meta().get("update_batches", [])
            if t > fold_hi
        ]
        if later:
            raise ValueError(
                f"update batches at {later} lie beyond this handle's "
                f"fold window (..., {fold_hi}]: consolidating would "
                "silently drop them (time-traveled handle) or fold them "
                "into an earlier-stamped snapshot.  Open the index at "
                "the latest timestamp (or pass a consolidation "
                "timestamp at or after the newest update batch)"
            )
        self._write_consolidated(self.effective_vectors(), ts, **kw)
        # the folded batches STAY in the log (r11 parity fix): readers
        # at the new snapshot exclude them by window (ts <= new base),
        # but a time-traveled open BETWEEN the old base and this fold
        # still needs them — the reference's consolidate keeps history
        # and only vacuum/clear_history destroys it (index.py:579-735).
        # Clearing here regressed exactly that window: open(timestamp=t)
        # with old_base < t < fold returned pre-update rows.
        fresh = type(self)(self.spark, self.uri)
        if recall_curve:
            try:
                settings = fresh._recall_curve_settings()
            except NotImplementedError:
                # exact index types (FLAT) have no knobs to sweep, and
                # query(recall_target=...) is already a documented no-op
                # there — the fold must not half-succeed on a
                # measurement that cannot apply
                settings = []
            if settings:
                fresh.measure_recall_curve(settings=settings)
        return fresh

    def _write_consolidated(self, vectors: DataFrame, ts: int, **kw: Any) -> None:
        raise NotImplementedError

    # -- history -------------------------------------------------------------

    @locked_mutation
    def vacuum(self, keep_latest: int = 1) -> list[int]:
        return self.storage.vacuum(keep_latest)

    @locked_mutation(ttl_ms=LONG_LEASE_TTL_MS)
    def clear_history(self, timestamp: int) -> None:
        """Drop base snapshots and update batches at or before ``timestamp``
        (reference ``index.py:626-735``), keeping at least the newest base.

        Deliberate divergence when ``timestamp`` is at or after the newest
        base: the reference resets the index to an empty sentinel
        (``ingestion_timestamps=[0]``) — one over-large argument destroys
        the whole corpus.  This engine keeps the index readable at its
        latest snapshot and clamps the update-batch clear to the oldest
        RETAINED base, so batches still reachable from that snapshot
        (ts in ``(base, now]``) survive and latest reads are unchanged;
        ``delete_index`` is the destroy verb.  An UNclamped clear here
        would strand the kept base without its reachable updates — a
        state the reference can never reach."""
        meta = self.storage.read_meta()
        keep = [e for e in meta["ingestions"] if e["ts"] > timestamp]
        n_keep = max(1, len(keep))
        self.storage.vacuum(keep_latest=n_keep)
        # vacuum already cleared batches ≤ the oldest retained base when
        # it dropped snapshots; this pass additionally reclaims dead
        # batches ≤ timestamp when NO snapshot was dropped (e.g. strays
        # written with an explicit timestamp below every base — never in
        # any read window), still clamped to keep reachable history.
        after = self.storage.read_meta()
        bound = min(int(timestamp), int(after["ingestions"][0]["ts"]))
        if any(int(t) <= bound for t in after["update_batches"]):
            self.storage.clear_updates_through(bound)

    @staticmethod
    def delete_index(spark: SparkSession, uri: str) -> None:
        IndexStorage(spark, uri).delete_index()


PROBE_SCHEMA = f"{QUERY_ID_COL} long, {ID_COL} long, {DISTANCE_COL} double"


def _no_scores() -> pd.DataFrame:
    return pd.DataFrame(
        {
            QUERY_ID_COL: np.empty(0, dtype=np.int64),
            ID_COL: np.empty(0, dtype=np.int64),
            DISTANCE_COL: np.empty(0, dtype=np.float64),
        }
    )


def _cell_topk(score, pid, cell, qids, qmat, bound) -> pd.DataFrame:
    """One cell's partial top-k from ``score(pid, cell, qids, qmat)``.

    The scorer sees the cell's rows in id order and the routed queries in
    id order, at most ``bound`` queries per call.  A BLAS product's value
    for a pair depends on where the pair sits in the product, so this
    fixed layout is what makes every plan that scores the same cell for
    the same queries return the same bits."""
    ids = cell[ID_COL].to_numpy()
    if len(ids) > 1 and (ids[1:] < ids[:-1]).any():
        cell = cell.iloc[np.argsort(ids, kind="stable")].reset_index(drop=True)
    order = np.argsort(qids, kind="stable")
    parts = [
        score(pid, cell, qids[b], qmat[b])
        for b in (order[i : i + bound] for i in range(0, len(order), bound))
    ]
    return parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)


def probe_scan(
    cells: DataFrame,
    score,
    qids: np.ndarray,
    qmat: np.ndarray,
    pairs: list,
    scan_tasks: "int | None" = None,
    whole_cells: bool = False,
) -> DataFrame:
    """The ``kernel`` plan's per-cell partial top-k's: the driver-routed
    (query_id, partition_id) ``pairs`` and the query matrix are
    broadcast into a scan of the probed cells (the reference's
    ``apply_query``, ``detail/ivf/qv.h:880-1040``).

    Each scan task gathers its rows by cell and scores each cell once,
    so the shuffle carries O(cells · routed queries · k) rows.  A cell
    is one file of the snapshot layout (``cell_write_layout``), hence
    read whole by one task; a cell that older layouts split over tasks
    still merges exactly, one partial top-k per piece.  ``whole_cells``
    guarantees whole cells with a shuffle on partition_id (a graph walk
    needs the whole shard).  ``scan_tasks`` coalesces the scan to a
    byte-derived task count (``Index._kernel_scan_tasks``)."""
    qpos = {int(qid): i for i, qid in enumerate(qids)}
    route = {
        pid: np.array([qpos[qid] for qid in routed], dtype=np.int64)
        for pid, routed in queries_by_partition(pairs).items()
    }
    bc = cells.sparkSession.sparkContext.broadcast((qids, qmat, route))
    bound = _knn.KERNEL_MAX_NQ

    def cell_topk(pid, cell):
        qids_l, qmat_l, route_l = bc.value
        pos = route_l[pid]
        return _cell_topk(score, pid, cell, qids_l[pos], qmat_l[pos], bound)

    if whole_cells:

        def per_cell(pdf):
            pid = int(pdf[PARTITION_COL].iloc[0]) if len(pdf) else None
            if pid not in bc.value[2]:
                return _no_scores()
            return cell_topk(pid, pdf)

        return cells.groupBy(PARTITION_COL).applyInPandas(
            per_cell, PROBE_SCHEMA
        )

    def per_task(batches):
        route_l = bc.value[2]
        chunks: dict = {}
        for pdf in batches:
            for pid, grp in pdf.groupby(PARTITION_COL, sort=False):
                if int(pid) in route_l:
                    chunks.setdefault(int(pid), []).append(grp)
        for pid in sorted(chunks):
            parts = chunks.pop(pid)
            yield cell_topk(
                pid,
                parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True),
            )

    if scan_tasks is not None:
        cells = cells.coalesce(scan_tasks)
    return cells.mapInPandas(per_task, PROBE_SCHEMA)


def probe_cogroup(cells: DataFrame, routed: DataFrame, score) -> DataFrame:
    """The ``join`` plan's per-cell partial top-k's: ``cells`` cogrouped
    with the ``routed`` (partition_id, query_id, vector) rows on
    partition_id, each group scored by the same ``score`` the kernel plan
    runs.  Nothing is collected on the driver; a cell with more routed
    queries than ``knn.KERNEL_MAX_NQ`` (the overlay pseudo-cell at bulk
    nq) is scored in blocks of that many, so each distance matrix stays
    as small as on the kernel plan."""
    bound = _knn.KERNEL_MAX_NQ

    def per_cell(cell, q):
        if len(cell) == 0 or len(q) == 0:
            return _no_scores()
        return _cell_topk(
            score,
            int(cell[PARTITION_COL].iloc[0]),
            cell,
            q[QUERY_ID_COL].to_numpy(dtype=np.int64),
            np.array(list(q[VECTOR_COL]), dtype=np.float64),
            bound,
        )

    return (
        cells.groupBy(PARTITION_COL)
        .cogroup(routed.groupBy(PARTITION_COL))
        .applyInPandas(per_cell, PROBE_SCHEMA)
    )


def cell_write_layout(df: DataFrame) -> DataFrame:
    """Lay out a cell-partitioned snapshot for ``partitionBy(partition_id)``.

    The hash exchange on ``partition_id`` sends every cell to exactly one
    write task, so each cell directory gets exactly one file (without it
    every task writes into every directory — quadratic small files at
    scale); it is the reference's ``consolidate_partition_udf`` (SURVEY
    §2.9).  The partition count is EXPLICIT: a bare
    ``repartition(partition_id)`` lets AQE coalesce a small snapshot into
    ONE writer, so all cells were written by a single task.  A count of
    ``defaultParallelism`` spreads the cells over every core, and AQE does
    not coalesce a numbered repartition.  Rows sort by (cell, id), which
    already satisfies the writer's per-cell ordering, so the write plans
    no second sort."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, PARTITION_COL
    ).sortWithinPartitions(PARTITION_COL, ID_COL)


def count_and_dims(
    vectors: DataFrame,
    vector_col: str = VECTOR_COL,
    check_unique_ids: bool = False,
    id_col: str = ID_COL,
) -> tuple[int, int]:
    """(row count, vector dimensionality) in ONE Spark job — ingest calls
    this on every path; two separate jobs double the fixed scheduling cost.

    Packed byte vectors (``binary`` column) report length-in-bytes, which
    equals dims at 1 byte/element.

    Rides min/max length on the same aggregate to reject RAGGED vector
    columns up front: a malformed binary source (wrong payload dtype,
    truncated rows) would otherwise surface later as an opaque reshape
    error inside a kernel — or worse, silently misaligned decodes if the
    total byte count happens to divide evenly.

    ``check_unique_ids`` (the ingest paths): ride an exact distinct count
    of ``id_col`` on the same job and reject duplicate external ids —
    duplicates would silently corrupt DML (updates/deletes key on the id)
    and produce duplicate result rows.  One extra partial-agg shuffle of
    long ids; an honest price for the integrity guarantee at ingest time
    only (never on the query path)."""
    is_binary = dict(vectors.dtypes)[vector_col] == "binary"
    dims_expr = F.length(vector_col) if is_binary else F.size(vector_col)
    aggs = [
        F.count("*").alias("n"),
        F.min(dims_expr).alias("dmin"),
        F.max(dims_expr).alias("dmax"),
    ]
    if check_unique_ids:
        aggs.append(F.count_distinct(F.col(id_col)).alias("nid"))
    row = vectors.agg(*aggs).first()
    if row["n"] and row["dmin"] != row["dmax"]:
        kind = "byte lengths" if is_binary else "array sizes"
        raise ValueError(
            f"ragged vector column {vector_col!r}: {kind} vary from "
            f"{row['dmin']} to {row['dmax']} — every row must have the same "
            "dimensionality (for packed binary vectors: exactly dims bytes "
            "per row at 1 byte/element; check the source's dtype)"
        )
    if check_unique_ids and row["n"] != row["nid"]:
        raise ValueError(
            f"source has duplicate external ids: {row['n']} rows but only "
            f"{row['nid']} distinct {id_col!r} values — external ids must "
            "be unique (updates/deletes key on them); deduplicate the "
            "source first"
        )
    return int(row["n"]), int(row["dmax"] or 0)


def check_reingest_meta(
    storage,
    index_type: str,
    metric,
    dims: int,
    vector_dtype: str,
) -> None:
    """Re-ingest onto an EXISTING index must match its declared schema.

    Without this, a second ``ingest()`` at the same uri with different
    dimensions / metric / dtype / type appended a snapshot inconsistent
    with the stored meta: ``open_index`` then rejects CORRECT queries on
    the new data, scores with the wrong metric, or crashes the byte
    decode kernels — all silently deferred to query time.  Every index
    type's ingest calls this before touching the base dirs.
    """
    if not storage.exists():
        return
    meta = storage.read_meta()
    declared = {
        "index_type": meta.get("index_type"),
        "metric": meta.get("metric"),
        "dimensions": int(meta.get("dimensions", dims)),
        "vector_dtype": meta.get("vector_dtype", "float32"),
    }
    metric_value = metric.value if hasattr(metric, "value") else str(metric)
    incoming = {
        "index_type": index_type,
        "metric": metric_value,
        "dimensions": int(dims),
        "vector_dtype": vector_dtype,
    }
    diffs = {
        k: (declared[k], incoming[k])
        for k in declared
        if declared[k] != incoming[k]
    }
    # an empty re-ingest carries no data-derived width — don't reject
    # the caller's explicit dimensions=None default of 0
    if dims == 0:
        diffs.pop("dimensions", None)
    if diffs:
        detail = ", ".join(
            f"{k}: stored {a!r} vs incoming {b!r}" for k, (a, b) in diffs.items()
        )
        raise ValueError(
            f"re-ingest at {storage.uri} does not match the existing "
            f"index's schema ({detail}); open and grow the index with "
            "update_batch/add, or ingest to a fresh uri"
        )


def open_index(
    spark: SparkSession,
    uri: str,
    timestamp: "int | tuple[int | None, int | None] | None" = None,
) -> Index:
    """Factory dispatching on stored ``index_type`` — reference
    ``index.py:922-994`` ``open()``.

    ``timestamp`` accepts an int (the index as of that time), None
    (latest), or a ``(start, end)`` tuple — a RANGE open (reference
    ``index.py:117-150``): with ``start`` past the first ingestion the
    handle reads ONLY the update batches in ``[start, end]`` ("what
    changed in this window" — no base scan); otherwise it is
    fold-equivalent to opening at ``end``."""
    from tiledb_vector_search_spark.indexes.flat import FlatIndex
    from tiledb_vector_search_spark.indexes.ivf_flat import IVFFlatIndex
    from tiledb_vector_search_spark.indexes.ivf_pq import IVFPQIndex
    from tiledb_vector_search_spark.indexes.vamana import VamanaIndex

    meta = IndexStorage(spark, uri).read_meta()
    types: dict[str, type[Index]] = {
        "FLAT": FlatIndex,
        "IVF_FLAT": IVFFlatIndex,
        "IVF_PQ": IVFPQIndex,
        "VAMANA": VamanaIndex,
    }
    t = meta.get("index_type")
    if t not in types:
        raise ValueError(f"unknown index_type {t!r} at {uri}")
    return types[t](spark, uri, timestamp)
