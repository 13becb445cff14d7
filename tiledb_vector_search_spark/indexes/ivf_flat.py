"""IVF_FLAT index: k-means partitioned storage + probe-routed search.

Reference: ``apis/python/src/tiledb/vector_search/ivf_flat_index.py`` +
ingestion DAG (``ingestion.py:2363-3012``) + C++ query kernels
(``detail/ivf/qv.h``).  Spark-first re-expression (SURVEY §3.1 "Spark
shape"):

ingest:  ``read → [normalize] → sample → ML KMeans → assign (broadcast
centroids, Arrow kernel) → write.partitionBy(partition_id)`` — the
reference's work-item splitting, partial CSR indexes, and consolidation
stages (``ingest_vectors_udf``/``compute_partition_indexes_udf``/
``consolidate_partition_udf``) are subsumed by the shuffle service and the
Parquet directory layout.

query:   routing table (driver numpy over ≤10k centroids) → partition-pruned
scan (Parquet dir pruning = the CSR offset slice) → per-partition scoring
against only the queries routed there → partial top-k → final window.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledb_vector_search_spark.functions.distance import (
    DistanceMetric,
    distance_expr,
    normalize_expr,
)
from tiledb_vector_search_spark.indexes.base import (
    Index,
    cell_write_layout,
    count_and_dims,
    probe_cogroup,
    probe_scan,
)
from tiledb_vector_search_spark.ml.kmeans import (
    assign_partitions_expr,
    default_partitions,
    default_training_sample_size,
    train_centroids_ml,
)
from tiledb_vector_search_spark.operators.knn import block_topk
from tiledb_vector_search_spark.operators.routing import route_queries
from tiledb_vector_search_spark.schemas import (
    DISTANCE_COL,
    ID_COL,
    PARTITION_COL,
    QUERY_ID_COL,
    VECTOR_COL,
    integral_id_col,
)
from tiledb_vector_search_spark.storage import IndexStorage, now_ms
from tiledb_vector_search_spark.session import small_df
from tiledb_vector_search_spark.driver_io import write_small_parquet

_SUPPORTED = {
    DistanceMetric.SUM_OF_SQUARES,
    DistanceMetric.L2,
    DistanceMetric.COSINE,
}
OVERLAY_AUX = "ivf_overlay"
# the overlay is an extra pseudo-partition every query probes (exact scan)
OVERLAY_PID = -1
DEFAULT_OVERLAY_MAX = 8192


class IVFFlatIndex(Index):
    index_type = "IVF_FLAT"
    # COSINE vectors are stored pre-normalized (ingest and update paths),
    # mirroring reference ``ivf_flat_index.py:254-255,313-325``
    normalize_on_write = True


    def _describe_extra(self):
        return {
            "partitions": self.partitions,
            "has_overlay": self.has_overlay,
            **self._partition_balance(PARTITION_COL),
        }

    # -- build ----------------------------------------------------------------

    @classmethod
    def ingest(
        cls,
        spark: SparkSession,
        uri: str,
        source: DataFrame,
        metric: DistanceMetric | str = DistanceMetric.SUM_OF_SQUARES,
        partitions: int | None = None,
        training_sample_size: int | None = None,
        training_sampling_policy: str = "random",
        training_source: DataFrame | None = None,
        copy_centroids_from: np.ndarray | None = None,
        timestamp: int | None = None,
        id_col: str = ID_COL,
        vector_col: str = VECTOR_COL,
        seed: int = 42,
        vector_dtype: str = "float32",
        normalized: bool = False,
        overlay: bool = False,
        overlay_max: int = DEFAULT_OVERLAY_MAX,
        overlay_audit_nprobe: int | None = None,
        overlay_boost_max: int = 0,
        recall_curve: bool = False,
    ) -> "IVFFlatIndex":
        """Build the partitioned index (reference ``ingest()`` IVF path).

        ``copy_centroids_from`` mirrors ``copy_centroids_uri``
        (``ingestion.py:1081-1100``): skip training, reuse given centroids.

        ``training_source`` mirrors ``training_input_vectors`` /
        ``training_source_uri`` (``ingestion.py:64-150``): train the
        centroids on a SEPARATE vector DataFrame — a curated or held-out
        sample — instead of sampling the corpus; the provided vectors
        ARE the training set (pre-sample upstream if needed), so
        ``training_sample_size`` is refused alongside it, as the
        reference refuses the pair.  At 100 TB this is the knob that
        decouples one bounded training read from the corpus-wide assign
        scan.

        ``vector_dtype="uint8"|"int8"`` stores packed ``binary`` vectors
        (reference u8/i8 dispatch ``module.py:114-121``); centroids train on
        a pre-sampled decoded subset, assignment decodes in-kernel — the
        full corpus is never promoted to float storage.

        ``overlay`` builds the partial-probe bridge set
        (``indexes/overlay.py``, shared with Vamana): a capped hybrid
        audit+boundary-margin row set every query additionally probes
        with an exact scan, lifting recall at nprobe BELOW the
        √partitions rule of thumb (reference ``ivf_flat_index.py:215``)
        — the operating floor without it.  ``overlay_boost_max`` adds a
        pure-audit tranche dedicated to nprobe=1/2.
        """
        if not overlay and (
            overlay_max != DEFAULT_OVERLAY_MAX
            or overlay_audit_nprobe is not None
            or overlay_boost_max != 0
        ):
            raise ValueError(
                "overlay_max/overlay_audit_nprobe/overlay_boost_max were "
                "set but overlay=False — they would be silently ignored; "
                "pass overlay=True to build the bridge set"
            )
        from tiledb_vector_search_spark.functions.dtypes import (
            ensure_packed,
            is_byte_dtype,
            pack_vectors,
            unpack_vectors,
        )

        metric = DistanceMetric(metric)
        if metric not in _SUPPORTED:
            # reference support matrix: ivf_flat_index.py:595-602
            raise ValueError(f"IVF_FLAT does not support metric {metric.value}")
        byte_vectors = is_byte_dtype(vector_dtype)
        if byte_vectors and metric is DistanceMetric.COSINE:
            raise ValueError("byte vector_dtype requires an un-normalized metric")
        ts = timestamp if timestamp is not None else now_ms()

        if byte_vectors:
            vectors = ensure_packed(
                source.select(
                    integral_id_col(source, id_col, "IVFFlatIndex.ingest").alias(ID_COL),
                    F.col(vector_col).alias(VECTOR_COL),
                ),
                vector_dtype,
                VECTOR_COL,
            )
        else:
            vectors = source.select(
                integral_id_col(source, id_col, "IVFFlatIndex.ingest").alias(ID_COL),
                F.col(vector_col).cast("array<float>").alias(VECTOR_COL),
            )
        if normalized and metric is not DistanceMetric.COSINE:
            raise ValueError(
                "normalized=True declares pre-normalized vectors to skip "
                f"the COSINE ingest normalization; metric {metric.value} "
                "never normalizes, so there is nothing to skip"
            )
        if metric is DistanceMetric.COSINE and not normalized:
            # normalize at ingest (reference ivf_flat_index.py:254-255);
            # ``normalized=True`` (reference ``ingestion.py:91,1331``)
            # declares the source already unit-norm and skips the
            # per-row pass — the caller owns the invariant
            vectors = vectors.withColumn(
                VECTOR_COL, normalize_expr(VECTOR_COL).cast("array<float>")
            )
        n, dims = count_and_dims(vectors, check_unique_ids=True)
        if n == 0:
            raise ValueError(
                "cannot train an IVF_FLAT index on an empty source "
                "(k-means needs data); ingest a FLAT index instead and "
                "stream updates into it"
            )
        k = partitions or default_partitions(n)

        if training_source is not None:
            if copy_centroids_from is not None:
                raise ValueError(
                    "pass either training_source (train on these vectors) "
                    "or copy_centroids_from (skip training), not both"
                )
            if training_sample_size is not None:
                raise ValueError(
                    "training_sample_size sizes the CORPUS sample; with "
                    "training_source the provided vectors ARE the "
                    "training set — pre-sample it upstream instead "
                    "(the reference refuses the pair too, "
                    "ingestion.py:145-150)"
                )
            if training_sampling_policy != "random":
                raise ValueError(
                    "training_sampling_policy governs the CORPUS sample; "
                    "with training_source no corpus sampling happens — "
                    "order the provided frame upstream instead"
                )
        if copy_centroids_from is not None:
            centroids = np.asarray(copy_centroids_from, dtype=np.float64)
            k = centroids.shape[0]
        elif training_source is not None:
            tvecs = training_source.select(
                F.col(vector_col).cast("array<float>").alias(VECTOR_COL)
            )
            if metric is DistanceMetric.COSINE:
                # centroids must live in the same normalized space the
                # corpus is stored in
                tvecs = tvecs.withColumn(
                    VECTOR_COL, normalize_expr(VECTOR_COL).cast("array<float>")
                )
            n_t, d_t = count_and_dims(tvecs)
            if int(d_t) != int(dims):
                raise ValueError(
                    f"training_source dimensionality {d_t} != corpus "
                    f"dimensionality {dims}"
                )
            if n_t < k:
                raise ValueError(
                    f"training_source has {n_t} vectors but {k} "
                    "partitions were requested — k-means needs at least "
                    "k training points"
                )
            centroids = train_centroids_ml(tvecs, k, n_t, n_t, seed=seed)
        else:
            sample_size = training_sample_size or default_training_sample_size(n, k)
            if byte_vectors:
                # sample the PACKED column first (cheap scan), decode only
                # the sampled rows for training
                if training_sampling_policy == "first_n":
                    pre = vectors.orderBy(F.col(ID_COL)).limit(sample_size)
                else:
                    frac = min(1.0, (sample_size * 1.2) / max(n, 1))
                    pre = (
                        vectors
                        if frac >= 1.0
                        else vectors.sample(fraction=frac, seed=seed)
                    )
                centroids = train_centroids_ml(
                    unpack_vectors(pre, vector_dtype, VECTOR_COL),
                    k, sample_size, sample_size, seed=seed,
                    sampling_policy=training_sampling_policy,
                )
            else:
                centroids = train_centroids_ml(
                    vectors, k, sample_size, n, seed=seed,
                    sampling_policy=training_sampling_policy,
                )

        # with an overlay coming, the assign kernel also emits the
        # boundary-margin columns and the assigned frame persists across
        # the base write + overlay selection — ONE corpus scan feeds all
        # of it instead of the overlay re-deriving the assignment
        build_overlay = overlay and centroids.shape[0] > 1
        assigned = assign_partitions_expr(
            vectors, centroids, vector_dtype=vector_dtype,
            with_margins=build_overlay,
        )
        if build_overlay:
            from pyspark import StorageLevel

            assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)

        storage = IndexStorage(spark, uri)
        from tiledb_vector_search_spark.indexes.base import (
            check_reingest_meta,
        )

        check_reingest_meta(
            storage, cls.index_type, metric, int(dims), vector_dtype
        )
        if not storage.exists():
            storage.init_meta(
                index_type=cls.index_type,
                metric=metric.value,
                dimensions=int(dims),
                vector_dtype=vector_dtype,
            )
        extra_meta: dict = {}
        if overlay:
            # persist the overlay knobs so consolidation rebuilds the
            # overlay at the SAME caps
            extra_meta["overlay_max"] = int(overlay_max)
            extra_meta["overlay_boost_max"] = int(overlay_boost_max)
            if overlay_audit_nprobe is not None:
                extra_meta["overlay_audit_nprobe"] = int(overlay_audit_nprobe)
        try:
            cls._write_snapshot(
                storage, assigned, centroids, ts, n, extra_meta=extra_meta
            )
            if build_overlay:
                cls._write_overlay(
                    storage, assigned, centroids, ts, vector_dtype,
                    overlay_max, audit_nprobe=overlay_audit_nprobe,
                    boost_max=overlay_boost_max, n_total=int(n),
                )
        finally:
            if build_overlay:
                assigned.unpersist()
        idx = cls(spark, uri)
        if recall_curve:
            # measure + persist the operating-point curve on the fresh
            # snapshot (Index.measure_recall_curve) so queries can say
            # recall_target=... instead of hand-picking probe knobs
            idx.measure_recall_curve()
        return idx

    @staticmethod
    def _write_snapshot(
        storage: IndexStorage,
        assigned: DataFrame,
        centroids: np.ndarray,
        ts: int,
        base_size: int | None,
        extra_meta: dict | None = None,
    ) -> None:
        spark = storage.spark
        # __second/__margin are overlay-selection intermediates, not index
        # state — the snapshot schema is unchanged by with_margins ingest
        storage.write_base(
            cell_write_layout(assigned.drop("__second", "__margin")),
            ts,
            partition_by=PARTITION_COL,
            base_size=base_size,
            extra_meta={
                "partitions": int(centroids.shape[0]),
                **(extra_meta or {}),
            },
        )
        write_small_parquet(
            spark,
            storage.centroids_path(ts),
            [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
            f"{PARTITION_COL} int, centroid array<double>",
        )

    @staticmethod
    def _write_overlay(
        storage: IndexStorage,
        assigned: DataFrame,
        centroids: np.ndarray,
        ts: int,
        vector_dtype: str,
        overlay_max: int,
        audit_nprobe: int | None = None,
        boost_max: int = 0,
        n_total: int | None = None,
    ) -> None:
        """Write the partial-probe bridge set as aux pseudo-partition
        ``OVERLAY_PID`` — member rows DUPLICATE their home-partition
        copies (the home cell still needs them when probed directly);
        the query path dedups on (query, id).  Selection is the shared
        ``indexes.overlay.select_overlay_ids`` (see its module
        docstring for the audit + boundary-margin design and the scale
        posture)."""
        from tiledb_vector_search_spark.indexes.overlay import (
            select_overlay_ids,
        )

        spark = assigned.sparkSession
        picked_id_list = select_overlay_ids(
            assigned, centroids, vector_dtype, overlay_max,
            boost_max=boost_max, audit_nprobe=audit_nprobe,
            n_total=n_total,
        )
        picked_ids = small_df(
            spark, [(int(i),) for i in picked_id_list], f"{ID_COL} long"
        )
        (
            assigned.select(ID_COL, VECTOR_COL)
            .join(F.broadcast(picked_ids), ID_COL, "left_semi")
            .withColumn(PARTITION_COL, F.lit(OVERLAY_PID).cast("int"))
            .coalesce(1)
            .write.parquet(storage.aux_path(OVERLAY_AUX, ts))
        )

    CONSOLIDATE_KWARGS = frozenset(
        {"retrain_index", "partitions", "split_hot_cells", "cell_cap"}
    )

    def _write_consolidated(
        self,
        vectors: DataFrame,
        ts: int,
        retrain_index: bool = False,
        split_hot_cells: bool = False,
        cell_cap: int | None = None,
        **kw: Any,
    ) -> None:
        """``consolidate_updates(retrain_index=...)`` (``index.py:503-577``):
        keep centroids and only re-assign unless retrain requested.

        ``split_hot_cells=True`` is the SURGICAL alternative to a full
        retrain for skewed growth: cells whose row count exceeds
        ``cell_cap`` (default 4× the mean) are split in place — each
        hot cell's members train ``ceil(rows/cap)`` sub-centroids on a
        bounded hash-ordered sample (driver numpy, one sampling job for
        ALL hot cells), the cold centroids survive untouched, and the
        corpus re-assigns once against the final set so the
        assignment-is-argmin invariant (what probe routing relies on)
        holds exactly.  Cost: one extra assignment scan + one bounded
        count when any cell is hot; zero extra scans when none is.
        The reference's answer to drift is a full re-ingest
        (``partition_history`` tracks the count per ingestion,
        ``index.py:678-695``); splitting keeps the 99% of cells that
        are fine and bounds consolidation cost by the skew, not the
        corpus."""
        if retrain_index and split_hot_cells:
            raise ValueError(
                "retrain_index=True already re-trains every centroid — "
                "combining it with split_hot_cells is ambiguous (which "
                "wins?); pass exactly one"
            )
        if retrain_index:
            from tiledb_vector_search_spark.functions.dtypes import (
                is_byte_dtype as _is_byte,
                unpack_vectors as _unpack,
            )

            train_src = vectors
            if dict(vectors.dtypes).get(VECTOR_COL) == "binary":
                train_src = _unpack(vectors, self.vector_dtype, VECTOR_COL)
            n = vectors.count()
            k = kw.get("partitions") or default_partitions(n)
            centroids = train_centroids_ml(
                train_src, k, default_training_sample_size(n, k), n
            )
        else:
            centroids = self.centroids()
        from tiledb_vector_search_spark.functions.dtypes import (
            is_byte_dtype,
            pack_vectors,
        )

        # consolidation may arrive float-promoted (updates overlay); re-pack
        # so the snapshot keeps the declared storage dtype
        if is_byte_dtype(self.vector_dtype) and dict(vectors.dtypes).get(
            VECTOR_COL, ""
        ).startswith("array"):
            vectors = pack_vectors(vectors, self.vector_dtype, VECTOR_COL)
        first_pass = None
        if split_hot_cells and not retrain_index:
            centroids, first_pass = self._split_pass(
                vectors, centroids, cell_cap
            )
        build_overlay = self.has_overlay and centroids.shape[0] > 1
        if first_pass is not None and not build_overlay:
            # split requested but nothing hot: the first pass IS the
            # final assignment — no second corpus scan
            assigned = first_pass
        else:
            assigned = assign_partitions_expr(
                vectors, centroids, vector_dtype=self.vector_dtype,
                with_margins=build_overlay,
            )
        if build_overlay:
            from pyspark import StorageLevel

            assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        extra_meta: dict = {}
        if self.has_overlay:
            # the consolidated snapshot keeps the old base's overlay caps
            # (legacy metas without them fall back to the defaults)
            prev = self._base_entry()
            for key, dflt in (
                ("overlay_max", DEFAULT_OVERLAY_MAX),
                ("overlay_boost_max", 0),
                ("overlay_audit_nprobe", None),
            ):
                if prev.get(key, dflt) is not None:
                    extra_meta[key] = prev.get(key, dflt)
        try:
            self._write_snapshot(
                self.storage, assigned, centroids, ts, None,
                extra_meta=extra_meta,
            )
            if build_overlay:
                self._write_overlay(
                    self.storage, assigned, centroids, ts,
                    self.vector_dtype,
                    int(extra_meta.get("overlay_max", DEFAULT_OVERLAY_MAX)),
                    audit_nprobe=extra_meta.get("overlay_audit_nprobe"),
                    boost_max=int(extra_meta.get("overlay_boost_max", 0)),
                )
        finally:
            if build_overlay:
                assigned.unpersist()

    # -- access ---------------------------------------------------------------

    def _recall_curve_settings(self) -> list:
        # power-of-two nprobe ladder up to full probe (the exact point)
        grid, p = [], 1
        while p < self.partitions:
            grid.append({"nprobe": p})
            p *= 2
        grid.append({"nprobe": self.partitions})
        return grid

    def _overlay_frame(self) -> DataFrame | None:
        """The bridge set as pseudo-partition ``OVERLAY_PID``
        (partition_id, external_id, vector), or ``None`` when the index
        was built without an overlay."""

        def load():
            path = self.storage.aux_path(OVERLAY_AUX, self.base_ts)
            if not self.storage.fs.exists(path):
                return None
            return self.spark.read.parquet(path).select(
                PARTITION_COL, ID_COL, VECTOR_COL
            )

        # overlay existence + layout are immutable per snapshot: resolve
        # the reader (exists + listing + schema) once per session, not
        # per re-open — streaming re-opens the handle every micro-batch
        return self._snapshot_memo("overlay_df", load, per_session=True)

    @property
    def has_overlay(self) -> bool:
        return self._overlay_frame() is not None

    # -- query ----------------------------------------------------------------

    def query(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int | None = None,
        strategy: str = "auto",
        pad: bool = False,
        memory_budget_mb: int | None = None,
        allowed_ids: DataFrame | None = None,
        excluded_ids: DataFrame | None = None,
        recall_target: float | None = None,
        **kw: Any,
    ) -> DataFrame:
        """Probe-routed top-k (reference ``ivf_flat_index.py:262-525``).


        Default nprobe = √partitions — the reference's "accuracy close to
         100%" rule of thumb (``ivf_flat_index.py:215``).
        ``recall_target`` replaces the folklore with measurement: the
        cheapest setting whose recall cleared the target on this
        snapshot's persisted curve (``Index.measure_recall_curve``) —
        mutually exclusive with an explicit ``nprobe``.

        Strategies: ``kernel`` routes the collected batch on the driver
        and broadcasts it into the pruned scan; ``join`` routes on the
        executors and cogroups the routed queries with the cells, with no
        driver collect (batches of any size, e.g. bulk self-join or
        dataset-vs-dataset search); ``auto`` is kernel up to
        ``operators.knn.KERNEL_MAX_NQ`` queries and join above.  Both score
        each cell with the same BLAS partial top-k (``_cell_scorer``) and
        return the same bits.  ``expr`` scores with Catalyst distance
        expressions, exact against the oracle.

        ``memory_budget_mb`` is the finite-RAM mode (reference
        ``qv_query_heap_finite_ram`` / blocked ``tdb_partitioned_matrix``
        loads, ``ivf_flat_index.py:279-294``): the probed partitions are
        processed in groups whose on-disk size fits the budget, each group a
        separate pruned scan, unioned lazily — bounding the data any single
        stage touches.  Spark already streams and spills, so this knob is
        about bounding *working set per stage*, exactly what the reference's
        ``upper_bound`` does.

        ``allowed_ids`` (DataFrame with ``external_id``) restricts the
        searchable set BEFORE scoring — filtered-search pushdown.  Probed
        partitions are scanned as usual (partition pruning still applies),
        then semi-joined on the allowed set, so the top-k is exact among
        the allowed vectors in the probed partitions — no over-fetch
        heuristic.  Un-hinted semi-join: AQE broadcasts small allowed
        sets, shuffles large ones.

        ``excluded_ids`` (same shape) removes ids BEFORE top-k — the
        anti-join twin (the streaming embedding screen's batch-mate
        exclusion).  Exact among non-excluded vectors in the probed
        partitions; no over-fetch heuristic.
        """
        if not self.query_base_array:
            # updates-only range open: no base, no centroids to probe —
            # exact scan over the window's additions (Index doc)
            return self._updates_only_query(
                queries, k, pad=pad,
                allowed_ids=allowed_ids, excluded_ids=excluded_ids,
            )
        # schema/kwargs validation only — the row-level data check rides
        # the kernel path's collect (zero extra jobs) or the join path's
        # explicit agg below (r11 opt)
        self._validate_queries(queries, k, kw, data_check=False)
        if recall_target is not None:
            if nprobe is not None:
                raise ValueError(
                    "pass either nprobe or recall_target, not both"
                )
            nprobe = int(
                self.resolve_recall_target(recall_target)["nprobe"]
            )
        if allowed_ids is not None:
            allowed_ids = allowed_ids.select(
                integral_id_col(
                    allowed_ids, ID_COL, "IVFFlatIndex.query allowed_ids"
                ).alias(ID_COL)
            )
        if excluded_ids is not None:
            excluded_ids = excluded_ids.select(
                integral_id_col(
                    excluded_ids, ID_COL, "IVFFlatIndex.query excluded_ids"
                ).alias(ID_COL)
            )
        nprobe = nprobe or max(1, int(np.sqrt(self.partitions)))
        metric = self.metric

        q = queries.select(QUERY_ID_COL, VECTOR_COL)
        if metric is DistanceMetric.COSINE:
            q = q.withColumn(VECTOR_COL, normalize_expr(VECTOR_COL).cast("array<float>"))
        q_rows = self._collect_queries(q, queries, strategy, ("kernel", "expr"))
        if q_rows is None:
            scored = self._query_join(
                q, k, nprobe, metric, allowed_ids, excluded_ids
            )
        else:
            scored = self._query_routed(
                q, q_rows, strategy, k, nprobe, metric, memory_budget_mb,
                allowed_ids, excluded_ids,
            )
        # an overlay member whose HOME partition was also probed appears
        # twice; the tail's min() collapses the pair deterministically
        return self._merge_topk(
            scored, q, queries, k, pad, allowed_ids, excluded_ids,
            dedup=self._overlay_frame() is not None,
        )

    def _query_routed(
        self,
        q: DataFrame,
        q_rows: list,
        strategy: str,
        k: int,
        nprobe: int,
        metric: DistanceMetric,
        memory_budget_mb: int | None,
        allowed_ids: DataFrame | None,
        excluded_ids: DataFrame | None,
    ) -> DataFrame:
        """The driver-routed plans' per-cell partial top-k's (``kernel``,
        and ``expr``'s exact scores): the collected batch is routed on the
        driver and each group of probed partitions is one pruned scan."""
        qids = np.array([r[0] for r in q_rows], dtype=np.int64)
        qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
        overlay = self._overlay_frame()

        # routing is a driver-side numpy task (centroids ≤10k) — no Spark
        # round-trip; a routing DataFrame exists only for the expr join
        pairs = route_queries(qids, qmat, self.centroids(), nprobe)
        if overlay is not None:
            # EVERY query probes the overlay pseudo-partition (exact
            # scan of a capped row set — bounded extra cost per query)
            pairs = pairs + [(int(q), OVERLAY_PID) for q in qids]
        parts = sorted({p for _, p in pairs if p != OVERLAY_PID})
        part_groups = self._partition_groups(parts, memory_budget_mb)

        from tiledb_vector_search_spark.functions.dtypes import (
            is_byte_dtype as _is_byte,
            unpack_vectors as _unpack,
        )

        group_topks = []
        for gi, group in enumerate(part_groups):
            base = self._base_vectors().where(F.col(PARTITION_COL).isin(group))
            if overlay is not None and gi == 0:
                base = base.unionByName(overlay)
            if strategy == "expr" and _is_byte(self.vector_dtype):
                # Catalyst distance exprs need an array column
                base = _unpack(base, self.vector_dtype, VECTOR_COL)
            base = self._live_rows(
                base.select(PARTITION_COL, ID_COL, VECTOR_COL),
                allowed_ids, excluded_ids, tombstones=True,
            )
            if strategy == "expr":
                routing = small_df(
                    self.spark, pairs, f"{QUERY_ID_COL} long, {PARTITION_COL} int"
                )
                scored = (
                    base.join(F.broadcast(routing), PARTITION_COL)
                    .join(
                        F.broadcast(
                            q.select(
                                QUERY_ID_COL, F.col(VECTOR_COL).alias("__qvec")
                            )
                        ),
                        QUERY_ID_COL,
                    )
                    .select(
                        QUERY_ID_COL,
                        ID_COL,
                        distance_expr("__qvec", VECTOR_COL, metric).alias(
                            DISTANCE_COL
                        ),
                    )
                )
            else:  # kernel
                scored = probe_scan(
                    base, self._cell_scorer(k, metric), qids, qmat, pairs,
                    scan_tasks=self._kernel_scan_tasks(group, len(qids)),
                )
            group_topks.append(scored)
        base_topk = group_topks[0]
        for g in group_topks[1:]:
            base_topk = base_topk.unionByName(g)
        return base_topk

    def _partition_groups(
        self, parts: list[int], memory_budget_mb: int | None
    ) -> list[list[int]]:
        """Split probed partitions into groups fitting the byte budget.

        Sizes come from the partition directories' actual on-disk footprint
        (Hadoop FS), mirroring the reference's blocked
        ``tdb_partitioned_matrix`` loads under ``upper_bound``.  A single
        partition larger than the budget still forms its own group — same
        behavior as the reference, which loads at least one partition.
        """
        if memory_budget_mb is None:
            return [parts]
        budget = memory_budget_mb * 1024 * 1024
        pbytes = self._partition_bytes()
        groups: list[list[int]] = []
        cur: list[int] = []
        cur_bytes = 0
        for p in parts:
            size = pbytes.get(int(p), 0)
            if cur and cur_bytes + size > budget:
                groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append(p)
            cur_bytes += size
        if cur:
            groups.append(cur)
        return groups

    def _query_join(
        self,
        q: DataFrame,
        k: int,
        nprobe: int,
        metric: DistanceMetric,
        allowed_ids: DataFrame | None = None,
        excluded_ids: DataFrame | None = None,
    ) -> DataFrame:
        """The ``join`` plan's per-cell partial top-k's: no driver
        materialization.

        Query batches are routed on the executors by the driver plan's own
        router (``routing_table_join``), then cogrouped with the cells on
        partition_id; each cell runs ``_cell_scorer`` on the queries routed
        to it, as the kernel plan's scan does.  Every query also probes
        the overlay pseudo-cell.  Skew note: OVERLAY_PID is one cogroup key
        carrying ALL queries × |overlay| — a hot group at bulk nq, scored
        in ``KERNEL_MAX_NQ``-query blocks so its distance matrices stay
        kernel-sized."""
        overlay = self._overlay_frame()
        cells = self._base_vectors().select(PARTITION_COL, ID_COL, VECTOR_COL)
        if overlay is not None:
            cells = cells.unionByName(overlay)
        cells = self._live_rows(cells, allowed_ids, excluded_ids, tombstones=True)
        routed = self._route_join(
            q, nprobe, OVERLAY_PID if overlay is not None else None
        )
        return probe_cogroup(cells, routed, self._cell_scorer(k, metric))

    def _cell_scorer(self, k: int, metric: DistanceMetric):
        """The per-cell body of both strategies: ``block_topk`` of the
        cell's vectors against the queries routed to it."""
        import pandas as pd

        vdtype = self.vector_dtype

        def score(pid, cell, qids, qmat):
            from tiledb_vector_search_spark.functions.dtypes import decode_matrix

            rows, out_i, out_d = block_topk(
                qmat,
                decode_matrix(cell[VECTOR_COL], vdtype),
                cell[ID_COL].to_numpy(dtype=np.int64),
                k,
                metric,
            )
            return pd.DataFrame(
                {QUERY_ID_COL: qids[rows], ID_COL: out_i, DISTANCE_COL: out_d}
            )

        return score
