"""Vamana index: sharded per-partition DiskANN-style graphs.

Reference: ``apis/python/src/tiledb/vector_search/vamana_index.py`` +
``src/include/index/vamana_index.h`` (train :322-412, query :500-560).
The reference builds ONE sequential graph in C++; graph construction is
fundamentally not DataFrame-shaped (SURVEY §7).  The Spark-idiomatic design
— consistent with DiskANN's own sharded/distributed variant — shards vectors
by k-means partition and builds an independent Vamana graph per shard inside
``applyInPandas`` (a group arrives as ONE pandas frame, so the build sees
its whole shard; inside the task it inserts vertices in lockstep batches,
``ml.vamana.build_vamana_graph``).  Queries route to nprobe shards, walk each
shard's graph locally, and merge with a window top-k.  Exact single-graph
parity is out of scope; recall ≥ 0.85 is the parity measure, matching how
the reference's own tests judge it (``test_ingestion.py:23``).

Storage: base snapshot partitioned by ``partition_id`` with columns
(external_id, vector, neighbors array<long> of external ids); shard medoids
in an aux table.  Updates overlay: additions are brute-forced and unioned
(they join the graph at the next consolidation — exactly the reference's
updates-array semantics); deleted ids stay in the graph as routing waypoints
but are filtered from results, the DiskANN "lazy delete".
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledb_vector_search_spark.functions.distance import (
    DistanceMetric,
    normalize_expr,
)
from tiledb_vector_search_spark.indexes.base import (
    Index,
    count_and_dims,
    probe_cogroup,
    probe_scan,
)
from tiledb_vector_search_spark.ml.kmeans import (
    assign_partitions_expr,
    default_training_sample_size,
    train_centroids_ml,
)
from tiledb_vector_search_spark.ml.vamana import (
    DEFAULT_ALPHA,
    DEFAULT_L_BUILD,
    DEFAULT_R_MAX,
    adjacency_from_ids,
    build_vamana_graph,
    medoid_index,
    medoid_position,
    search_vamana_graph,
    sq_dists,
)
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
from tiledb_vector_search_spark.driver_io import (
    read_small_table,
    write_small_parquet,
)

_SUPPORTED = {
    DistanceMetric.SUM_OF_SQUARES,
    DistanceMetric.L2,
    DistanceMetric.COSINE,
}
MEDOID_AUX = "vamana_medoids"
OVERLAY_AUX = "vamana_overlay"
# the overlay is an extra pseudo-shard every query probes (exact scan)
OVERLAY_PID = -1
DEFAULT_OVERLAY_MAX = 8192
# shards sized so one graph build is a comfortable single task
DEFAULT_SHARD_TARGET = 4096


# the selection machinery (self-audit + boundary-margin waterfill) is
# index-agnostic and shared with IVF_FLAT — indexes/overlay.py; the
# private aliases keep this module's historical surface stable
from tiledb_vector_search_spark.indexes.overlay import (  # noqa: E402
    audit_missed_ids as _shared_audit_missed_ids,
    audit_sample_size as _audit_sample_size,
    select_overlay_ids,
    waterfill_quotas as _waterfill_quotas,
)


def decode_medoids(table) -> dict[int, int]:
    """A medoids table (partition_id, medoid_id) as
    ``{partition_id: medoid_id}``."""
    return {
        int(p): int(m)
        for p, m in zip(
            table.column(PARTITION_COL).to_pylist(),
            table.column("medoid_id").to_pylist(),
        )
    }


def _walk_shard(
    pid: int,
    ids: np.ndarray,
    x: np.ndarray,
    neighbors,
    med_id: int | None,
    qids: np.ndarray,
    qmat: np.ndarray,
    eff_k: int,
    l_search: int,
) -> pd.DataFrame:
    """(query_id, id, squared distance) rows of one shard's walk for every
    query routed to it — the per-group body of both query strategies.

    The overlay pseudo-shard is capped (≤ overlay_max rows), so an EXACT
    scan beats a graph walk there: one BLAS product for the whole batch,
    zero walk recall loss.  A graph shard walks all of its queries in one
    lockstep call (``ml.vamana.search_vamana_graph``)."""
    if pid == OVERLAY_PID:
        d = sq_dists(qmat, x, np.einsum("ij,ij->i", x, x))
        take = min(eff_k, len(ids))
        pos = np.argpartition(d, take - 1, axis=1)[:, :take]
        dist = np.take_along_axis(d, pos, axis=1)
    else:
        adj, deg = adjacency_from_ids(ids, neighbors)
        med = medoid_position(ids, med_id)
        pos, dist = search_vamana_graph(x, adj, deg, med, qmat, eff_k, l_search)
    hit = pos >= 0
    return pd.DataFrame(
        {
            QUERY_ID_COL: np.broadcast_to(qids[:, None], pos.shape)[hit],
            ID_COL: ids[pos[hit]],
            DISTANCE_COL: dist[hit],
        }
    )


class VamanaIndex(Index):
    index_type = "VAMANA"
    normalize_on_write = True


    def _describe_extra(self):
        bal = self._partition_balance(PARTITION_COL)
        bal["shards"] = self.partitions
        bal["has_overlay"] = self.storage.fs.exists(
            self.storage.aux_path(OVERLAY_AUX, self.base_ts)
        )
        return bal

    # -- build ----------------------------------------------------------------

    @classmethod
    def ingest(
        cls,
        spark: SparkSession,
        uri: str,
        source: DataFrame,
        metric: DistanceMetric | str = DistanceMetric.SUM_OF_SQUARES,
        shards: int | None = None,
        training_source: DataFrame | None = None,
        r_max_degree: int = DEFAULT_R_MAX,
        l_build: int = DEFAULT_L_BUILD,
        alpha: float = DEFAULT_ALPHA,
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
    ) -> "VamanaIndex":
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
            # reference support matrix: vamana_index.py:173-180
            raise ValueError(f"VAMANA does not support metric {metric.value}")
        byte_vectors = is_byte_dtype(vector_dtype)
        if byte_vectors and metric is DistanceMetric.COSINE:
            raise ValueError("byte vector_dtype requires an un-normalized metric")
        ts = timestamp if timestamp is not None else now_ms()

        if byte_vectors:
            vectors = ensure_packed(
                source.select(
                    integral_id_col(source, id_col, "VamanaIndex.ingest").alias(ID_COL),
                    F.col(vector_col).alias(VECTOR_COL),
                ),
                vector_dtype,
                VECTOR_COL,
            )
        else:
            vectors = source.select(
                integral_id_col(source, id_col, "VamanaIndex.ingest").alias(ID_COL),
                F.col(vector_col).cast("array<float>").alias(VECTOR_COL),
            )
        if normalized and metric is not DistanceMetric.COSINE:
            raise ValueError(
                "normalized=True declares pre-normalized vectors to skip "
                f"the COSINE ingest normalization; metric {metric.value} "
                "never normalizes, so there is nothing to skip"
            )
        if metric is DistanceMetric.COSINE and not normalized:
            # ``normalized=True`` (reference ``ingestion.py:91,1331``)
            # declares the source already unit-norm — skip the per-row
            # pass; the caller owns the invariant
            vectors = vectors.withColumn(
                VECTOR_COL, normalize_expr(VECTOR_COL).cast("array<float>")
            )
        n, dims = count_and_dims(vectors, check_unique_ids=True)
        if n == 0:
            raise ValueError(
                "cannot build a VAMANA index on an empty source (graph "
                "construction needs data); ingest a FLAT index instead and "
                "stream updates into it"
            )
        k = shards or max(1, -(-n // DEFAULT_SHARD_TARGET))

        if k == 1:
            centroids = np.zeros((1, dims))
            assigned = vectors.withColumn(PARTITION_COL, F.lit(0))
        else:
            if training_source is not None:
                # same contract as IVF_FLAT/IVF_PQ (reference
                # training_input_vectors / training_source_uri,
                # ingestion.py:64-150): the provided vectors ARE the
                # training set — here they pick the SHARD layout, which
                # bounds every per-shard graph-build task
                tvecs = training_source.select(
                    F.col(vector_col).cast("array<float>").alias(VECTOR_COL)
                )
                if metric is DistanceMetric.COSINE:
                    tvecs = tvecs.withColumn(
                        VECTOR_COL,
                        normalize_expr(VECTOR_COL).cast("array<float>"),
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
                        "shards were requested — k-means needs at least "
                        "k training points"
                    )
                centroids = train_centroids_ml(tvecs, k, n_t, n_t, seed=seed)
            elif byte_vectors:
                # sample the PACKED column first, decode only sampled rows
                sample_size = default_training_sample_size(n, k)
                frac = min(1.0, (sample_size * 1.2) / max(n, 1))
                pre = vectors if frac >= 1.0 else vectors.sample(fraction=frac, seed=seed)
                centroids = train_centroids_ml(
                    unpack_vectors(pre, vector_dtype, VECTOR_COL),
                    k, sample_size, sample_size, seed=seed,
                )
            else:
                centroids = train_centroids_ml(
                    vectors, k, default_training_sample_size(n, k), n, seed=seed
                )
            # with an overlay coming, the assign kernel also emits the
            # boundary-margin columns and the assigned frame persists
            # across the graph build + overlay selection — one corpus
            # scan feeds all of it (margins are dropped before the
            # graph build; its output schema is fixed)
            assigned = assign_partitions_expr(
                vectors, centroids, vector_dtype=vector_dtype,
                with_margins=overlay,
            )
        build_overlay = overlay and centroids.shape[0] > 1
        if build_overlay:
            from pyspark import StorageLevel

            assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)

        graphed, medoids, graph_cache = cls._build_graphs(
            assigned.drop("__second", "__margin"),
            r_max_degree, l_build, alpha, seed, vector_dtype,
        )

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
                dimensions=dims,
                r_max_degree=r_max_degree,
                l_build=l_build,
                vector_dtype=vector_dtype,
            )
        extra_meta: dict = {"partitions": int(centroids.shape[0])}
        if overlay:
            # persist the overlay knobs so consolidation rebuilds the
            # overlay at the SAME caps (a legacy meta without them falls
            # back to the defaults)
            extra_meta["overlay_max"] = int(overlay_max)
            extra_meta["overlay_boost_max"] = int(overlay_boost_max)
            if overlay_audit_nprobe is not None:
                extra_meta["overlay_audit_nprobe"] = int(overlay_audit_nprobe)
        storage.write_base(
            graphed,
            ts,
            partition_by=PARTITION_COL,
            base_size=n,
            extra_meta=extra_meta,
        )
        write_small_parquet(
            spark,
            storage.centroids_path(ts),
            [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
            f"{PARTITION_COL} int, centroid array<double>",
        )
        if build_overlay:
            ov_medoids = cls._write_overlay(
                storage, assigned, centroids, ts, r_max_degree, l_build,
                alpha, seed, vector_dtype, overlay_max,
                audit_nprobe=overlay_audit_nprobe,
                boost_max=overlay_boost_max, n_total=int(n),
            )
            medoids = medoids.unionByName(ov_medoids)
        medoids.coalesce(1).write.parquet(storage.aux_path(MEDOID_AUX, ts))
        graph_cache.unpersist()
        if build_overlay:
            assigned.unpersist()
        idx = cls(spark, uri)
        if recall_curve:
            # measure + persist the operating-point curve on the fresh
            # snapshot (Index.measure_recall_curve) so queries can say
            # recall_target=... instead of hand-picking probe knobs
            idx.measure_recall_curve()
        return idx

    @classmethod
    def _audit_missed_ids(
        cls,
        assigned: DataFrame,
        margined: DataFrame,
        centroids: np.ndarray,
        vector_dtype: str,
        audit_nprobe: int,
        budget: int,
        n_total: int,
        levels: "list[int] | None" = None,
    ) -> DataFrame:
        """Rows a partial-probe query would MISS, by replaying the query
        path with the corpus as pseudo-queries — returns the ``budget``
        most-missed rows as (id, partition, second, margin).  Delegates
        to the shared, index-agnostic ``indexes.overlay.audit_missed_ids``
        (kept here as the historical entry point the audit tests pin).

        ``levels`` (default ``[audit_nprobe]``): probe budgets to score
        against SIMULTANEOUSLY from the one audit job — a neighbor found
        in the query's cell-rank ``c`` counts one miss for every level
        ``l < c``, so a row deep in the routing order (missed even by
        generous probes) outranks one a second probe would already
        rescue.  This is what lifts the CHEAPEST probe settings (the
        100 TB operating regime) without a second audit pass.

        Scale posture: the pseudo-query sample is bounded (hash filter,
        ≈ max(8·budget, 2048) rows); each routes to ``audit_nprobe
        + 4`` cells; the per-cell search is a cogroup keyed on cell id —
        one bounded IVF-query-batch-shaped job, narrow outputs
        throughout; the final take is a TakeOrdered of ``budget`` rows.
        """
        return _shared_audit_missed_ids(
            assigned, margined, centroids, vector_dtype,
            audit_nprobe, budget, n_total, levels=levels,
        )

    @classmethod
    def _write_overlay(
        cls,
        storage: IndexStorage,
        assigned: DataFrame,
        centroids: np.ndarray,
        ts: int,
        r_max: int,
        l_build: int,
        alpha: float,
        seed: int,
        vector_dtype: str,
        overlay_max: int,
        audit_nprobe: int | None = None,
        boost_max: int = 0,
        n_total: int | None = None,
    ) -> DataFrame:
        """Cross-shard edge overlay: one bounded bridge set over the rows
        partial-probe queries are most likely to miss.

        ``boost_max`` adds a second, capped, PURE-AUDIT tranche on top of
        ``overlay_max`` — extra slots dedicated to the cheapest probe
        settings (the level-weighted audit ranks rows missed even at
        nprobe=1/2 highest).  Measured at the sf0.1 gate corpus, 512+256:
        nprobe=1 recall 0.57 → ≥0.65, nprobe=2 0.70 → ≥0.78, with the
        total extra-row budget still capped at overlay_max + boost_max
        (the per-query exact-scan cost grows by exactly that bound).

        Sharded graphs lose recall exactly where a query's true neighbors
        sit across a shard boundary (DiskANN's sharded variant overlaps
        shards for the same reason; its merged-index design anchors this,
        ``src/include/index/vamana_index.h:322-460``).  Selection is a
        HYBRID of two signals, each taking half the budget:

        1. SELF-AUDIT (first half): a bounded hash-sampled set of corpus
           rows replays the partial-probe query path against the freshly
           assigned shards — each pseudo-query searches its
           ``audit_nprobe + 4`` nearest cells, and any top-10 neighbor
           whose home cell ranks beyond ``audit_nprobe`` is a row a real
           query WOULD have missed.  The most-missed rows seed the
           overlay (the corpus is its own query distribution for a
           training-data pipeline; validated on held-out queries).
           ``audit_nprobe`` defaults to the query path's default nprobe
           — tune it to the deployment's probe budget.
        2. BOUNDARY MARGIN (second half): per-row margin ``d²(second) −
           d²(nearest centroid)``, budgeted PER BOUNDARY PAIR ``(shard,
           second-nearest shard)`` via a deterministic waterfill over
           the observed pair counts (≤ shards² driver integers) — a
           shard's global smallest margins can all crowd onto its single
           tightest boundary, leaving the others uncovered.

        (Measured at the sf0.1 gate corpus, nprobe=4: per-shard rank
        0.841 → per-pair 0.847 → hybrid audit+pair 0.856.)  The picked
        rows form one pseudo-shard ``OVERLAY_PID`` that EVERY query
        probes with an exact scan.  Overlay size is capped, so the added
        per-query cost is bounded regardless of corpus size.  Returns
        the overlay medoid row to union into the medoids aux table.

        Selection itself lives in the shared, index-agnostic
        ``indexes.overlay.select_overlay_ids`` (IVF_FLAT uses the same
        machinery); this wrapper writes the Vamana layout: the picked
        rows persist as pseudo-shard ``OVERLAY_PID`` with an EMPTY
        adjacency — the overlay is probed by an exact scan (it is capped
        at overlay_max rows, so a brute-force pass per query batch is
        cheaper than a graph walk AND loses nothing — measured: the walk
        left ~0.015 recall on the table at the 0.85 gate), which also
        removes the overlay's graph-build time.
        """
        spark = assigned.sparkSession
        picked_id_list = select_overlay_ids(
            assigned, centroids, vector_dtype, overlay_max,
            boost_max=boost_max, audit_nprobe=audit_nprobe,
            n_total=n_total,
        )
        picked_ids = small_df(
            spark,
            [(int(i),) for i in picked_id_list],
            f"{ID_COL} long",
        )
        picked = (
            assigned.select(ID_COL, VECTOR_COL)
            .join(F.broadcast(picked_ids), ID_COL, "left_semi")
            .withColumn(PARTITION_COL, F.lit(OVERLAY_PID).cast("int"))
            .withColumn("neighbors", F.array().cast("array<bigint>"))
        )
        picked.coalesce(1).write.parquet(storage.aux_path(OVERLAY_AUX, ts))

        # nominal medoid row (exact scan needs no entry point; kept so
        # the medoids aux stays one-row-per-pseudo-shard)
        return small_df(
            storage.spark,
            [(int(OVERLAY_PID), int(min(picked_id_list)))],
            f"{PARTITION_COL} int, medoid_id long",
        )

    @staticmethod
    def _build_graphs(
        assigned: DataFrame,
        r_max: int,
        l_build: int,
        alpha: float,
        seed: int,
        vector_dtype: str = "float32",
    ) -> tuple[DataFrame, DataFrame]:
        """Per-shard graph build: groupBy(partition).applyInPandas so each
        build sees its whole shard in one task."""

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            from tiledb_vector_search_spark.functions.dtypes import decode_matrix

            # row-arrival order inside a shard is not deterministic across
            # Spark runs (split order / scheduling); the seeded build must
            # see a canonical order or the graph (and its recall) drifts
            pdf = pdf.sort_values(ID_COL, ignore_index=True)
            x = decode_matrix(pdf[VECTOR_COL], vector_dtype)
            ids = pdf[ID_COL].to_numpy(dtype=np.int64)
            adj, med = build_vamana_graph(x, r_max, l_build, alpha, seed)
            out = pdf.copy()
            out["neighbors"] = [list(ids[a]) for a in adj]
            out["is_medoid"] = False
            out.loc[out.index[med], "is_medoid"] = True
            return out

        vec_type = "binary" if vector_dtype != "float32" else "array<float>"
        schema = (
            f"{ID_COL} long, {VECTOR_COL} {vec_type}, {PARTITION_COL} int, "
            "neighbors array<long>, is_medoid boolean"
        )
        graphed = assigned.groupBy(PARTITION_COL).applyInPandas(build, schema)
        from pyspark import StorageLevel

        # one graph build per shard; cache so the snapshot write and the
        # medoid extraction don't each re-run the O(n·l·d) construction.
        # The HANDLE is returned so the caller unpersists once both writes
        # have consumed it — cached frames otherwise outlive the ingest.
        handle = graphed.persist(StorageLevel.MEMORY_AND_DISK)
        medoids = handle.where("is_medoid").select(
            PARTITION_COL, F.col(ID_COL).alias("medoid_id")
        )
        return handle.drop("is_medoid"), medoids, handle

    CONSOLIDATE_KWARGS = frozenset(
        {"retrain_index", "shards", "split_hot_cells", "cell_cap"}
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
        """Re-assign + per-shard graph rebuild; reuse shard centroids
        unless retrain.

        ``split_hot_cells=True`` (r11): the surgical skew remedy on the
        shard level, same contract as IVF_FLAT — over-cap shards split
        into sub-shards, cold shard centroids survive byte-identical.
        On a graph index the hot shard is worse than a hot probe: the
        per-shard Vamana build runs inside one ``applyInPandas``
        task (O(n·l·d) per shard), so a 10×-grown
        shard is a 10× straggler on every consolidation.  Splitting
        caps the longest build task.  Every fold already rebuilds each
        shard's graph from its membership (deterministically — sorted
        ids, fixed seed), so cold shards whose membership is unchanged
        rebuild byte-identical graphs, and split shards get fresh
        well-sized ones in the same pass."""
        from tiledb_vector_search_spark.functions.dtypes import (
            is_byte_dtype,
            pack_vectors,
            unpack_vectors,
        )

        if retrain_index and split_hot_cells:
            raise ValueError(
                "retrain_index=True already re-trains every shard "
                "centroid — combining it with split_hot_cells is "
                "ambiguous (which wins?); pass exactly one"
            )

        # consolidation may arrive float-promoted (updates overlay); re-pack
        # so the snapshot keeps the declared storage dtype
        if is_byte_dtype(self.vector_dtype) and dict(vectors.dtypes).get(
            VECTOR_COL, ""
        ).startswith("array"):
            vectors = pack_vectors(vectors, self.vector_dtype, VECTOR_COL)
        n = vectors.count()
        k = kw.get("shards") or self.partitions
        if retrain_index:
            train_src = vectors
            if is_byte_dtype(self.vector_dtype):
                train_src = unpack_vectors(vectors, self.vector_dtype, VECTOR_COL)
            centroids = train_centroids_ml(
                train_src, k, default_training_sample_size(n, k), n
            )
        else:
            centroids = self.centroids()
        first_pass = None
        if split_hot_cells and not retrain_index:
            centroids, first_pass = self._split_pass(
                vectors.select(ID_COL, VECTOR_COL), centroids, cell_cap
            )
        if first_pass is not None and not self.has_overlay:
            # split requested but nothing hot: the counting pass IS the
            # final assignment — no second corpus scan
            assigned = first_pass
        elif centroids.shape[0] == 1:
            assigned = vectors.select(ID_COL, VECTOR_COL).withColumn(
                PARTITION_COL, F.lit(0)
            )
        else:
            assigned = assign_partitions_expr(
                vectors.select(ID_COL, VECTOR_COL), centroids,
                vector_dtype=self.vector_dtype,
                with_margins=self.has_overlay,
            )
        build_overlay = self.has_overlay and centroids.shape[0] > 1
        if build_overlay:
            from pyspark import StorageLevel

            assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        graphed, medoids, graph_cache = self._build_graphs(
            assigned.drop("__second", "__margin"),
            int(self.meta["r_max_degree"]),
            int(self.meta["l_build"]),
            DEFAULT_ALPHA,
            42,
            self.vector_dtype,
        )
        prev = self._base_entry()
        extra_meta: dict = {"partitions": int(centroids.shape[0])}
        if self.has_overlay:
            # the consolidated snapshot keeps the old base's overlay caps
            # (legacy metas without them fall back to the defaults)
            for key, dflt in (
                ("overlay_max", DEFAULT_OVERLAY_MAX),
                ("overlay_boost_max", 0),
                ("overlay_audit_nprobe", None),
            ):
                if prev.get(key, dflt) is not None:
                    extra_meta[key] = prev.get(key, dflt)
        self.storage.write_base(
            graphed,
            ts,
            partition_by=PARTITION_COL,
            base_size=n,
            extra_meta=extra_meta,
        )
        write_small_parquet(
            self.spark,
            self.storage.centroids_path(ts),
            [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
            f"{PARTITION_COL} int, centroid array<double>",
        )
        if build_overlay:
            ov_medoids = self._write_overlay(
                self.storage, assigned, centroids, ts,
                int(self.meta["r_max_degree"]), int(self.meta["l_build"]),
                DEFAULT_ALPHA, 42, self.vector_dtype,
                int(extra_meta.get("overlay_max", DEFAULT_OVERLAY_MAX)),
                audit_nprobe=extra_meta.get("overlay_audit_nprobe"),
                boost_max=int(extra_meta.get("overlay_boost_max", 0)),
                n_total=int(n),
            )
            medoids = medoids.unionByName(ov_medoids)
        medoids.coalesce(1).write.parquet(self.storage.aux_path(MEDOID_AUX, ts))
        graph_cache.unpersist()
        if build_overlay:
            assigned.unpersist()

    # -- access ---------------------------------------------------------------

    def medoids(self) -> dict[int, int]:
        return self._snapshot_memo(
            "medoids",
            lambda: decode_medoids(
                read_small_table(
                    self.spark, self.storage.aux_path(MEDOID_AUX, self.base_ts)
                )
            ),
        )

    def _recall_curve_settings(self) -> list:
        # shard-probe ladder at the default beam (the probe count is
        # the dominant recall knob for sharded graphs), plus wider
        # beams at full probe — the high-recall end where routing loss
        # is gone and beam width is what remains
        grid, p = [], 1
        while p < self.partitions:
            grid.append({"nprobe": p})
            p *= 2
        grid.append({"nprobe": self.partitions})
        grid.append({"nprobe": self.partitions, "l_search": 100})
        grid.append({"nprobe": self.partitions, "l_search": 200})
        return grid

    def _overlay_frame(self) -> DataFrame | None:
        """The cross-shard bridge graph as pseudo-shard ``OVERLAY_PID``
        (partition_id, external_id, vector, neighbors), or ``None`` when
        the index was built without an overlay."""

        def load():
            path = self.storage.aux_path(OVERLAY_AUX, self.base_ts)
            if not self.storage.fs.exists(path):
                return None
            return self.spark.read.parquet(path).select(
                PARTITION_COL, ID_COL, VECTOR_COL, "neighbors"
            )

        # immutable per snapshot: resolve the reader (exists + listing +
        # schema, ~0.1 s of driver round-trips) once per session
        return self._snapshot_memo("overlay_df", load, per_session=True)

    @property
    def has_overlay(self) -> bool:
        return self._overlay_frame() is not None

    # -- query ----------------------------------------------------------------

    def _shard_masked_counts(
        self, excluded_ids: DataFrame | None = None
    ) -> dict[int, int]:
        """partition_id → #base ids masked from results (superseded by
        updates and/or caller-excluded), via a SMALL aggregate.

        The masked sets themselves are never collected (with heavy churn
        the updates log can be millions of rows — a driver-memory
        bound); only one count per shard reaches the driver.  The walk
        over-fetches by exactly that count, and its results are
        filtered with a distributed anti-join (the ``ivf_pq.py``
        base-side anti-join pattern, applied RESULT-side here because
        graph connectivity needs masked nodes present during the walk —
        DiskANN deletes work the same way; caller ``excluded_ids`` ride
        the identical mechanism).
        """
        masked = None
        if self._has_updates():
            masked = self._updated_ids()
        if excluded_ids is not None:
            masked = (
                excluded_ids
                if masked is None
                else masked.unionByName(excluded_ids).distinct()
            )
        if masked is None:
            return {}
        rows = (
            self._base_vectors()
            .select(PARTITION_COL, ID_COL)
            .join(masked, ID_COL, "left_semi")
            .groupBy(PARTITION_COL)
            .count()
            .collect()
        )
        return {int(r[0]): int(r[1]) for r in rows}

    def query(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int | None = None,
        l_search: int | None = None,
        pad: bool = False,
        strategy: str = "auto",
        excluded_ids: DataFrame | None = None,
        recall_target: float | None = None,
        **kw: Any,
    ) -> DataFrame:
        """Route to nprobe shards → per-shard graph walk → merge top-k.

        ``excluded_ids`` (DataFrame with ``external_id``) removes ids
        from the result BEFORE top-k.  Graph connectivity needs the
        excluded nodes present DURING the walk, so they ride the
        tombstone mechanism: the walk over-fetches by the per-shard
        excluded count and the results are anti-joined distributively —
        excluded rows can never crowd true neighbors out of the k slots.


        ``recall_target`` resolves ``nprobe`` from this snapshot's
        measured recall curve (``Index.measure_recall_curve``) — the
        cheapest setting that cleared the target; mutually exclusive
        with an explicit ``nprobe``.

        Reference ``query`` (``vamana_index.py:92-130``): greedy best-first
        from the medoid with beam ``l_search`` (default ``max(k, 100)``-ish;
        we default to ``max(2k, 50)``).

        Strategies: ``kernel`` routes the collected batch on the driver
        and broadcasts the route map to the shard walks; ``join`` routes on
        the executors and cogroups each shard with the queries routed to
        it, with no driver collect (large batches); ``auto`` is kernel up
        to ``operators.knn.KERNEL_MAX_NQ`` queries and join above.  Both
        walk each shard with the same scorer (``_cell_scorer``) and share
        the merge, so they return the same bits.
        """
        if not self.query_base_array:
            # updates-only range open: no base, no graph to walk —
            # exact scan over the window's additions (Index doc)
            return self._updates_only_query(
                queries, k, pad=pad, excluded_ids=excluded_ids
            )
        # schema/kwargs only — the row-level check rides the kernel
        # collect below; join paths run the distributed agg check (r11)
        self._validate_queries(queries, k, kw, data_check=False)
        if recall_target is not None:
            if nprobe is not None or l_search is not None:
                raise ValueError(
                    "pass either (nprobe, l_search) or recall_target, "
                    "not both"
                )
            resolved = self.resolve_recall_target(recall_target)
            nprobe = int(resolved["nprobe"])
            l_search = resolved.get("l_search")  # None = default beam
        nprobe = nprobe or max(1, int(np.sqrt(self.partitions)) + 1)
        l_search = l_search or max(2 * k, 50)
        metric = self.metric
        if excluded_ids is not None:
            excluded_ids = excluded_ids.select(
                integral_id_col(
                    excluded_ids, ID_COL, "VamanaIndex.query excluded_ids"
                ).alias(ID_COL)
            )

        q = queries.select(QUERY_ID_COL, VECTOR_COL)
        if metric is DistanceMetric.COSINE:
            q = q.withColumn(VECTOR_COL, normalize_expr(VECTOR_COL).cast("array<float>"))
        q_rows = self._collect_queries(q, queries, strategy)
        overlay = self._overlay_frame()
        # masked ids (tombstones + caller-excluded) are never collected —
        # the walk over-fetches by the per-shard COUNT and the results
        # are anti-joined below
        tombs = (
            self._shard_masked_counts(excluded_ids)
            if self._has_updates() or excluded_ids is not None
            else {}
        )
        if overlay is not None and tombs:
            # overlay rows duplicate base rows, so its tombstone exposure is
            # bounded by the total across shards
            tombs[OVERLAY_PID] = sum(tombs.values())
        score = self._cell_scorer(k, l_search, tombs)
        graphs = self._base_vectors().select(
            PARTITION_COL, ID_COL, VECTOR_COL, "neighbors"
        )
        if q_rows is None:
            scored = self._query_join(q, graphs, nprobe, score)
        else:
            qids = np.array([r[0] for r in q_rows], dtype=np.int64)
            qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
            # routing is a driver-side numpy task — no Spark round-trip
            pairs = route_queries(qids, qmat, self.centroids(), nprobe)
            graphs = graphs.where(
                F.col(PARTITION_COL).isin(sorted({p for _, p in pairs}))
            )
            if overlay is not None:
                # the bridge graph is an extra pseudo-shard EVERY query probes
                graphs = graphs.unionByName(overlay)
                pairs = pairs + [(int(qid), OVERLAY_PID) for qid in qids]
            scored = probe_scan(graphs, score, qids, qmat, pairs, whole_cells=True)

        # the walk scores Σ(a−b)²; convert to the index metric's scale so the
        # additions branch (scored with distance_expr) unions consistently:
        # L2 = √sos; for unit vectors cosine distance = sos/2
        if metric is DistanceMetric.L2:
            scored = scored.withColumn(DISTANCE_COL, F.sqrt(F.col(DISTANCE_COL)))
        elif metric is DistanceMetric.COSINE:
            scored = scored.withColumn(DISTANCE_COL, F.col(DISTANCE_COL) / 2.0)
        if self._has_updates():
            # distributed tombstone filter (before the additions overlay,
            # which legitimately re-adds updated ids); AQE picks broadcast
            # when the updates log is small
            scored = scored.join(self._updated_ids(), ID_COL, "left_anti")
        if excluded_ids is not None:
            scored = scored.join(excluded_ids, ID_COL, "left_anti")
        # a vector found by both its shard walk and the overlay scan would
        # otherwise occupy two ranks; the tail's min() keeps one (the two
        # scores can differ by ~1e-16 — BLAS-identity vs subtractive fold)
        return self._merge_topk(
            scored, q, queries, k, pad, excluded_ids=excluded_ids,
            dedup=overlay is not None,
        )

    def _query_join(
        self, q: DataFrame, graphs: DataFrame, nprobe: int, score
    ) -> DataFrame:
        """The ``join`` plan's shard walks: no driver materialization.

        Query batches are routed on the executors by the driver plan's own
        router (``routing_table_join``) and each shard's graph COGROUPs
        with the queries routed to it, so the walk state lives on the
        executor that holds the shard; every query also probes the
        overlay pseudo-shard.  The only driver-sized artifacts shipped are
        the medoid map and the per-shard tombstone COUNTS inside ``score``
        (the updates log itself is never collected)."""
        overlay = self._overlay_frame()
        if overlay is not None:
            graphs = graphs.unionByName(overlay)
        routed = self._route_join(
            q, nprobe, OVERLAY_PID if overlay is not None else None
        )
        return probe_cogroup(graphs, routed, score)

    def _cell_scorer(self, k: int, l_search: int, tombs: dict):
        """The per-shard body of both strategies: ``_walk_shard`` for the
        queries routed to the shard, over-walking by the shard's masked
        count so k results survive the result-side anti-joins."""
        vdtype = self.vector_dtype
        bc = self.spark.sparkContext.broadcast((tombs, self.medoids()))

        def score(pid, cell, qids, qmat):
            from tiledb_vector_search_spark.functions.dtypes import (
                decode_matrix,
            )

            tombs_l, meds = bc.value
            return _walk_shard(
                pid,
                cell[ID_COL].to_numpy(dtype=np.int64),
                decode_matrix(cell[VECTOR_COL], vdtype),
                cell["neighbors"],
                meds.get(pid),
                qids,
                qmat,
                k + tombs_l.get(pid, 0),
                l_search,
            )

        return score
