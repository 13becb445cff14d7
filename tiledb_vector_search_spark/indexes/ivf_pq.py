"""IVF_PQ index: coarse IVF partitioning + product-quantized codes.

Reference: ``apis/python/src/tiledb/vector_search/ivf_pq_index.py`` (API,
``k_factor`` re-rank at ``:121-163``) and ``src/include/index/ivf_pq_index.h``
(training ``:535-595``, asymmetric distance ``:597-690``).  The reference
chunks each raw vector into ``num_subspaces`` pieces and stores, per piece,
the index of the nearest of 256 per-subspace "cluster centroids"; queries
score codes with per-query lookup tables (asymmetric distance), optionally
re-ranking ``k_factor·k`` coarse candidates against the original vectors.

Spark-first physical design:

- codes live in a ``binary`` column (``num_subspaces`` uint8 bytes per row)
  beside the original ``vector`` column in the same partitioned Parquet
  snapshot.  Parquet is columnar, so the coarse scan reads ONLY
  (external_id, code) — for 64-dim float32 vectors that is a 32× IO
  reduction, which is the entire point of PQ at 100 TB — while the re-rank
  stage reads (external_id, vector) just for the candidate ids.
- the ADC lookup tables (nq × num_subspaces × 256 float64) are built on the
  driver from the broadcast codebooks and shipped with the routing map to a
  ``mapInPandas`` kernel; scoring is a vectorized numpy gather+sum.
- per-batch partial top-(k·k_factor) with the deterministic (distance, id)
  tie-break, final window merge, then an optional exact re-rank join — the
  same two-stage DataFrame shape as the reference's
  ``preload_k_factor_vectors`` path.

Metric support: SUM_OF_SQUARES / L2 only (reference ``ivf_pq_index.py``
support matrix; PQ tables are squared-distance sums).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledb_vector_search_spark.functions.distance import (
    DistanceMetric,
    distance_expr,
)
from tiledb_vector_search_spark.indexes.base import (
    Index,
    cell_write_layout,
    count_and_dims,
    probe_cogroup,
    probe_scan,
)
from tiledb_vector_search_spark.ml.kmeans import (
    CENTRALIZED_K_MAX,
    CENTRALIZED_SAMPLE_MAX,
    default_partitions,
    default_training_sample_size,
    kmeans_numpy,
    train_centroids_ml,
)
from tiledb_vector_search_spark.operators.knn import block_topk, topk_rows
from tiledb_vector_search_spark.operators.routing import route_queries
from tiledb_vector_search_spark.operators.topk import topk_window
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

_SUPPORTED = {DistanceMetric.SUM_OF_SQUARES, DistanceMetric.L2}

CODE_COL = "code"
PQ_CODEBOOK_AUX = "pq_codebooks"
PQ_BITS = 8  # 256 codes per subspace (reference ivf_pq_index.h:212-217)
PQ_TRAIN_MAX = 100_000
# partial-probe overlay (shared machinery: indexes/overlay.py) — the
# bridge rows store RAW vectors and are scored EXACTLY, so for IVF_PQ
# the overlay sidesteps BOTH loss sources at cheap nprobe: routing loss
# (the member's home cell wasn't probed) and ADC quantization loss
OVERLAY_AUX = "pq_overlay"
OVERLAY_PID = -1
DEFAULT_OVERLAY_MAX = 8192


def assign_and_encode_kernel(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    vector_col: str,
    partition_col: str,
    vector_dtype: str = "float32",
    residual: bool = False,
    with_margins: bool = False,
) -> DataFrame:
    """ONE Arrow pass appending both ``partition_id`` and ``code``.

    Fusing coarse assignment and PQ encoding halves the Python-worker
    round-trips over the full vector column — at 100 TB that is one scan of
    the data instead of two.  ``with_margins`` additionally emits
    ``__second``/``__margin`` from the same coarse distance matrix (the
    overlay selection's boundary signal — threaded through so the
    overlay build drops its own full-corpus margin scan).

    ``residual=True`` PQ-encodes ``x − centroid[assign]`` instead of the
    raw vector (the IVFADC formulation, Jégou et al. 2011): residuals
    have far less variance than the vectors themselves, so the same
    8-bit-per-subspace budget quantizes much finer and ADC ranking
    fidelity — hence recall at a fixed k_factor — rises sharply.  The
    flag is persisted in index meta; raw encoding remains readable for
    indexes written before storage spark-0.3.
    """
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((centroids, codebooks))
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema += f", {partition_col} int, {CODE_COL} binary"
    if with_margins:
        if centroids.shape[0] < 2:
            raise ValueError("with_margins needs >= 2 centroids")
        schema += ", __second int, __margin double"

    def run(batches):
        from tiledb_vector_search_spark.functions.dtypes import decode_matrix

        cents, cb = bc.value
        c_sq = np.sum(cents * cents, axis=1)
        m, n_codes, sub_dim = cb.shape
        cb_sq = np.sum(cb * cb, axis=2)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = decode_matrix(pdf[vector_col], vector_dtype)
            n = x.shape[0]
            d = c_sq[None, :] - 2.0 * (x @ cents.T)
            assign = np.argmin(d, axis=1).astype(np.int32)
            enc = x - cents[assign] if residual else x
            codes = np.empty((n, m), dtype=np.uint8)
            for j in range(m):
                sub = enc[:, j * sub_dim : (j + 1) * sub_dim]
                dj = cb_sq[j][None, :] - 2.0 * (sub @ cb[j].T)
                codes[:, j] = np.argmin(dj, axis=1)
            out = pdf.copy()
            out[partition_col] = assign
            out[CODE_COL] = [codes[i].tobytes() for i in range(n)]
            if with_margins:
                from tiledb_vector_search_spark.ml.kmeans import (
                    second_and_margin,
                )

                second, margin = second_and_margin(d)
                out["__second"] = second
                out["__margin"] = margin
            yield out

    return df.mapInPandas(run, schema=schema)


def adc_tables(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(nq, m, n_codes) asymmetric-distance lookup tables:
    table[q, j, c] = ‖q_sub_j − cb[j, c]‖² (reference
    ``sub_distance_asymmetric`` + table builder, ``ivf_pq_index.h:627-690``).
    Residual indexes pass (q − centroid[pid]) as ``qmat``."""
    m, n_codes, sub_dim = codebooks.shape
    cb_sq = np.sum(codebooks * codebooks, axis=2)  # (m, n_codes)
    tables = np.empty((qmat.shape[0], m, n_codes), dtype=np.float64)
    for j in range(m):
        qs = qmat[:, j * sub_dim : (j + 1) * sub_dim]
        tables[:, j, :] = (
            np.sum(qs * qs, axis=1)[:, None]
            + cb_sq[j][None, :]
            - 2.0 * (qs @ codebooks[j].T)
        )
    np.maximum(tables, 0.0, out=tables)
    return tables


def adc_distances(tables: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(nq, n) approximate squared distances Σ_j table[q, j, code_j] of
    ``n`` packed code rows (uint8, (n, m)) under each query's tables."""
    pick = np.arange(codes.shape[1])[None, :]
    out = np.empty((tables.shape[0], codes.shape[0]), dtype=np.float64)
    for qi in range(tables.shape[0]):
        out[qi] = tables[qi][pick, codes].sum(axis=1)
    return out


def adc_topk(
    qmat: np.ndarray,
    codebooks: np.ndarray,
    codes: np.ndarray,
    ids: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Partial top-``k`` of ``n`` code rows under each query's ADC tables:
    (query row position, id, approximate squared distance) flat arrays in
    the (distance, id) order.  The per-cell scan of every IVF_PQ query
    plan; residual indexes pass (q − centroid[pid]) as ``qmat``."""
    return topk_rows(adc_distances(adc_tables(qmat, codebooks), codes), ids, k)


def decode_codebooks(table, m: int) -> np.ndarray:
    """A codebooks table (subspace, code, centroid) as an
    (m, n_codes, sub_dim) float64 array."""
    subspace = table.column("subspace").to_numpy()
    code = table.column("code").to_numpy()
    cents = table.column("centroid").to_pylist()
    cb = np.empty((m, int(code.max()) + 1, len(cents[0])), dtype=np.float64)
    cb[subspace, code] = cents
    return cb


def default_num_subspaces(dims: int) -> int:
    """Largest divisor of ``dims`` that is ≤ 16 — the reference's default
    subspace count (``ivf_pq_index.h:309``), relaxed to keep the
    dims-divisibility contract for dimensions 16 doesn't divide.  More
    subspaces = finer quantization (sub_dim shrinks), directly buying
    ADC ranking fidelity at 1 byte/subspace/vector."""
    for m in range(min(16, dims), 0, -1):
        if dims % m == 0:
            return m
    return 1


def _coarse_residuals(sample: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """sample − nearest-centroid (the PQ training input for residual
    encoding); one BLAS argmin over the ≤100k sample — driver micro-task."""
    d = np.sum(centroids * centroids, axis=1)[None, :] - 2.0 * (
        sample @ centroids.T
    )
    return sample - centroids[np.argmin(d, axis=1)]


def train_pq_codebooks(
    sample: np.ndarray, num_subspaces: int, n_codes: int = 256, seed: int = 42
) -> np.ndarray:
    """Per-subspace k-means codebooks on a training sample.

    Reference ``sub_kmeans_random_init`` driver (``ivf_pq_index.h:559-607``,
    ``kmeans.h:423-615``): the sample is small (≤100k) and each subproblem is
    256 centroids over ``dims/num_subspaces`` dims — a driver-side
    numpy micro-task, as the reference itself judges.
    Returns (num_subspaces, n_codes, sub_dim); padded with zeros if the
    sample has fewer than ``n_codes`` distinct points.
    """
    from concurrent.futures import ThreadPoolExecutor

    dims = sample.shape[1]
    sub_dim = dims // num_subspaces
    out = np.zeros((num_subspaces, n_codes, sub_dim), dtype=np.float64)

    def _train(j: int) -> np.ndarray:
        sub = sample[:, j * sub_dim : (j + 1) * sub_dim]
        return kmeans_numpy(sub, n_codes, seed=seed + j)

    # subproblems are independent and per-subspace seeded (deterministic
    # regardless of completion order); BLAS releases the GIL, so threads
    # give real parallelism on the driver
    import os

    workers = min(num_subspaces, os.cpu_count() or 8)
    with ThreadPoolExecutor(max_workers=workers) as ex:
        books = list(ex.map(_train, range(num_subspaces)))
    for j, cb in enumerate(books):
        out[j, : cb.shape[0]] = cb
        if cb.shape[0] < n_codes:
            # duplicate the last centroid so unused codes never win argmin
            out[j, cb.shape[0] :] = cb[-1]
    return out


class IVFPQIndex(Index):
    index_type = "IVF_PQ"


    def _describe_extra(self):
        return {
            "partitions": self.partitions,
            "num_subspaces": self.num_subspaces,
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
        num_subspaces: int | None = None,
        training_sample_size: int | None = None,
        training_sampling_policy: str = "random",
        training_source: DataFrame | None = None,
        copy_centroids_from: np.ndarray | None = None,
        timestamp: int | None = None,
        id_col: str = ID_COL,
        vector_col: str = VECTOR_COL,
        seed: int = 42,
        vector_dtype: str = "float32",
        overlay: bool = False,
        overlay_max: int = DEFAULT_OVERLAY_MAX,
        overlay_audit_nprobe: int | None = None,
        overlay_boost_max: int = 0,
        recall_curve: bool = False,
    ) -> "IVFPQIndex":
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
            decode_matrix,
            ensure_packed,
            is_byte_dtype,
            pack_vectors,
        )

        metric = DistanceMetric(metric)
        if metric not in _SUPPORTED:
            # reference support matrix: ivf_pq_index.py:212-218
            raise ValueError(f"IVF_PQ does not support metric {metric.value}")
        ts = timestamp if timestamp is not None else now_ms()

        if is_byte_dtype(vector_dtype):
            vectors = ensure_packed(
                source.select(
                    integral_id_col(source, id_col, "IVFPQIndex.ingest").alias(ID_COL),
                    F.col(vector_col).alias(VECTOR_COL),
                ),
                vector_dtype,
                VECTOR_COL,
            )
        else:
            vectors = source.select(
                integral_id_col(source, id_col, "IVFPQIndex.ingest").alias(ID_COL),
                F.col(vector_col).cast("array<float>").alias(VECTOR_COL),
            )
        n, dims = count_and_dims(vectors, check_unique_ids=True)
        if n == 0:
            raise ValueError(
                "cannot train an IVF_PQ index on an empty source "
                "(k-means and PQ codebooks need data); ingest a FLAT index "
                "instead and stream updates into it"
            )
        # resolve storage BEFORE choosing num_subspaces: the code layout is
        # an index-wide invariant, so re-ingesting onto an existing index
        # must keep its subspace count — resolving the (possibly newer)
        # default first would silently flip the layout while meta still
        # says the old count
        storage = IndexStorage(spark, uri)
        from tiledb_vector_search_spark.indexes.base import (
            check_reingest_meta,
        )

        check_reingest_meta(
            storage, cls.index_type, metric, int(dims), vector_dtype
        )
        existing_meta = storage.read_meta() if storage.exists() else None
        if num_subspaces is None:
            if existing_meta is not None and existing_meta.get("num_subspaces"):
                num_subspaces = int(existing_meta["num_subspaces"])
            else:
                # reference default: 16 subspaces (ivf_pq_index.h:309),
                # clipped to a divisor of dims so the chunking contract
                # always holds
                num_subspaces = default_num_subspaces(dims)
        elif (
            existing_meta is not None
            and existing_meta.get("num_subspaces")
            and num_subspaces != int(existing_meta["num_subspaces"])
        ):
            raise ValueError(
                f"index at {uri} was built with num_subspaces="
                f"{existing_meta['num_subspaces']}; re-ingesting with "
                f"num_subspaces={num_subspaces} would change the code "
                "layout index-wide — pass the original count or use a "
                "new uri"
            )
        if dims % num_subspaces != 0:
            # reference validation: ivf_pq_index.py:204-210
            raise ValueError(
                f"dimensions ({dims}) must be divisible by "
                f"num_subspaces ({num_subspaces})"
            )
        k = partitions or default_partitions(n)

        # ONE bounded sample scan serves both trainings: PQ codebooks always,
        # and the coarse centroids whenever the centralized path applies
        # (sample caps are equal, so the PQ sample is a superset) — saving a
        # second full-corpus sampling scan, which is real IO at 100 TB.
        # ordered take: a bare limit() samples whichever tasks finish
        # first and the codebooks/centroids (so recall) drift run to run;
        # orderBy+limit runs as distributed TakeOrdered.  Hash-ordered,
        # not id-ordered — see train_centroids_ml: an id order would
        # exclude the highest-id tail of the oversampled pool from
        # training on append-ordered corpora.
        if training_source is not None:
            # training_input_vectors / training_source_uri parity
            # (reference ``ingestion.py:64-150``): the provided vectors
            # train BOTH the coarse centroids and the PQ codebooks — one
            # curated training read, decoupled from the corpus scan.
            # Refusals match IVF_FLAT (and the reference refuses the
            # training_sample_size pair).
            if copy_centroids_from is not None:
                raise ValueError(
                    "pass either training_source (train on these "
                    "vectors) or copy_centroids_from (skip coarse "
                    "training), not both"
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
            tvecs = training_source.select(
                F.col(vector_col).cast("array<float>").alias(VECTOR_COL)
            )
            # (no cosine branch: IVF_PQ refuses COSINE outright above)
            # bounded deterministic take (hash of the vector — no id
            # required); a training set larger than PQ_TRAIN_MAX trains
            # on a deterministic subset of that size
            srows = (
                tvecs.orderBy(F.xxhash64(F.col(VECTOR_COL)))
                .limit(PQ_TRAIN_MAX)
                .collect()
            )
            sample = np.array([r[VECTOR_COL] for r in srows], dtype=np.float64)
            if sample.size and sample.shape[1] != dims:
                raise ValueError(
                    f"training_source dimensionality {sample.shape[1]} "
                    f"!= corpus dimensionality {dims}"
                )
            if len(sample) < k:
                raise ValueError(
                    f"training_source has {len(sample)} vectors but {k} "
                    "partitions were requested — k-means needs at least "
                    "k training points"
                )
        else:
            if training_sampling_policy == "first_n":
                # reference FIRST_N (ingestion.py:34-36): the corpus head
                # in id order trains both codebooks and coarse centroids
                srows = (
                    vectors.orderBy(F.col(ID_COL)).limit(PQ_TRAIN_MAX).collect()
                )
            elif training_sampling_policy != "random":
                raise ValueError(
                    f"unknown training_sampling_policy "
                    f"{training_sampling_policy!r} — 'random' or 'first_n'"
                )
            else:
                frac = min(1.0, (PQ_TRAIN_MAX * 1.2) / max(n, 1))
                srows = (
                    (vectors.sample(fraction=frac, seed=seed) if frac < 1.0 else vectors)
                    .orderBy(F.xxhash64(ID_COL), F.col(ID_COL))
                    .limit(PQ_TRAIN_MAX)
                    .collect()
                )
            if is_byte_dtype(vector_dtype):
                sample = decode_matrix([r[VECTOR_COL] for r in srows], vector_dtype)
            else:
                sample = np.array([r[VECTOR_COL] for r in srows], dtype=np.float64)

        if copy_centroids_from is not None:
            centroids = np.asarray(copy_centroids_from, dtype=np.float64)
            k = centroids.shape[0]
        elif training_source is not None:
            centroids = kmeans_numpy(
                sample, k, max_iter=10, seed=seed, init="k-means++"
            )
        else:
            sample_size = training_sample_size or default_training_sample_size(n, k)
            if (
                sample_size <= CENTRALIZED_SAMPLE_MAX
                and k <= CENTRALIZED_K_MAX
                and len(sample) >= min(sample_size, n)
            ):
                centroids = kmeans_numpy(
                    sample[:sample_size], k, max_iter=10, seed=seed,
                    init="k-means++",
                )
            else:
                centroids = train_centroids_ml(
                    vectors, k, sample_size, n, seed=seed,
                    sampling_policy=training_sampling_policy,
                )

        # the encoding flavor is an INDEX-WIDE invariant: a fresh index
        # writes residual codes (spark-0.3), but a new snapshot ingested
        # onto an existing pre-0.3 index must keep writing raw codes —
        # its meta (and therefore the scorer dispatch) says raw
        residual = True
        if existing_meta is not None:
            residual = bool(existing_meta.get("pq_residual", False))
        else:
            storage.init_meta(
                index_type=cls.index_type,
                metric=metric.value,
                dimensions=dims,
                num_subspaces=num_subspaces,
                vector_dtype=vector_dtype,
                pq_residual=True,
            )

        # codebooks train on COARSE RESIDUALS (sample − assigned centroid):
        # per-cell residual distributions are tight around zero, so 256
        # codes per subspace resolve them far better than the raw vectors
        codebooks = train_pq_codebooks(
            _coarse_residuals(sample, centroids) if residual else sample,
            num_subspaces,
            seed=seed,
        )

        # with an overlay coming, the fused kernel also emits the
        # boundary-margin columns and the encoded frame persists across
        # the base write + overlay selection — ONE corpus scan feeds all
        # of it instead of the overlay re-deriving the coarse assignment
        build_overlay = overlay and centroids.shape[0] > 1
        encoded = assign_and_encode_kernel(
            vectors, centroids, codebooks, VECTOR_COL, PARTITION_COL,
            vector_dtype=vector_dtype, residual=residual,
            with_margins=build_overlay,
        )
        if build_overlay:
            from pyspark import StorageLevel

            encoded = encoded.persist(StorageLevel.MEMORY_AND_DISK)
        extra_meta: dict = {}
        if overlay:
            # persist the overlay knobs so consolidation rebuilds the
            # overlay at the SAME caps (mirrors IVFFlatIndex.ingest)
            extra_meta["overlay_max"] = int(overlay_max)
            extra_meta["overlay_boost_max"] = int(overlay_boost_max)
            if overlay_audit_nprobe is not None:
                extra_meta["overlay_audit_nprobe"] = int(overlay_audit_nprobe)
        try:
            cls._write_snapshot(
                storage, encoded, centroids, codebooks, ts, n,
                extra_meta=extra_meta,
            )
            if build_overlay:
                cls._write_overlay(
                    storage, encoded, centroids, ts, vector_dtype,
                    overlay_max, audit_nprobe=overlay_audit_nprobe,
                    boost_max=overlay_boost_max, n_total=int(n),
                )
        finally:
            if build_overlay:
                encoded.unpersist()
        idx = cls(spark, uri)
        if recall_curve:
            # measure + persist the operating-point curve on the fresh
            # snapshot (Index.measure_recall_curve) so queries can say
            # recall_target=... instead of hand-picking probe knobs
            idx.measure_recall_curve()
        return idx

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
        ``OVERLAY_PID`` with RAW vectors (not codes) — members duplicate
        their home-partition copies and the query path dedups on
        (query, id), exactly like IVF_FLAT; selection is the shared
        ``indexes.overlay.select_overlay_ids``.  Storing vectors keeps
        the overlay scan EXACT: a bridge row's distance never suffers
        ADC quantization error, so the overlay also acts as a bounded
        exact re-rank set at every k_factor."""
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

    def _overlay_frame(self) -> DataFrame | None:
        """The bridge set (partition_id, external_id, vector) — raw
        vectors, pseudo-partition ``OVERLAY_PID`` — or ``None`` when the
        index was built without an overlay."""

        def load():
            path = self.storage.aux_path(OVERLAY_AUX, self.base_ts)
            if not self.storage.fs.exists(path):
                return None
            return self.spark.read.parquet(path).select(
                PARTITION_COL, ID_COL, VECTOR_COL
            )

        # immutable per snapshot: resolve the reader (exists + listing +
        # schema, ~0.1 s of driver round-trips) once per session
        return self._snapshot_memo("overlay_df", load, per_session=True)

    @property
    def has_overlay(self) -> bool:
        return self._overlay_frame() is not None

    def _overlay_scored(
        self,
        q: DataFrame,
        k: int,
        metric: DistanceMetric,
        allowed_ids: DataFrame | None,
        excluded_ids: DataFrame | None = None,
    ) -> DataFrame | None:
        """Exact per-query top-k over the bridge set, in the FINAL
        distance domain — union-ready against the re-ranked / sqrt-ed
        coarse result.  Applies the same tombstone/filter contract as
        the base scan: a deleted overlay member must mask BOTH copies.

        Scale shape: the overlay is the SMALL side (≤ the persisted
        caps — the same bounded-collect class as the centroids), so it
        broadcasts and the QUERIES stream through one ``mapInPandas``
        with a per-batch partial top-k — no cross-product ever shuffles
        and the cost scales with nq through normal query partitioning,
        in the kernel AND join strategies alike (a crossJoin from the
        one-file overlay side would funnel nq × |overlay| rows through
        a single task at bulk nq)."""
        import pandas as pd

        overlay = self._overlay_frame()
        if overlay is None:
            return None

        def collect(frame: DataFrame) -> tuple[np.ndarray, np.ndarray]:
            rows = self._float_vectors(frame).collect()
            return (
                np.array([r[ID_COL] for r in rows], dtype=np.int64),
                np.array([r[VECTOR_COL] for r in rows], dtype=np.float64),
            )

        ov = overlay.select(ID_COL, VECTOR_COL)
        if (
            self._has_updates()
            or allowed_ids is not None
            or excluded_ids is not None
        ):
            # the bridge set must honor the call's tombstone/filter view
            if self._has_updates():
                ov = ov.join(
                    F.broadcast(self._updated_ids()), ID_COL, "left_anti"
                )
            if allowed_ids is not None:
                ov = ov.join(allowed_ids, ID_COL, "left_semi")
            if excluded_ids is not None:
                ov = ov.join(excluded_ids, ID_COL, "left_anti")
            ov_ids, ov_mat = collect(ov)
        else:
            # common path: the bridge set is immutable for a given
            # base_ts, so the bounded collect is paid once per handle —
            # repeated queries skip the job entirely
            if not hasattr(self, "_overlay_np_cache"):
                self._overlay_np_cache = collect(ov)
            ov_ids, ov_mat = self._overlay_np_cache
        if ov_ids.size == 0:
            return None
        bc = self.spark.sparkContext.broadcast((ov_ids, ov_mat))

        def score(batches):
            ids_, mat_ = bc.value
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                qids = pdf[QUERY_ID_COL].to_numpy(dtype=np.int64)
                qmat = np.array(list(pdf[VECTOR_COL]), dtype=np.float64)
                # chunk the query axis so the (chunk × |overlay|) gram
                # slab stays ~100 MB regardless of the Arrow batch size
                for lo in range(0, n, 2048):
                    rows, out_i, out_d = block_topk(
                        qmat[lo : lo + 2048], mat_, ids_, k, metric
                    )
                    yield pd.DataFrame(
                        {
                            QUERY_ID_COL: qids[lo + rows],
                            ID_COL: out_i,
                            DISTANCE_COL: out_d,
                        }
                    )

        return q.mapInPandas(
            score,
            schema=f"{QUERY_ID_COL} long, {ID_COL} long, "
            f"{DISTANCE_COL} double",
        )

    @staticmethod
    def _write_snapshot(
        storage: IndexStorage,
        encoded: DataFrame,
        centroids: np.ndarray,
        codebooks: np.ndarray,
        ts: int,
        base_size: int | None,
        extra_meta: dict | None = None,
    ) -> None:
        spark = storage.spark
        # __second/__margin are overlay-selection intermediates, not index
        # state — the snapshot schema is unchanged by with_margins ingest
        storage.write_base(
            cell_write_layout(encoded.drop("__second", "__margin")),
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
        m, n_codes, sub_dim = codebooks.shape
        rows = [
            (int(j), int(c), [float(v) for v in codebooks[j, c]])
            for j in range(m)
            for c in range(n_codes)
        ]
        write_small_parquet(
            spark, storage.aux_path(PQ_CODEBOOK_AUX, ts), rows,
            "subspace int, code int, centroid array<double>",
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
        """Re-assign + re-encode; reuse centroids/codebooks unless retrain.

        ``split_hot_cells=True`` (r11): the surgical skew remedy on the
        PQ coarse level, same contract as IVF_FLAT — over-cap cells
        split into sub-centroids, cold centroids survive byte-identical.
        This is SAFE for the residual codes because every consolidation
        already re-encodes the whole corpus through
        ``assign_and_encode_kernel`` (residual = vector − assigned
        centroid, computed fresh per fold): split-cell members encode
        against their NEW sub-centroids in the same pass, and cold
        cells' codes come out byte-identical (same centroid, same
        codebooks, deterministic kernel).  The CODEBOOKS stay as
        trained — sub-centroids only shrink the residual magnitudes
        they quantize, which tightens (never widens) quantization
        error; re-fitting them to the new residual distribution is what
        ``retrain_index=True`` is for."""
        if retrain_index and split_hot_cells:
            raise ValueError(
                "retrain_index=True already re-trains every centroid — "
                "combining it with split_hot_cells is ambiguous (which "
                "wins?); pass exactly one"
            )
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
        if retrain_index:
            train_src = self._float_vectors(vectors)
            n = vectors.count()
            k = kw.get("partitions") or default_partitions(n)
            centroids = train_centroids_ml(
                train_src, k, default_training_sample_size(n, k), n
            )
            # hash-ordered take, NOT a bare limit(): limit takes
            # whichever tasks finish first, so the retrained codebooks
            # (and the consolidated snapshot's recall) would drift run
            # to run — the exact nondeterminism the ingest path's
            # ordered sample above exists to prevent
            srows = (
                train_src.select(ID_COL, VECTOR_COL)
                .orderBy(F.xxhash64(ID_COL), F.col(ID_COL))
                .limit(PQ_TRAIN_MAX)
                .collect()
            )
            sample = np.array([r[VECTOR_COL] for r in srows], dtype=np.float64)
            codebooks = train_pq_codebooks(
                _coarse_residuals(sample, centroids)
                if self.pq_residual
                else sample,
                self.num_subspaces,
            )
        else:
            centroids = self.centroids()
            codebooks = self.codebooks()
            if split_hot_cells:
                # the first-pass assignment is count-only here (the
                # final pass must run assign_and_encode_kernel anyway),
                # so discard it either way
                centroids, _ = self._split_pass(
                    vectors.select(ID_COL, VECTOR_COL), centroids, cell_cap
                )
        build_overlay = self.has_overlay and centroids.shape[0] > 1
        encoded = assign_and_encode_kernel(
            vectors.select(ID_COL, VECTOR_COL),
            centroids,
            codebooks,
            VECTOR_COL,
            PARTITION_COL,
            vector_dtype=self.vector_dtype,
            residual=self.pq_residual,
            with_margins=build_overlay,
        )
        if build_overlay:
            from pyspark import StorageLevel

            encoded = encoded.persist(StorageLevel.MEMORY_AND_DISK)
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
                self.storage, encoded, centroids, codebooks, ts, None,
                extra_meta=extra_meta,
            )
            if build_overlay:
                self._write_overlay(
                    self.storage, encoded, centroids, ts,
                    self.vector_dtype,
                    int(extra_meta.get("overlay_max", DEFAULT_OVERLAY_MAX)),
                    audit_nprobe=extra_meta.get("overlay_audit_nprobe"),
                    boost_max=int(extra_meta.get("overlay_boost_max", 0)),
                )
        finally:
            if build_overlay:
                encoded.unpersist()

    # -- access ---------------------------------------------------------------

    @property
    def num_subspaces(self) -> int:
        return int(self.meta["num_subspaces"])

    @property
    def pq_residual(self) -> bool:
        """True when codes quantize coarse residuals (storage spark-0.3+);
        False for raw-vector codes (pre-0.3 indexes — still readable)."""
        return bool(self.meta.get("pq_residual", False))

    def codebooks(self) -> np.ndarray:
        """(num_subspaces, n_codes, sub_dim) from the aux table."""
        return self._snapshot_memo(
            "pq_codebooks",
            lambda: decode_codebooks(
                read_small_table(
                    self.spark,
                    self.storage.aux_path(PQ_CODEBOOK_AUX, self.base_ts),
                ),
                self.num_subspaces,
            ),
        )

    def _recall_curve_settings(self) -> list:
        # nprobe ladder x re-rank depth: k_factor=1 is the pure-ADC
        # row, k_factor=4 the exact-re-rank row (the family's gated
        # operating point)
        grid, p = [], 1
        while p < self.partitions:
            grid.append(p)
            p *= 2
        grid.append(self.partitions)
        return [
            {"nprobe": p, "k_factor": kf}
            for kf in (1.0, 4.0)
            for p in grid
        ]

    # -- query ----------------------------------------------------------------

    def query(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int | None = None,
        k_factor: float = 1.0,
        pad: bool = False,
        strategy: str = "auto",
        allowed_ids: DataFrame | None = None,
        excluded_ids: DataFrame | None = None,
        recall_target: float | None = None,
        **kw: Any,
    ) -> DataFrame:
        """ADC scan over codes → optional exact re-rank (reference
        ``ivf_pq_index.py:121-163``).

        ``recall_target`` resolves (nprobe, k_factor) from this
        snapshot's measured recall curve
        (``Index.measure_recall_curve``) — the cheapest setting that
        cleared the target; mutually exclusive with explicit knobs.

        ``allowed_ids`` (DataFrame with ``external_id``) = filtered-search
        pushdown: the probed-partition code scan is semi-joined on the
        allowed set BEFORE ADC scoring, so coarse candidates (and the
        re-rank) never leave the filter — same contract as IVF_FLAT;
        safe here because scoring is a partition scan, not a graph walk.
        ``excluded_ids`` is the anti-join twin: ids removed BEFORE the
        coarse top-k, so excluded rows never crowd candidate slots (the
        streaming embedding screen's batch-mate exclusion).

        ``k_factor=1`` returns ADC (approximate) distances, like the
        reference; ``k_factor>1`` fetches ``k_factor·k`` coarse candidates
        and re-scores them exactly against the original vectors.

        Strategies: ``kernel`` routes the collected batch on the driver
        and broadcasts it into the pruned code scan; ``join`` routes on
        the executors and cogroups the routed queries with the cells, with
        no driver collect (bulk dataset-vs-dataset search); ``auto`` is
        kernel up to ``operators.knn.KERNEL_MAX_NQ`` queries and join
        above.  Both score each cell with the same ADC scorer
        (``_cell_scorer``) and share the re-rank and merge, so they return
        the same bits.
        """
        if not self.query_base_array:
            # updates-only range open: no base, no codes to ADC-scan —
            # exact scan over the window's additions (Index doc)
            return self._updates_only_query(
                queries, k, pad=pad,
                allowed_ids=allowed_ids, excluded_ids=excluded_ids,
            )
        # schema/kwargs only — the row-level check rides the kernel
        # collect below; join paths run the distributed agg check (r11)
        self._validate_queries(queries, k, kw, data_check=False)
        if recall_target is not None:
            if nprobe is not None or k_factor != 1.0:
                raise ValueError(
                    "pass either (nprobe, k_factor) or recall_target, "
                    "not both"
                )
            resolved = self.resolve_recall_target(recall_target)
            nprobe = int(resolved["nprobe"])
            k_factor = float(resolved.get("k_factor", 1.0))
        nprobe = nprobe or max(1, int(np.sqrt(self.partitions)))
        metric = self.metric
        coarse_k = max(k, int(math.ceil(k * k_factor)))

        if allowed_ids is not None:
            allowed_ids = allowed_ids.select(
                integral_id_col(
                    allowed_ids, ID_COL, "IVFPQIndex.query allowed_ids"
                ).alias(ID_COL)
            )
        if excluded_ids is not None:
            excluded_ids = excluded_ids.select(
                integral_id_col(
                    excluded_ids, ID_COL, "IVFPQIndex.query excluded_ids"
                ).alias(ID_COL)
            )

        q = queries.select(QUERY_ID_COL, VECTOR_COL)
        q_rows = self._collect_queries(q, queries, strategy)
        if q_rows is None:
            base = self._live_rows(
                self._base_vectors(), allowed_ids, excluded_ids, tombstones=True
            )
            coarse = self._query_join(q, base, nprobe, coarse_k)
        else:
            qids = np.array([r[0] for r in q_rows], dtype=np.int64)
            qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
            # routing is a driver-side numpy task (centroids ≤10k) — no
            # Spark round-trip
            pairs = route_queries(qids, qmat, self.centroids(), nprobe)
            parts = sorted({p for _, p in pairs})
            base = self._live_rows(
                self._base_vectors().where(F.col(PARTITION_COL).isin(parts)),
                allowed_ids, excluded_ids, tombstones=True,
            )
            coarse = self._adc_scores(
                base, qids, qmat, pairs, coarse_k,
                scan_tasks=self._kernel_scan_tasks(parts, len(qids)),
            )
        order = [F.col(DISTANCE_COL).asc(), F.col(ID_COL).asc()]
        result = topk_window(coarse, [QUERY_ID_COL], order, coarse_k).drop(
            "rank"
        )
        if k_factor > 1.0:
            # exact re-rank of the coarse candidates: they all come from
            # probed partitions, so the re-rank reuses the pruned,
            # tombstone-filtered ``base``.  A collected batch's candidate
            # set is tiny (nq·k·k_factor) and broadcasts; at bulk nq it is
            # unbounded, so the join plan leaves the sizing to AQE
            small = F.broadcast if q_rows is not None else (lambda df: df)
            qv = q.select(QUERY_ID_COL, F.col(VECTOR_COL).alias("__qvec"))
            result = (
                self._float_vectors(base)
                .select(ID_COL, VECTOR_COL)
                .join(small(result.select(QUERY_ID_COL, ID_COL)), ID_COL)
                .join(small(qv), QUERY_ID_COL)
                .select(
                    QUERY_ID_COL,
                    ID_COL,
                    distance_expr("__qvec", VECTOR_COL, metric).alias(
                        DISTANCE_COL
                    ),
                )
            )
        elif metric is DistanceMetric.L2:
            result = result.withColumn(DISTANCE_COL, F.sqrt(F.col(DISTANCE_COL)))

        # an overlay member whose home partition was also probed appears
        # twice — exact vs ADC (or exact vs exact after a re-rank); the
        # tail's min() keeps the tighter estimate and dedups
        ov_scored = self._overlay_scored(q, k, metric, allowed_ids, excluded_ids)
        return self._merge_topk(
            result, q, queries, k, pad, allowed_ids, excluded_ids,
            extra=ov_scored, dedup=ov_scored is not None,
        )

    def _query_join(
        self, q: DataFrame, cells: DataFrame, nprobe: int, coarse_k: int
    ) -> DataFrame:
        """The ``join`` plan's per-cell partial coarse top-k's: no driver
        materialization.  Query batches are routed on the executors by the
        driver plan's own router (``routing_table_join``) and cogrouped
        with the (filtered) code ``cells`` on partition_id; each cell runs
        ``_cell_scorer`` on the queries routed to it, as the kernel plan's
        scan does."""
        return probe_cogroup(
            cells.select(PARTITION_COL, ID_COL, CODE_COL),
            self._route_join(q, nprobe),
            self._cell_scorer(coarse_k),
        )

    def _float_vectors(self, base: DataFrame) -> DataFrame:
        """Promote a packed-binary vector column for expression-path joins
        (byte dtypes); float bases pass through."""
        from tiledb_vector_search_spark.functions.dtypes import (
            is_byte_dtype,
            unpack_vectors,
        )

        if is_byte_dtype(self.vector_dtype):
            return unpack_vectors(base, self.vector_dtype, VECTOR_COL)
        return base

    def _adc_scores(
        self,
        base: DataFrame,
        qids: np.ndarray,
        qmat: np.ndarray,
        pairs: list[tuple[int, int]],
        coarse_k: int,
        scan_tasks: int | None = None,
    ) -> DataFrame:
        """The ``kernel`` plan's per-cell partial coarse top-k's: the
        driver-routed queries broadcast into a scan of the probed cells'
        (partition_id, external_id, code) columns only."""
        return probe_scan(
            base.select(PARTITION_COL, ID_COL, CODE_COL),
            self._cell_scorer(coarse_k),
            qids, qmat, pairs, scan_tasks=scan_tasks,
        )

    def _cell_scorer(self, coarse_k: int):
        """The per-cell body of both strategies: asymmetric distances of
        the cell's codes for the queries routed to it (``adc_topk``).

        Residual indexes (spark-0.3) shift the table target per cell,
        table[q, j, c] = ‖(q − centroid[pid])_sub_j − cb[j,c]‖², built
        inside the scorer from the broadcast codebooks and centroids —
        routed·dims·256 flops per cell, so the broadcast stays
        constant-size instead of nq·nprobe·m·256."""
        import pandas as pd

        bc = self.spark.sparkContext.broadcast(
            (
                self.codebooks(),  # (m, 256, sub_dim)
                self.centroids() if self.pq_residual else None,
            )
        )

        def score(pid, cell, qids, qmat):
            cb, cents = bc.value
            ids = cell[ID_COL].to_numpy(dtype=np.int64)
            codes = np.frombuffer(
                b"".join(cell[CODE_COL]), dtype=np.uint8
            ).reshape(len(ids), cb.shape[0])
            if cents is not None:
                qmat = qmat - cents[pid][None, :]
            rows, out_i, out_d = adc_topk(qmat, cb, codes, ids, coarse_k)
            return pd.DataFrame(
                {QUERY_ID_COL: qids[rows], ID_COL: out_i, DISTANCE_COL: out_d}
            )

        return score
