"""IVF_PQ: codebook training, encoding, ADC query, k_factor re-rank, DML.

Mirrors the reference's IVF_PQ coverage (``test_ingestion.py`` PQ cases,
recall gate 0.75 at ``test_ingestion.py:24``; ``ivf_pq_index.py:121-163``
k_factor semantics).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiledb_vector_search_spark.functions.distance import DistanceMetric
from tiledb_vector_search_spark.indexes import IVFPQIndex, open_index
from tiledb_vector_search_spark.indexes.ivf_pq import train_pq_codebooks
from tiledb_vector_search_spark.operators.knn import knn_bruteforce_expr

MIN_RECALL = 0.75  # reference gate for IVF_PQ


@pytest.fixture(scope="module")
def source(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("external_id"), F.col("embedding").alias("vector")
    )


@pytest.fixture(scope="module")
def pq_index(spark, source, tmp_path_factory):
    uri = str(tmp_path_factory.mktemp("pq") / "idx")
    return IVFPQIndex.ingest(
        spark, uri, source, partitions=8, num_subspaces=8, timestamp=1000
    )


def _recall(approx_df, exact_df) -> float:
    a = {(r.query_id, r.external_id) for r in approx_df.collect()}
    e = {(r.query_id, r.external_id) for r in exact_df.collect()}
    return len(a & e) / len(e)


def test_codebook_shapes():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((1000, 32))
    cb = train_pq_codebooks(x, num_subspaces=4, n_codes=256)
    assert cb.shape == (4, 256, 8)
    # every codebook entry should be finite
    assert np.isfinite(cb).all()


def test_codebook_small_sample_pads():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((10, 8))
    cb = train_pq_codebooks(x, num_subspaces=2, n_codes=256)
    assert cb.shape == (2, 256, 4)
    # padded entries duplicate the last real centroid (never win argmin
    # spuriously with NaN/zeros)
    assert np.isfinite(cb).all()


def test_recall_gate(spark, source, pq_index):
    queries = source.where("external_id < 20").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    exact = knn_bruteforce_expr(source, queries, 10)
    approx = pq_index.query(queries, 10, nprobe=8, k_factor=4.0)
    assert _recall(approx, exact) >= MIN_RECALL


def test_k_factor_rerank_improves(spark, source, pq_index):
    queries = source.where("external_id < 20").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    exact = knn_bruteforce_expr(source, queries, 10)
    r1 = _recall(pq_index.query(queries, 10, nprobe=8, k_factor=1.0), exact)
    r4 = _recall(pq_index.query(queries, 10, nprobe=8, k_factor=4.0), exact)
    assert r4 >= r1


def test_rerank_distances_are_exact(spark, source, pq_index):
    """With k_factor>1 the returned distances are exact metric distances."""
    queries = source.where("external_id < 3").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    res = pq_index.query(queries, 5, nprobe=8, k_factor=4.0).collect()
    rows = {r.external_id: np.array(r.vector) for r in source.collect()}
    qs = {r.query_id: np.array(r.vector) for r in queries.collect()}
    for r in res:
        want = float(np.sum((qs[r.query_id] - rows[r.external_id]) ** 2))
        assert abs(r.distance - want) < 1e-6


def test_adc_distance_is_approximate_but_ordered(spark, source, pq_index):
    """k_factor=1 ADC distances approximate true distances (correlated rank)."""
    queries = source.where("external_id < 5").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    res = pq_index.query(queries, 10, nprobe=8, k_factor=1.0).collect()
    assert all(r.distance >= 0 for r in res)
    # per query, ranks are 1..k and distances non-decreasing
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        dists = [r.distance for r in rows]
        assert dists == sorted(dists)


def test_open_dispatch_and_meta(spark, pq_index):
    idx = open_index(spark, pq_index.uri)
    assert isinstance(idx, IVFPQIndex)
    assert idx.num_subspaces == 8
    assert idx.dimensions == 64
    assert idx.metric is DistanceMetric.SUM_OF_SQUARES


def test_training_source_trains_coarse_and_codebooks(spark, source, tmp_path):
    """training_source parity on IVF_PQ: both the coarse centroids and
    the PQ codebooks train on the provided vectors; with the training
    set = the corpus itself the index stays full-quality (recall gate at
    full probe + exact re-rank)."""
    train = source.select("vector")
    uri = str(tmp_path / "pqts")
    idx = IVFPQIndex.ingest(
        spark, uri, source, partitions=4, num_subspaces=8,
        training_source=train, timestamp=1000,
    )
    queries = source.where("external_id < 5").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    res = idx.query(queries, 5, nprobe=4, k_factor=4.0).select(
        "query_id", "external_id"
    )
    want = knn_bruteforce_expr(
        source.select("external_id", "vector"), queries, 5
    ).select("query_id", "external_id")
    hits = res.intersect(want).count()
    assert hits / want.count() >= 0.85
    with pytest.raises(ValueError, match="training set"):
        IVFPQIndex.ingest(
            spark, str(tmp_path / "pqbad"), source, partitions=4,
            num_subspaces=8, training_source=train,
            training_sample_size=10, timestamp=1000,
        )


def test_training_sampling_policy_first_n_pq(spark, tmp_path, monkeypatch):
    """FIRST_N on IVF_PQ: the id-ordered corpus head trains codebooks
    AND coarse centroids — with the training cap at 50, an all-pole-A
    head yields pole-A coarse centroids (the newest pole is invisible
    to training, exactly the FIRST_N bias the default avoids)."""
    from tiledb_vector_search_spark.indexes import ivf_pq as pq_mod

    monkeypatch.setattr(pq_mod, "PQ_TRAIN_MAX", 50)
    rows = [(i, [0.0] * 64 if i < 50 else [10.0] * 64) for i in range(100)]
    src = spark.createDataFrame(rows, "external_id long, vector array<float>")
    idx = IVFPQIndex.ingest(
        spark, str(tmp_path / "pqfn"), src, partitions=2, num_subspaces=8,
        training_sample_size=50, training_sampling_policy="first_n",
        timestamp=1000,
    )
    np.testing.assert_allclose(idx.centroids(), 0.0, atol=1e-12)
    with pytest.raises(ValueError, match="sampling_policy"):
        IVFPQIndex.ingest(
            spark, str(tmp_path / "pqbadpol"), src, partitions=2,
            num_subspaces=8, training_sampling_policy="newest_n",
            timestamp=1000,
        )


def test_unsupported_metric(spark, source, tmp_path):
    with pytest.raises(ValueError, match="does not support"):
        IVFPQIndex.ingest(
            spark, str(tmp_path / "bad"), source, metric="cosine", partitions=4
        )


def test_dims_divisibility(spark, source, tmp_path):
    with pytest.raises(ValueError, match="divisible"):
        IVFPQIndex.ingest(
            spark, str(tmp_path / "bad2"), source, num_subspaces=7, partitions=4
        )


def test_update_delete_consolidate(spark, source, tmp_path):
    uri = str(tmp_path / "pqdml")
    idx = IVFPQIndex.ingest(
        spark, uri, source, partitions=8, num_subspaces=8, timestamp=1000
    )
    n0 = idx.size()
    idx.delete(7, timestamp=2000)
    v = source.where("external_id = 8").select("vector").first()[0]
    idx.update(6, [float(x) for x in v], timestamp=3000)
    idx = open_index(spark, uri)
    assert idx.size() == n0 - 1
    queries = source.where("external_id < 3").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    res = idx.query(queries, 10, nprobe=8, k_factor=2.0)
    assert res.where("external_id = 7").count() == 0
    idx2 = idx.consolidate_updates(timestamp=4000)
    assert idx2.size() == n0 - 1
    res2 = idx2.query(queries, 10, nprobe=8, k_factor=2.0)
    assert res2.where("external_id = 7").count() == 0
    # code column re-encoded in the consolidated snapshot
    base = idx2._base_vectors()
    assert "code" in base.columns
    one = base.select("code").first()[0]
    assert len(bytes(one)) == 8  # num_subspaces bytes


def test_pruned_scan_reads_code_column_only(spark, source, pq_index):
    """The coarse ADC plan must scan only (partition_id, external_id, code) —
    the 32× IO reduction that is PQ's point at scale."""
    queries = source.where("external_id < 3").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    import numpy as np

    q_rows = queries.collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    from tiledb_vector_search_spark.operators.routing import route_queries

    pairs = route_queries(qids, qmat, pq_index.centroids(), 2)
    base = pq_index._base_vectors()
    coarse = pq_index._adc_scores(base, qids, qmat, pairs, 10)
    plan = coarse._jdf.queryExecution().executedPlan().toString()
    assert "vector" not in plan.split("ReadSchema")[-1][:200]


def test_encode_kernels_agree(spark):
    """The fused assign+encode kernel picks, per subspace, the codebook
    entry nearest ||sub - c||^2 — of the raw vector, and of its residual
    to the assigned centroid with ``residual=True``."""
    import numpy as np
    from tiledb_vector_search_spark.indexes.ivf_pq import (
        assign_and_encode_kernel,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(5)
    x = rng.standard_normal((40, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(40)],
        "external_id long, vector array<float>",
    )
    cb = train_pq_codebooks(x.astype(np.float64), num_subspaces=4, n_codes=16)
    cents = x[:4].astype(np.float64)
    xf = x.astype(np.float64)
    assign = np.argmin(((xf[:, None, :] - cents[None]) ** 2).sum(-1), axis=1)
    for residual in (False, True):
        enc = xf - cents[assign] if residual else xf
        subs = enc.reshape(40, 4, 4)
        d = ((subs[:, :, None, :] - cb[None]) ** 2).sum(-1)
        want = {i: np.argmin(d[i], axis=1).astype(np.uint8).tobytes() for i in range(40)}
        got = {
            r.external_id: (r.partition_id, bytes(r.code))
            for r in assign_and_encode_kernel(
                df, cents, cb, "vector", "partition_id", residual=residual
            ).collect()
        }
        assert got == {i: (int(assign[i]), want[i]) for i in range(40)}


def test_join_strategy_matches_kernel(spark, source, pq_index):
    """The fully distributed large-nq ADC plan (executor routing + cogroup,
    no driver collect of queries) must return the kernel path's rows,
    distances included, bit for bit — both at k_factor=1 and with exact
    re-rank: both score each cell with the same ADC scorer."""
    queries = source.where("external_id < 30").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    for kf in (1.0, 3.0):
        a = {
            (r.query_id, r.rank, r.external_id, r.distance)
            for r in pq_index.query(
                queries, 5, nprobe=4, k_factor=kf, strategy="kernel"
            ).collect()
        }
        b = {
            (r.query_id, r.rank, r.external_id, r.distance)
            for r in pq_index.query(
                queries, 5, nprobe=4, k_factor=kf, strategy="join"
            ).collect()
        }
        assert a == b, f"k_factor={kf}"


def test_join_strategy_plan_has_no_driver_queries(spark, source, pq_index):
    """Plan shape of the distributed path: queries enter via a join (scan /
    exchange), never as a driver-side LocalTableScan of collected rows."""
    queries = source.where("external_id < 30").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    df = pq_index.query(queries, 5, nprobe=4, strategy="join")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the kernel path ships the collected queries via a broadcast python
    # variable and its plan carries no query-side join; the join path must
    # show the query scan joined in
    assert "MapInPandas" in plan or "FlatMapCoGroupsInPandas" in plan, plan


@pytest.mark.parametrize("strategy", ["kernel", "join"])
@pytest.mark.parametrize("k_factor", [1.0, 4.0])
def test_allowed_ids_pushdown(
    spark, pq_index, source, embeddings_np, strategy, k_factor
):
    """Filtered-search pushdown on IVF_PQ: full-probe + allowed_ids +
    re-rank == numpy brute force over ONLY the allowed subset (re-rank
    makes distances exact; ADC-only asserts filter membership and
    per-query cardinality — exactly k survivors regardless of filter
    selectivity)."""
    from tests.conftest import numpy_topk

    k, nq = 5, 5
    ids, mat = embeddings_np
    allowed_mask = ids % 3 == 0
    a_ids, a_mat = ids[allowed_mask], mat[allowed_mask]
    allowed_df = spark.createDataFrame(
        [(int(i),) for i in a_ids], "external_id long"
    )
    queries = source.where(f"external_id < {nq}").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    res = pq_index.query(
        queries, k, nprobe=pq_index.partitions, strategy=strategy,
        k_factor=k_factor, allowed_ids=allowed_df,
    ).collect()
    allowed_set = set(int(i) for i in a_ids)
    got = {}
    for r in res:
        assert r.external_id in allowed_set
        got.setdefault(r.query_id, []).append((r.rank, r.external_id))
    assert set(got) == set(range(nq))
    assert all(len(v) == k for v in got.values())
    if k_factor > 1.0:
        oracle = numpy_topk(mat[:nq], a_ids, a_mat, k)
        for qid, pairs in got.items():
            want = [i for i, _ in oracle[qid]]
            assert [i for _, i in sorted(pairs)] == want


def test_reingest_inherits_num_subspaces(spark, source, tmp_path):
    """Re-ingesting with DEFAULT num_subspaces onto an existing index must
    inherit the index's subspace count, not re-resolve the (newer) default
    — the code layout is index-wide (ADVICE r5); an explicit mismatch
    raises instead of silently flipping the layout."""
    from tiledb_vector_search_spark.storage import IndexStorage

    uri = str(tmp_path / "inherit_idx")
    IVFPQIndex.ingest(
        spark, uri, source, partitions=4, num_subspaces=8, timestamp=1000
    )
    # defaults would resolve to 16 for these dims; inheritance keeps 8
    IVFPQIndex.ingest(spark, uri, source, partitions=4, timestamp=2000)
    meta = IndexStorage(spark, uri).read_meta()
    assert int(meta["num_subspaces"]) == 8
    # both snapshots decode with the same codebook geometry
    idx = IVFPQIndex(spark, uri)
    q = source.limit(5).select(
        F.col("external_id").alias("query_id"), "vector"
    )
    assert idx.query(q, 3).count() == 15

    with pytest.raises(ValueError, match="num_subspaces"):
        IVFPQIndex.ingest(
            spark, uri, source, partitions=4, num_subspaces=16, timestamp=3000
        )


# --- partial-probe overlay (shared machinery: indexes/overlay.py) -------------


@pytest.fixture(scope="module")
def pq_overlay_idx(spark, tmp_path_factory, source):
    uri = str(tmp_path_factory.mktemp("pq_ov") / "idx")
    return IVFPQIndex.ingest(
        spark, uri, source, partitions=16, num_subspaces=8, timestamp=1000,
        overlay=True, overlay_max=128, overlay_boost_max=64,
        overlay_audit_nprobe=4,
    )


@pytest.fixture(scope="module")
def ov_queries(source):
    return source.where("external_id < 20").select(
        F.col("external_id").alias("query_id"), "vector"
    )


def _got(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(int(r.query_id), set()).add(int(r.external_id))
    return out


def test_pq_overlay_lifts_cheap_probe_recall(
    spark, source, pq_overlay_idx, ov_queries, tmp_path_factory
):
    """At nprobe=1/2 the overlay must strictly beat a plain index built
    with the SAME geometry, every query still returns K unique ids, and
    the lift holds with and without the exact re-rank (the overlay scan
    is exact either way)."""
    plain = IVFPQIndex.ingest(
        spark, str(tmp_path_factory.mktemp("pq_plain") / "idx"), source,
        partitions=16, num_subspaces=8, timestamp=1000,
    )
    exact = knn_bruteforce_expr(source, ov_queries, 10)
    want = _got(exact)
    def rec(got):
        return sum(len(got[q] & want[q]) for q in want) / sum(
            len(v) for v in want.values()
        )
    for nprobe in (1, 2):
        got_o = _got(pq_overlay_idx.query(ov_queries, 10, nprobe=nprobe))
        assert all(len(v) == 10 for v in got_o.values())
        assert rec(got_o) > rec(_got(plain.query(ov_queries, 10, nprobe=nprobe)))
        got_or = _got(
            pq_overlay_idx.query(ov_queries, 10, nprobe=nprobe, k_factor=4.0)
        )
        assert all(len(v) == 10 for v in got_or.values())
        assert rec(got_or) > rec(
            _got(plain.query(ov_queries, 10, nprobe=nprobe, k_factor=4.0))
        )


def test_pq_overlay_join_strategy_agrees(spark, pq_overlay_idx, ov_queries):
    def key(df):
        return sorted(
            (r.query_id, r.rank, r.external_id, r.distance)
            for r in df.collect()
        )
    a = key(pq_overlay_idx.query(ov_queries, 10, nprobe=2, strategy="kernel"))
    b = key(pq_overlay_idx.query(ov_queries, 10, nprobe=2, strategy="join"))
    assert a == b
    # and with re-rank (both paths must include the overlay in the final
    # exact domain)
    a4 = key(
        pq_overlay_idx.query(
            ov_queries, 10, nprobe=2, k_factor=4.0, strategy="kernel"
        )
    )
    b4 = key(
        pq_overlay_idx.query(
            ov_queries, 10, nprobe=2, k_factor=4.0, strategy="join"
        )
    )
    assert a4 == b4


def test_pq_overlay_lifecycle_delete_and_consolidate(
    spark, source, ov_queries, tmp_path
):
    """Deleting an overlay member masks BOTH copies; consolidation
    rebuilds the overlay at the persisted caps."""
    uri = str(tmp_path / "pq_ov_dml")
    idx = IVFPQIndex.ingest(
        spark, uri, source, partitions=16, num_subspaces=8, timestamp=1000,
        overlay=True, overlay_max=64, overlay_boost_max=32,
    )
    ov_ids = [
        int(r.external_id)
        for r in idx._overlay_frame().select("external_id").collect()
    ]
    victim = ov_ids[0]
    idx.delete(victim, timestamp=2000)
    idx = open_index(spark, uri, timestamp=3000)
    got = _got(idx.query(ov_queries, 10, nprobe=16))
    assert all(victim not in ids for ids in got.values())
    got_r = _got(idx.query(ov_queries, 10, nprobe=16, k_factor=4.0))
    assert all(victim not in ids for ids in got_r.values())

    idx.consolidate_updates(timestamp=4000)
    idx = open_index(spark, uri, timestamp=5000)
    assert idx.has_overlay
    assert idx._base_entry()["overlay_max"] == 64
    assert idx._base_entry()["overlay_boost_max"] == 32
    rebuilt = {
        int(r.external_id)
        for r in idx._overlay_frame().select("external_id").collect()
    }
    assert victim not in rebuilt
    got2 = _got(idx.query(ov_queries, 10, nprobe=2))
    assert all(victim not in ids and len(ids) == 10 for ids in got2.values())


def test_pq_overlay_filtered_search_masks_overlay(
    spark, source, pq_overlay_idx, ov_queries
):
    """allowed_ids must gate the overlay scan too — an overlay member
    outside the allowed set may not surface through the bridge path."""
    allowed = source.where("external_id % 2 = 0").select("external_id")
    got = _got(
        pq_overlay_idx.query(ov_queries, 10, nprobe=2, allowed_ids=allowed)
    )
    assert all(all(i % 2 == 0 for i in ids) for ids in got.values())
