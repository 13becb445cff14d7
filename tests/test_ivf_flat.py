"""IVFFlatIndex: recall gates, full-probe exactness, updates, consolidation.

Gates mirror the reference's own pass criteria: accuracy > 0.85 at default
nprobe (``test_ingestion.py:23``), and nprobe = partitions ⇒ results equal
exhaustive search.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiledb_vector_search_spark.indexes import FlatIndex, IVFFlatIndex, open_index

from tests.conftest import numpy_topk

K = 10
NQ = 10


@pytest.fixture(scope="module")
def source(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("external_id"), F.col("embedding").alias("vector")
    )


@pytest.fixture(scope="module")
def queries(source):
    return source.where(f"external_id < {NQ}").select(
        F.col("external_id").alias("query_id"), "vector"
    )


@pytest.fixture(scope="module")
def ivf_uri(spark, tmp_path_factory, source):
    uri = str(tmp_path_factory.mktemp("ivf") / "idx")
    IVFFlatIndex.ingest(spark, uri, source, partitions=16, timestamp=1000)
    return uri


def recall(got: dict[int, set[int]], oracle) -> float:
    hits = total = 0
    for qid, ids in got.items():
        truth = {i for i, _ in oracle[qid]}
        hits += len(ids & truth)
        total += len(truth)
    return hits / total


@pytest.mark.parametrize("strategy", ["expr", "kernel"])
def test_recall_gate(spark, ivf_uri, queries, embeddings_np, strategy):
    """accuracy > 0.85 gate (reference test_ingestion.py:23).

    nprobe = partitions/2 here: with only 500 vectors in 16 partitions the
    √partitions rule of thumb is noise-dominated (measured curve: nprobe
    4→0.71, 8→0.87, 16→1.0); the reference's gate datasets are 10k vectors.
    """
    ids, mat = embeddings_np
    oracle = numpy_topk(mat[:NQ], ids, mat, K)
    idx = open_index(spark, ivf_uri)
    res = idx.query(queries, K, nprobe=8, strategy=strategy).collect()
    got: dict[int, set[int]] = {}
    for r in res:
        got.setdefault(r.query_id, set()).add(r.external_id)
    assert recall(got, oracle) >= 0.85


@pytest.mark.parametrize("strategy", ["expr", "kernel"])
def test_full_probe_is_exact(spark, ivf_uri, queries, embeddings_np, strategy):
    ids, mat = embeddings_np
    oracle = numpy_topk(mat[:NQ], ids, mat, K)
    idx = open_index(spark, ivf_uri)
    res = idx.query(queries, K, nprobe=idx.partitions, strategy=strategy).collect()
    for r in res:
        oid, od = oracle[r.query_id][r.rank - 1]
        assert r.external_id == oid, (r.query_id, r.rank)
        assert r.distance == pytest.approx(od, rel=1e-9, abs=1e-9)


def test_cosine_ivf(spark, tmp_path, source, queries, embeddings_np):
    ids, mat = embeddings_np
    idx = IVFFlatIndex.ingest(
        spark,
        str(tmp_path / "cos"),
        source,
        metric="cosine",
        partitions=16,
        timestamp=1000,
    )
    oracle = numpy_topk(mat[:NQ], ids, mat, K, "cosine")
    res = idx.query(queries, K, nprobe=16).collect()
    for r in res:
        oid, od = oracle[r.query_id][r.rank - 1]
        assert r.external_id == oid
        assert r.distance == pytest.approx(od, rel=1e-6, abs=1e-6)


def test_unsupported_metric(spark, tmp_path, source):
    with pytest.raises(ValueError, match="does not support"):
        IVFFlatIndex.ingest(
            spark, str(tmp_path / "ip"), source, metric="inner_product"
        )


def test_updates_and_consolidate(spark, tmp_path, source, queries, embeddings_np):
    ids, mat = embeddings_np
    uri = str(tmp_path / "upd")
    idx = IVFFlatIndex.ingest(spark, uri, source, partitions=16, timestamp=1000)
    idx.delete(0, timestamp=2000)
    idx.update(1, [float(v) for v in mat[2]], timestamp=3000)
    idx = open_index(spark, uri)

    res = idx.query(queries, K, nprobe=16).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert not any(r.external_id == 0 for r in by_q[0])
    top2 = sorted(by_q[2], key=lambda r: r.rank)[:2]
    assert {r.external_id for r in top2} == {1, 2}

    # consolidate without retraining: same centroids, additions re-assigned
    idx2 = idx.consolidate_updates(timestamp=5000)
    assert idx2.partitions == 16
    np.testing.assert_allclose(idx2.centroids(), idx.centroids())
    res2 = idx2.query(queries, K, nprobe=16).collect()
    assert {(r.query_id, r.rank, r.external_id) for r in res2} == {
        (r.query_id, r.rank, r.external_id) for r in res
    }

    # retrain path
    idx3 = open_index(spark, uri)
    idx3.update(5, [float(v) for v in mat[6]], timestamp=6000)
    idx4 = idx3.consolidate_updates(timestamp=7000, retrain_index=True, partitions=8)
    assert idx4.partitions == 8


def test_copy_centroids(spark, tmp_path, source):
    c = np.random.default_rng(0).normal(size=(12, 64))
    idx = IVFFlatIndex.ingest(
        spark, str(tmp_path / "cc"), source, copy_centroids_from=c, timestamp=1000
    )
    assert idx.partitions == 12
    np.testing.assert_allclose(idx.centroids(), c)


def test_training_source_trains_on_separate_vectors(spark, tmp_path, source):
    """training_source (reference training_input_vectors /
    training_source_uri, ingestion.py:64-150): centroids train on the
    provided vectors, not a corpus sample — a training set of near-
    duplicate rows at two poles must yield centroids at those poles,
    and the full corpus still assigns + queries correctly."""
    train = spark.createDataFrame(
        [([0.0] * 64,) for _ in range(20)] + [([10.0] * 64,) for _ in range(20)],
        "vector array<float>",
    )
    uri = str(tmp_path / "ts")
    idx = IVFFlatIndex.ingest(
        spark, uri, source, partitions=2, training_source=train, timestamp=1000
    )
    assert idx.partitions == 2
    got = np.sort(idx.centroids().mean(axis=1))
    np.testing.assert_allclose(got, [0.0, 10.0], atol=1e-9)
    assert idx.size() == source.count()
    # exactness unaffected: full-probe == brute force
    queries = source.where("external_id < 3").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    res = idx.query(queries, 3, nprobe=2).collect()
    flat = FlatIndex.ingest(spark, str(tmp_path / "fl"), source, timestamp=1000)
    want = flat.query(queries, 3).collect()
    assert {(r.query_id, r.rank, r.external_id) for r in res} == {
        (r.query_id, r.rank, r.external_id) for r in want
    }


def test_training_source_refusals(spark, tmp_path, source):
    train = source.select("vector").limit(50)
    with pytest.raises(ValueError, match="not both"):
        IVFFlatIndex.ingest(
            spark, str(tmp_path / "a"), source, partitions=2,
            training_source=train,
            copy_centroids_from=np.zeros((2, 64)), timestamp=1000,
        )
    with pytest.raises(ValueError, match="training set"):
        IVFFlatIndex.ingest(
            spark, str(tmp_path / "b"), source, partitions=2,
            training_source=train, training_sample_size=10, timestamp=1000,
        )
    with pytest.raises(ValueError, match="at least"):
        IVFFlatIndex.ingest(
            spark, str(tmp_path / "c"), source, partitions=8,
            training_source=train.limit(3), timestamp=1000,
        )
    bad_dims = spark.createDataFrame(
        [([1.0] * 32,) for _ in range(10)], "vector array<float>"
    )
    with pytest.raises(ValueError, match="dimensionality"):
        IVFFlatIndex.ingest(
            spark, str(tmp_path / "d"), source, partitions=2,
            training_source=bad_dims, timestamp=1000,
        )


def test_training_sampling_policy_first_n_vs_random(spark, tmp_path):
    """FIRST_N (reference TrainingSamplingPolicy, ingestion.py:34-36)
    trains on the id-ordered corpus head — on this two-pole corpus the
    head is ALL pole A, so the centroids never see pole B (exactly the
    append-ordered-corpus bias the default seeded-random avoids)."""
    rows = [(i, [0.0] * 64 if i < 50 else [10.0] * 64) for i in range(100)]
    src = spark.createDataFrame(rows, "external_id long, vector array<float>")
    idx = IVFFlatIndex.ingest(
        spark, str(tmp_path / "fn"), src, partitions=2,
        training_sample_size=50, training_sampling_policy="first_n",
        timestamp=1000,
    )
    np.testing.assert_allclose(idx.centroids(), 0.0, atol=1e-12)
    idx2 = IVFFlatIndex.ingest(
        spark, str(tmp_path / "rnd"), src, partitions=2,
        training_sample_size=50, timestamp=1000,
    )
    np.testing.assert_allclose(
        np.sort(idx2.centroids().mean(axis=1)), [0.0, 10.0], atol=1e-9
    )
    with pytest.raises(ValueError, match="sampling_policy"):
        IVFFlatIndex.ingest(
            spark, str(tmp_path / "bad"), src, partitions=2,
            training_sampling_policy="newest_n", timestamp=1000,
        )


def test_normalized_skips_cosine_ingest_normalization(spark, tmp_path, source):
    """normalized=True (reference ingestion.py:91,1331) declares the
    source pre-normalized under COSINE and skips the per-row pass; on a
    pre-normalized source the two paths store identical vectors and
    query identically.  Under a metric that never normalizes the flag is
    refused instead of silently ignored."""
    from tiledb_vector_search_spark.functions.distance import normalize_expr
    from tiledb_vector_search_spark.schemas import VECTOR_COL

    pre = source.withColumn(
        VECTOR_COL, normalize_expr(VECTOR_COL).cast("array<float>")
    )
    a = IVFFlatIndex.ingest(
        spark, str(tmp_path / "n1"), pre, partitions=4, metric="cosine",
        normalized=True, timestamp=1000,
    )
    b = IVFFlatIndex.ingest(
        spark, str(tmp_path / "n2"), pre, partitions=4, metric="cosine",
        timestamp=1000,
    )
    q = source.where("external_id < 5").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    ra = {(r.query_id, r.rank, r.external_id)
          for r in a.query(q, 5, nprobe=4).collect()}
    rb = {(r.query_id, r.rank, r.external_id)
          for r in b.query(q, 5, nprobe=4).collect()}
    assert ra == rb
    with pytest.raises(ValueError, match="nothing to skip"):
        IVFFlatIndex.ingest(
            spark, str(tmp_path / "n3"), source, partitions=4,
            normalized=True, timestamp=1000,
        )


def test_partition_pruning_in_plan(spark, ivf_uri, queries):
    """The probe-routed scan must prune to the routed partition directories:
    the FileScan's PartitionFilters — the Spark analogue of the reference's
    CSR offset slice — must carry the partition_id IN (...) predicate."""
    idx = open_index(spark, ivf_uri)
    df = idx.query(queries.limit(1), 3, nprobe=2, strategy="expr")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [partition_id" in plan, plan


def test_join_strategy_matches_kernel(spark, ivf_uri, queries):
    """The fully distributed large-nq plan (executor routing + cogroup, no
    driver collect) must return the kernel path's rows, distances
    included, bit for bit: both score each cell with the same scorer."""
    idx = open_index(spark, ivf_uri)
    a = {
        (r.query_id, r.rank, r.external_id, r.distance)
        for r in idx.query(queries, 5, nprobe=4, strategy="kernel").collect()
    }
    b = {
        (r.query_id, r.rank, r.external_id, r.distance)
        for r in idx.query(queries, 5, nprobe=4, strategy="join").collect()
    }
    assert a == b


def test_join_strategy_plan_is_cogroup(spark, ivf_uri, queries):
    """The join plan reaches the cells through a cogroup of executor-routed
    queries: no broadcast nested-loop routing join and no per-pair
    distance expression over base ⋈ routing ⋈ queries."""
    idx = open_index(spark, ivf_uri)
    plan = idx.query(queries, 5, nprobe=4, strategy="join")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_memory_budget_blocked_query(spark, ivf_uri, queries):
    """Finite-RAM mode: a tiny budget forces multiple partition groups, and
    results must equal the unbounded plan exactly."""
    idx = open_index(spark, ivf_uri)
    parts = list(range(idx.partitions))
    groups = idx._partition_groups(parts, memory_budget_mb=1)
    assert len(groups) >= 1
    assert [p for g in groups for p in g] == parts
    # 1 byte budget -> every partition its own group
    tiny = idx._partition_groups(parts, None)
    assert tiny == [parts]
    a = {
        (r.query_id, r.rank, r.external_id)
        for r in idx.query(queries, 5, nprobe=4, strategy="expr").collect()
    }
    b = {
        (r.query_id, r.rank, r.external_id)
        for r in idx.query(
            queries, 5, nprobe=4, strategy="expr", memory_budget_mb=1
        ).collect()
    }
    assert a == b


def test_skewed_partitions_exact(spark, source, embeddings_np, tmp_path):
    """Natural IVF skew: force ~all vectors into ONE partition (degenerate
    copied centroids) and verify full-probe results still equal exhaustive
    search — the skew-join/AQE path must not change semantics."""
    ids, mat = embeddings_np
    dims = mat.shape[1]
    # one centroid at the data mean, three far outside the data's range:
    # assignment sends ~everything to partition 0
    far = np.full((3, dims), 1e6)
    centroids = np.vstack([mat.mean(axis=0)[None, :], far])
    uri = str(tmp_path / "skew_idx")
    idx = IVFFlatIndex.ingest(
        spark, uri, source, copy_centroids_from=centroids, timestamp=1000
    )
    sizes = (
        idx._base_vectors().groupBy("partition_id").count().collect()
    )
    by_part = {r["partition_id"]: r["count"] for r in sizes}
    assert by_part.get(0, 0) >= 0.99 * len(ids)  # skew actually happened
    queries = source.where("external_id < 5").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    res = idx.query(queries, K, nprobe=4).collect()
    got = {}
    for r in res:
        got.setdefault(r.query_id, []).append((r.external_id, r.distance))
    oracle = numpy_topk(mat[:5], ids, mat, K)
    pos = {int(q): j for j, q in enumerate(ids[:5])}
    for qid in got:
        assert [i for i, _ in sorted(got[qid], key=lambda t: (t[1], t[0]))] == [
            i for i, _ in oracle[pos[qid]]
        ]


@pytest.mark.parametrize("strategy", ["expr", "kernel", "join"])
def test_allowed_ids_pushdown_exact(
    spark, ivf_uri, queries, embeddings_np, strategy
):
    """Full-probe + allowed_ids == numpy brute force over ONLY the allowed
    subset — filtered search as a pre-scoring semi-join, not a post-filter
    over-fetch, so exactly k survivors per query regardless of filter
    selectivity."""
    ids, mat = embeddings_np
    allowed_mask = ids % 3 == 0  # keep 1/3 of the corpus
    a_ids, a_mat = ids[allowed_mask], mat[allowed_mask]
    idx = IVFFlatIndex(spark, ivf_uri)
    allowed_df = spark.createDataFrame(
        [(int(i),) for i in a_ids], "external_id long"
    )
    res = idx.query(
        queries, K, nprobe=16, strategy=strategy, allowed_ids=allowed_df
    ).collect()
    got = {}
    for r in res:
        got.setdefault(r.query_id, []).append((r.rank, r.external_id))
    oracle = numpy_topk(mat[:NQ], a_ids, a_mat, K)
    assert set(got) == set(range(NQ))
    for qid, pairs in got.items():
        want = [i for i, _ in oracle[qid]]
        assert [i for _, i in sorted(pairs)] == want


def test_allowed_ids_applies_to_additions(spark, tmp_path, source, queries):
    """Updates-log additions obey the allowed set too: an added vector at
    distance 0 from a query must NOT surface when outside allowed_ids."""
    uri = str(tmp_path / "ivf_allowed")
    idx = IVFFlatIndex.ingest(spark, uri, source, partitions=4, timestamp=1000)
    qrow = queries.limit(1).collect()[0]
    idx.update(990001, list(qrow.vector), timestamp=2000)  # exact dup of q
    idx = IVFFlatIndex(spark, uri)
    allowed_df = source.select("external_id")  # base only — excludes 990001
    res = idx.query(
        queries.limit(1), 3, nprobe=4, allowed_ids=allowed_df
    ).collect()
    assert 990001 not in {r.external_id for r in res}
    # without the restriction the addition dominates at distance 0
    res_all = idx.query(queries.limit(1), 3, nprobe=4).collect()
    assert 990001 in {r.external_id for r in res_all}


# --- partial-probe overlay (shared machinery: indexes/overlay.py) -------------


@pytest.fixture(scope="module")
def ivf_overlay_idx(spark, tmp_path_factory, source):
    uri = str(tmp_path_factory.mktemp("ivf_ov") / "idx")
    return IVFFlatIndex.ingest(
        spark, uri, source, partitions=16, timestamp=1000,
        overlay=True, overlay_max=128, overlay_boost_max=64,
    )


def _got(res):
    got: dict[int, set[int]] = {}
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r.external_id)
    return got


def test_overlay_lifts_cheap_probe_recall(
    spark, ivf_uri, ivf_overlay_idx, queries, embeddings_np
):
    """The overlay exists for nprobe BELOW the sqrt(partitions) floor:
    at nprobe=1/2 recall must strictly beat the plain index, and every
    query must still return K UNIQUE ids (overlay members duplicate
    their home-partition rows; the dedup is part of the query path)."""
    ids, mat = embeddings_np
    plain = open_index(spark, ivf_uri)
    oracle = numpy_topk(mat[:NQ], ids, mat, K)
    for nprobe in (1, 2):
        got_p = _got(plain.query(queries, K, nprobe=nprobe))
        got_o = _got(ivf_overlay_idx.query(queries, K, nprobe=nprobe))
        assert all(len(v) == K for v in got_o.values())
        assert recall(got_o, oracle) > recall(got_p, oracle)
    # full probe stays exact (dedup must not disturb exactness)
    got_full = _got(ivf_overlay_idx.query(queries, K, nprobe=16))
    assert recall(got_full, oracle) == 1.0


def test_overlay_join_strategy_agrees(spark, ivf_overlay_idx, queries):
    def rows(strategy):
        return sorted(
            (r.query_id, r.rank, r.external_id, r.distance)
            for r in ivf_overlay_idx.query(
                queries, K, nprobe=2, strategy=strategy
            ).collect()
        )

    assert rows("kernel") == rows("join")


def test_overlay_lifecycle_delete_and_consolidate(
    spark, tmp_path, source, queries
):
    """Deleting an overlay member masks BOTH copies; consolidation
    rebuilds the overlay at the persisted caps."""
    uri = str(tmp_path / "ov_dml")
    idx = IVFFlatIndex.ingest(
        spark, uri, source, partitions=16, timestamp=1000,
        overlay=True, overlay_max=64, overlay_boost_max=32,
    )
    ov_ids = [
        int(r.external_id)
        for r in idx._overlay_frame().select("external_id").collect()
    ]
    victim = ov_ids[0]
    idx.delete(victim, timestamp=2000)
    idx = open_index(spark, uri, timestamp=3000)
    got = _got(idx.query(queries, K, nprobe=16))
    assert all(victim not in ids for ids in got.values())
    idx.consolidate_updates(timestamp=4000)
    idx = open_index(spark, uri)
    assert idx.has_overlay  # rebuilt at the persisted caps
    entry = idx._base_entry()
    assert entry["overlay_max"] == 64 and entry["overlay_boost_max"] == 32
    got = _got(idx.query(queries, K, nprobe=16))
    assert all(victim not in ids for ids in got.values())
    assert all(len(v) == K for v in got.values())
