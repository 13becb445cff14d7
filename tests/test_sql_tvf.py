"""ann_search SQL TVF: pure-SQL index queries via file-pruned IVF reads."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiledb_vector_search_spark.indexes import (
    FlatIndex,
    IVFFlatIndex,
    IVFPQIndex,
    open_index,
)
from tiledb_vector_search_spark.sql import register_ann_search


@pytest.fixture(scope="module")
def source(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("external_id"), F.col("embedding").alias("vector")
    )


@pytest.fixture(scope="module")
def ivf_uri(spark, source, tmp_path_factory):
    uri = str(tmp_path_factory.mktemp("tvf") / "idx")
    IVFFlatIndex.ingest(spark, uri, source, partitions=8, timestamp=1)
    return uri


def _sql(spark, uri, view, k=5, nprobe=4, k_factor=None):
    register_ann_search(spark)
    kf = "" if k_factor is None else f", CAST({k_factor} AS DOUBLE)"
    return spark.sql(
        f"SELECT * FROM ann_search(TABLE(SELECT query_id, vector FROM {view}),"
        f" '{uri}', {k}, {nprobe}{kf})"
    )


def test_tvf_matches_dataframe_api(spark, source, ivf_uri):
    q = source.where("external_id < 12").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in _sql(spark, ivf_uri, "tvf_q").collect()
    }
    idx = IVFFlatIndex(spark, ivf_uri)
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in idx.query(q, 5, nprobe=4, strategy="kernel").collect()
    }
    assert got == want


@pytest.mark.parametrize("index_kind", ["FLAT", "IVF_FLAT", "IVF_PQ", "VAMANA"])
def test_tvf_merges_unconsolidated_updates(
    spark, source, tmp_path_factory, index_kind
):
    """The TVF resolves the updates log exactly like the DataFrame path:
    tombstones drop out, upserts supersede their base copy, brand-new ids
    appear — parity-pinned per index type on a mixed merge_batch."""
    from tiledb_vector_search_spark.indexes import VamanaIndex

    uri = str(tmp_path_factory.mktemp(f"tvfu{index_kind}") / "idx")
    kw = {
        "FLAT": {},
        "IVF_FLAT": {"partitions": 4},
        "IVF_PQ": {"partitions": 4, "num_subspaces": 8},
        "VAMANA": {"shards": 2},
    }[index_kind]
    cls = {
        "FLAT": FlatIndex,
        "IVF_FLAT": IVFFlatIndex,
        "IVF_PQ": IVFPQIndex,
        "VAMANA": VamanaIndex,
    }[index_kind]
    idx = cls.ingest(
        spark, uri, source.where("external_id < 200"), timestamp=1, **kw
    )
    # mixed batch: delete 0-2, move 3-4 far away, insert new ids 9001-9002
    moved = source.where("external_id IN (3, 4)").select(
        "external_id",
        F.transform("vector", lambda v: v + F.lit(100.0))
        .cast("array<float>")
        .alias("vector"),
        F.lit(False).alias("is_delete"),
    )
    fresh = source.where("external_id IN (10, 11)").select(
        (F.col("external_id") + 8991).alias("external_id"),
        "vector",
        F.lit(False).alias("is_delete"),
    )
    dels = source.where("external_id < 3").select(
        "external_id",
        F.lit(None).cast("array<float>").alias("vector"),
        F.lit(True).alias("is_delete"),
    )
    idx.merge_batch(moved.union(fresh).union(dels), timestamp=2)

    q = source.where("external_id < 6").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_qu")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in _sql(spark, uri, "tvf_qu", k=5).collect()
    }
    qkw = {} if index_kind == "FLAT" else {"nprobe": 4}
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in idx.query(q, 5, strategy="kernel", **qkw).collect()
    }
    assert got == want
    eids = {e for _, _, e, _ in got}
    assert not eids & {0, 1, 2}  # tombstones dropped
    if index_kind in ("FLAT", "IVF_FLAT"):
        # exact index types at full probe: consolidation must not change
        # the answer (PQ re-encodes additions — ADC approximation differs
        # from the merged path's exact addition scores; Vamana rebuilds
        # the graph — ANN walks may differ)
        idx.consolidate_updates(timestamp=3)
        folded = {
            (r.query_id, r.rank, r.external_id)
            for r in _sql(spark, uri, "tvf_qu", k=5).collect()
        }
        assert folded == {(a, b, c) for a, b, c, _ in got}


def test_tvf_flat_matches_dataframe_api(spark, source, tmp_path_factory):
    """FLAT is SQL-reachable too: brute-force parity with the index."""
    uri = str(tmp_path_factory.mktemp("tvff") / "idx")
    idx = FlatIndex.ingest(spark, uri, source, timestamp=1)
    q = source.where("external_id < 8").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_qf")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in _sql(spark, uri, "tvf_qf", k=5).collect()
    }
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in idx.query(q, 5, strategy="kernel").collect()
    }
    assert got == want


def test_tvf_rejects_unknown_index_type(spark, source, tmp_path_factory):
    import json
    import os

    uri = str(tmp_path_factory.mktemp("tvfx") / "idx")
    FlatIndex.ingest(spark, uri, source, timestamp=1)
    meta_path = os.path.join(uri, "_index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["index_type"] = "OBJECT"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    source.limit(2).select(
        F.col("external_id").alias("query_id"), "vector"
    ).createOrReplaceTempView("tvf_qx")
    with pytest.raises(Exception, match="FLAT/IVF_FLAT/IVF_PQ/VAMANA"):
        _sql(spark, uri, "tvf_qx").collect()


def test_tvf_vamana_matches_dataframe_api(spark, source, tmp_path_factory):
    """Vamana is SQL-reachable: same shard walks, same merged ranking —
    both with and without the cross-shard overlay."""
    from tiledb_vector_search_spark.indexes import VamanaIndex

    q = source.where("external_id < 10").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_qv")
    for name, kw in [("plain", {}), ("ov", {"overlay": True, "overlay_max": 64})]:
        uri = str(tmp_path_factory.mktemp(f"tvfv{name}") / "idx")
        idx = VamanaIndex.ingest(spark, uri, source, shards=4, timestamp=1, **kw)
        got = {
            (r.query_id, r.rank, r.external_id, round(r.distance, 9))
            for r in _sql(spark, uri, "tvf_qv", k=5, nprobe=2).collect()
        }
        want = {
            (r.query_id, r.rank, r.external_id, round(r.distance, 9))
            for r in idx.query(q, 5, nprobe=2, strategy="kernel").collect()
        }
        assert got == want, name


@pytest.fixture(scope="module")
def pq_uri(spark, source, tmp_path_factory):
    uri = str(tmp_path_factory.mktemp("tvfpq") / "idx")
    IVFPQIndex.ingest(
        spark, uri, source, partitions=8, num_subspaces=8, timestamp=1
    )
    return uri


def test_tvf_ivf_pq_adc_matches_dataframe_api(spark, source, pq_uri):
    """Coarse ADC (k_factor=1): identical to IVFPQIndex.query kernel path."""
    q = source.where("external_id < 12").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_qpq")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in _sql(spark, pq_uri, "tvf_qpq").collect()
    }
    idx = IVFPQIndex(spark, pq_uri)
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in idx.query(q, 5, nprobe=4, strategy="kernel").collect()
    }
    assert got == want


def test_tvf_ivf_pq_k_factor_rerank_matches(spark, source, pq_uri):
    """k_factor>1: exact re-rank from the vector column, same as kernel."""
    q = source.where("external_id < 8").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_qpq_kf")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in _sql(spark, pq_uri, "tvf_qpq_kf", k=5, nprobe=4, k_factor=4.0).collect()
    }
    idx = IVFPQIndex(spark, pq_uri)
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in idx.query(q, 5, nprobe=4, k_factor=4.0, strategy="kernel").collect()
    }
    assert got == want


@pytest.mark.parametrize("index_kind", ["FLAT", "IVF_FLAT", "VAMANA"])
def test_tvf_cosine_matches_dataframe_api(
    spark, source, tmp_path_factory, index_kind
):
    """Cosine-metric indexes are SQL-reachable with kernel-exact parity:
    FLAT computes cosine over raw vectors; IVF_FLAT/VAMANA store
    pre-normalized vectors and normalize queries (float32-cast) first."""
    from tiledb_vector_search_spark.indexes import VamanaIndex

    uri = str(tmp_path_factory.mktemp(f"tvfc{index_kind}") / "idx")
    kw = {"FLAT": {}, "IVF_FLAT": {"partitions": 4}, "VAMANA": {"shards": 2}}[
        index_kind
    ]
    cls = {"FLAT": FlatIndex, "IVF_FLAT": IVFFlatIndex, "VAMANA": VamanaIndex}[
        index_kind
    ]
    idx = cls.ingest(spark, uri, source, metric="cosine", timestamp=1, **kw)
    q = source.where("external_id < 8").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_qc")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in _sql(spark, uri, "tvf_qc", k=5, nprobe=4).collect()
    }
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in idx.query(q, 5, **({} if index_kind == "FLAT" else {"nprobe": 4}),
                           strategy="kernel").collect()
    }
    assert got == want


def test_tvf_time_travel(spark, source, tmp_path_factory):
    """A 6th timestamp argument time-travels to the newest snapshot at or
    before it — the SQL twin of open_index(timestamp=...).  A historical
    view from before pending updates stays queryable; the window that
    contains them MERGES the updates overlay."""
    uri = str(tmp_path_factory.mktemp("tvftt") / "idx")
    idx = FlatIndex.ingest(spark, uri, source.where("external_id < 50"), timestamp=1000)
    idx.delete(0, timestamp=2000)
    source.where("external_id < 3").select(
        F.col("external_id").alias("query_id"), "vector"
    ).createOrReplaceTempView("tvf_qt")
    register_ann_search(spark)

    def at(ts):
        return spark.sql(
            "SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_qt),"
            f" '{uri}', 3, 1, CAST(1.0 AS DOUBLE), {ts})"
        ).collect()

    # at ts=1500 (before the delete batch) id 0 is still its own best match
    assert any(r.external_id == 0 for r in at(1500))
    # the window containing the un-consolidated delete merges it: id 0 gone
    merged = {(r.query_id, r.rank, r.external_id) for r in at(2500)}
    assert all(e != 0 for _, _, e in merged)
    with pytest.raises(Exception, match="no ingestion at or before"):
        at(500)
    # after consolidation the folded view agrees with the merged one
    idx.consolidate_updates(timestamp=3000)
    folded = {(r.query_id, r.rank, r.external_id) for r in at(3500)}
    assert merged == folded


def test_tvf_range_window_matches_dataframe_range_open(
    spark, source, tmp_path_factory
):
    """start_timestamp => the SQL twin of open_index(uri, (start, end)):
    an updates-only window returns exactly the window's live additions,
    matching the DataFrame range-open path row for row."""
    from tiledb_vector_search_spark.indexes import open_index

    uri = str(tmp_path_factory.mktemp("tvfrange") / "idx")
    idx = IVFFlatIndex.ingest(
        spark, uri, source.where("external_id < 50"),
        partitions=4, timestamp=1000,
    )
    idx.update_batch(
        [(900_001, [1.0] * 64), (900_002, [2.0] * 64)], timestamp=1500
    )
    idx.delete(900_001, timestamp=2000)
    idx.update(900_003, [3.0] * 64, timestamp=2500)
    source.where("external_id < 3").select(
        F.col("external_id").alias("query_id"), "vector"
    ).createOrReplaceTempView("tvf_qr")
    register_ann_search(spark)
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in spark.sql(
            "SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_qr),"
            f" '{uri}', 5, 1, CAST(1.0 AS DOUBLE), 2200,"
            " NULL, NULL, 1200)"
        ).collect()
    }
    q = source.where("external_id < 3").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    ranged = open_index(spark, uri, timestamp=(1200, 2200))
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in ranged.query(q, 5).collect()
    }
    assert got == want
    # only 900_002 is live in [1200, 2200]
    assert {e for _, _, e, _ in got} == {900_002}
    # a range covering the corpus start falls through to the plain
    # timestamp read (fold-equivalent mode)
    full = spark.sql(
        "SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_qr),"
        f" '{uri}', 5, 4, CAST(1.0 AS DOUBLE), 2200, NULL, NULL, 500)"
    ).collect()
    plain = spark.sql(
        "SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_qr),"
        f" '{uri}', 5, 4, CAST(1.0 AS DOUBLE), 2200)"
    ).collect()
    assert {tuple(r) for r in full} == {tuple(r) for r in plain}


def test_tvf_k_factor_rejected_for_ivf_flat(spark, source, ivf_uri):
    source.limit(2).select(
        F.col("external_id").alias("query_id"), "vector"
    ).createOrReplaceTempView("tvf_qkf")
    with pytest.raises(Exception, match="k_factor"):
        _sql(spark, ivf_uri, "tvf_qkf", k_factor=2.0).collect()


def test_tvf_u8_index(spark, sf_dir, tmp_path_factory):
    """The TVF decodes packed-binary u8 snapshots too."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    quant = F.transform(
        "embedding",
        lambda e: F.least(
            F.lit(255.0), F.greatest(F.lit(0.0), F.floor(e * 32) + 128)
        ),
    ).cast("array<double>")
    src = emb.select(F.col("vec_id").alias("external_id"), quant.alias("vector"))
    uri = str(tmp_path_factory.mktemp("tvf8") / "idx")
    idx = IVFFlatIndex.ingest(
        spark, uri, src, partitions=4, vector_dtype="uint8", timestamp=1
    )
    q = src.where("external_id < 5").select(
        F.col("external_id").alias("query_id"),
        F.col("vector").cast("array<float>").alias("vector"),
    )
    q.createOrReplaceTempView("tvf_q8")
    got = {
        (r.query_id, r.rank, r.external_id, r.distance)
        for r in _sql(spark, uri, "tvf_q8", k=3, nprobe=4).collect()
    }
    want = {
        (r.query_id, r.rank, r.external_id, r.distance)
        for r in idx.query(q, 3, nprobe=4, strategy="kernel").collect()
    }
    assert got == want


def test_load_updates_mirrors_read_updates_on_randomized_log(
    spark, tmp_path_factory
):
    """The TVF's numpy log resolution must pick the SAME winner per id as
    IndexStorage.read_updates on an adversarial log: multiple batches,
    same-ts upsert/tombstone ties, and same-ts dual upserts with
    different vectors (resolved by vector-lexicographic order)."""
    import random

    from tiledb_vector_search_spark.indexes import open_index
    from tiledb_vector_search_spark.session import small_df
    from tiledb_vector_search_spark.sql.tvf import _load_updates

    rng = random.Random(20260814)
    dims = 4
    base = [(i, [float(rng.randint(0, 9)) for _ in range(dims)]) for i in range(20)]
    uri = str(tmp_path_factory.mktemp("tvflog") / "idx")
    src = small_df(spark, base, "external_id long, vector array<float>")
    idx = FlatIndex.ingest(spark, uri, src, timestamp=100)

    for ts in (200, 300, 400):
        rows = []
        for _ in range(15):
            eid = rng.randint(0, 24)  # some ids beyond the base (inserts)
            if rng.random() < 0.3:
                rows.append((eid, None, True))
            else:
                rows.append(
                    (eid, [float(rng.randint(0, 9)) for _ in range(dims)], False)
                )
        batch = small_df(
            spark, rows, "external_id long, vector array<float>, is_delete boolean"
        )
        idx.merge_batch(batch, timestamp=ts)

    idx = open_index(spark, uri)
    resolved = {
        int(r["external_id"]): (bool(r["is_delete"]), r["vector"])
        for r in idx.storage.read_updates(100, None).collect()
    }
    tomb, add_ids, add_mat = _load_updates(uri, 100, None)
    assert set(tomb.tolist()) == set(resolved)
    want_adds = {
        eid: [float(v) for v in vec]
        for eid, (is_del, vec) in resolved.items()
        if not is_del
    }
    got_adds = (
        {}
        if add_mat is None
        else {
            int(e): [float(v) for v in add_mat[i]]
            for i, e in enumerate(add_ids)
        }
    )
    assert got_adds == want_adds


def test_tvf_flat_inner_product(spark, source, tmp_path_factory):
    """INNER_PRODUCT is FLAT-only (the reference's support matrix) — the
    TVF ranks descending by raw ⟨q,x⟩ with the id tie-break, matching the
    DataFrame kernel, and merges updates in the same score space."""
    uri = str(tmp_path_factory.mktemp("tvfip") / "idx")
    idx = FlatIndex.ingest(
        spark, uri, source, metric="inner_product", timestamp=1
    )
    idx.delete(17, timestamp=2)  # a live tombstone rides the scan too
    q = source.where("external_id < 6").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_qip")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in _sql(spark, uri, "tvf_qip", k=5).collect()
    }
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in idx.query(q, 5, strategy="kernel").collect()
    }
    assert got == want
    assert all(e != 17 for _, _, e, _ in got)


def test_tvf_u8_index_with_updates(spark, sf_dir, tmp_path_factory):
    """Packed-binary u8 base + float updates log: the TVF decodes bytes
    for the base and merges the float additions, matching the DataFrame
    path's promote-on-updates contract."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    quant = F.transform(
        "embedding",
        lambda e: F.least(
            F.lit(255.0), F.greatest(F.lit(0.0), F.floor(e * 32) + 128)
        ),
    ).cast("array<double>")
    src = emb.select(F.col("vec_id").alias("external_id"), quant.alias("vector"))
    uri = str(tmp_path_factory.mktemp("tvf8u") / "idx")
    idx = IVFFlatIndex.ingest(
        spark, uri, src, partitions=4, vector_dtype="uint8", timestamp=1
    )
    idx.delete(0, timestamp=2)
    idx.update(9000, [128.0] * 64, timestamp=3)
    q = src.where("external_id < 5").select(
        F.col("external_id").alias("query_id"),
        F.col("vector").cast("array<float>").alias("vector"),
    )
    q.createOrReplaceTempView("tvf_q8u")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in _sql(spark, uri, "tvf_q8u", k=3, nprobe=4).collect()
    }
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in idx.query(q, 3, nprobe=4, strategy="kernel").collect()
    }
    assert got == want
    assert all(e != 0 for _, _, e, _ in got)


def test_tvf_allowed_ids_filtered_search(spark, source, ivf_uri, tmp_path):
    """The 7th argument (an ids parquet) = filtered-search pushdown from
    pure SQL — parity with the DataFrame allowed_ids semi-join on
    IVF_FLAT, with the updates-log additions obeying the filter too."""
    register_ann_search(spark)
    allowed_path = str(tmp_path / "allowed.parquet")
    source.where("external_id % 3 = 0").select("external_id").write.parquet(
        allowed_path
    )
    q = source.where("external_id < 8").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q_allowed")
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in spark.sql(
            f"SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_q_allowed), "
            f"'{ivf_uri}', 5, 8, CAST(1.0 AS DOUBLE), CAST(NULL AS BIGINT), "
            f"'{allowed_path}')"
        ).collect()
    }
    idx = IVFFlatIndex(spark, ivf_uri)
    allowed_df = source.where("external_id % 3 = 0").select("external_id")
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in idx.query(q, 5, nprobe=8, allowed_ids=allowed_df).collect()
    }
    assert got == want and len(got) == 8 * 5
    assert all(eid % 3 == 0 for (_, _, eid, _) in got)


def test_tvf_allowed_ids_filters_additions(spark, source, tmp_path):
    """An addition at distance 0 outside the allowed set must not surface
    through the TVF's updates merge."""
    register_ann_search(spark)
    uri = str(tmp_path / "tvfadd")
    IVFFlatIndex.ingest(spark, uri, source, partitions=4, timestamp=1)
    idx = IVFFlatIndex(spark, uri)
    qrow = source.where("external_id = 0").collect()[0]
    idx.update(990001, list(qrow.vector), timestamp=2)
    allowed_path = str(tmp_path / "allow2.parquet")
    source.select("external_id").write.parquet(allowed_path)  # base only
    spark.createDataFrame(
        [(0, list(qrow.vector))], "query_id long, vector array<float>"
    ).createOrReplaceTempView("tvf_q_add")
    rows = spark.sql(
        f"SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_q_add), "
        f"'{uri}', 3, 4, CAST(1.0 AS DOUBLE), CAST(NULL AS BIGINT), "
        f"'{allowed_path}')"
    ).collect()
    assert 990001 not in {r.external_id for r in rows} and len(rows) == 3
    # without the filter the addition wins at distance 0
    rows2 = spark.sql(
        f"SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_q_add), "
        f"'{uri}', 3, 4)"
    ).collect()
    assert 990001 in {r.external_id for r in rows2}


def test_tvf_allowed_ids_rejected_for_vamana(spark, source, tmp_path):
    from tiledb_vector_search_spark.indexes import VamanaIndex

    register_ann_search(spark)
    uri = str(tmp_path / "tvfvam")
    VamanaIndex.ingest(spark, uri, source, shards=2, timestamp=1)
    allowed_path = str(tmp_path / "allow3.parquet")
    source.select("external_id").limit(10).write.parquet(allowed_path)
    spark.createDataFrame(
        [(0, [0.0] * 64)], "query_id long, vector array<float>"
    ).createOrReplaceTempView("tvf_q_vam")
    with pytest.raises(Exception, match="over-fetch"):
        spark.sql(
            f"SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_q_vam), "
            f"'{uri}', 3, 2, CAST(1.0 AS DOUBLE), CAST(NULL AS BIGINT), "
            f"'{allowed_path}')"
        ).collect()


@pytest.mark.parametrize("index_kind", ["flat", "pq"])
def test_tvf_allowed_ids_flat_and_pq(spark, source, tmp_path, index_kind):
    register_ann_search(spark)
    uri = str(tmp_path / f"tvfal_{index_kind}")
    if index_kind == "flat":
        FlatIndex.ingest(spark, uri, source, timestamp=1)
        idx, kw = FlatIndex(spark, uri), {}
        nprobe, kf = 1, ""
    else:
        IVFPQIndex.ingest(spark, uri, source, partitions=4, num_subspaces=8, timestamp=1)
        idx, kw = IVFPQIndex(spark, uri), {"nprobe": 4, "k_factor": 4.0}
        nprobe, kf = 4, ", CAST(4.0 AS DOUBLE)"
    allowed_path = str(tmp_path / f"al_{index_kind}.parquet")
    source.where("external_id % 2 = 1").select("external_id").write.parquet(
        allowed_path
    )
    q = source.where("external_id < 6").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView(f"tvf_q_{index_kind}")
    if index_kind == "flat":
        sql_args = f"'{uri}', 4, {nprobe}, CAST(1.0 AS DOUBLE), CAST(NULL AS BIGINT), '{allowed_path}'"
    else:
        sql_args = f"'{uri}', 4, {nprobe}{kf}, CAST(NULL AS BIGINT), '{allowed_path}'"
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in spark.sql(
            f"SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_q_{index_kind}), {sql_args})"
        ).collect()
    }
    allowed_df = source.where("external_id % 2 = 1").select("external_id")
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 6))
        for r in idx.query(q, 4, allowed_ids=allowed_df, **kw).collect()
    }
    assert got == want and len(got) == 6 * 4
    assert all(eid % 2 == 1 for (_, _, eid, _) in got)


# --- scheme-agnostic index paths ---------------------------------------------


def test_resolve_fs_dispatch(tmp_path):
    """Every local form -> the local fs at the OS path; other schemes ->
    from_uri resolution; unknown schemes raise with the fsspec hint
    instead of a glob miss."""
    from pyarrow import fs as pafs

    from tiledb_vector_search_spark.driver_io import resolve_fs

    for uri in (
        str(tmp_path),
        f"file:{tmp_path}",
        f"file://{tmp_path}",
        f"file://localhost{tmp_path}",
    ):
        fs, p = resolve_fs(uri)
        assert isinstance(fs, pafs.LocalFileSystem) and p == str(tmp_path)
    with pytest.raises(Exception, match="fsspec|scheme|URI"):
        resolve_fs("definitely-not-a-scheme://bucket/idx")


def test_tvf_file_scheme_uri_matches_plain_path(spark, source, ivf_uri):
    """The SQL surface reaches an index through a scheme-qualified URI:
    every read (meta json, centroids, partition dirs, updates listing)
    goes through the resolved filesystem, and results are byte-identical
    to the bare-path form."""
    q = source.where("external_id < 6").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q_scheme")

    def run(uri):
        return sorted(
            (r.query_id, r.rank, r.external_id, round(r.distance, 9))
            for r in _sql(spark, uri, "tvf_q_scheme").collect()
        )

    want = run(ivf_uri)
    for uri in (f"file://{ivf_uri}", f"file:{ivf_uri}", f"file://localhost{ivf_uri}"):
        assert run(uri) == want


def test_tvf_file_scheme_with_updates_and_pq(spark, source, pq_uri, tmp_path):
    """file:// also covers the updates-log listing and the PQ aux reads
    (the two paths that previously used glob/os.path directly)."""
    import shutil

    uri = str(tmp_path / "pqcopy")
    shutil.copytree(pq_uri, uri)
    idx = IVFPQIndex(spark, uri)
    idx.delete(3, timestamp=50)
    q = source.where("external_id < 6").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q_scheme2")

    def run(u):
        return sorted(
            (r.query_id, r.rank, r.external_id, round(r.distance, 9))
            for r in _sql(spark, u, "tvf_q_scheme2", k_factor=4.0).collect()
        )

    got = run(f"file://{uri}")
    assert got == run(uri)
    assert all(eid != 3 for _, _, eid, _ in got)


def test_tvf_recall_target_matches_dataframe_resolution(
    spark, source, tmp_path_factory
):
    """SQL surface of the measured operating point: ann_search with
    recall_target (nprobe=0 sentinel) resolves the SAME setting as the
    DataFrame path's query(recall_target=...) and returns the identical
    rows; error contracts for the sentinel are pinned."""
    uri = str(tmp_path_factory.mktemp("tvf_rt") / "idx")
    idx = IVFFlatIndex.ingest(
        spark, uri, source, partitions=8, timestamp=1, recall_curve=True
    )
    q = source.where("external_id < 12").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q_rt")
    register_ann_search(spark)
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in spark.sql(
            "SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_q_rt), "
            f"'{uri}', 5, 0, CAST(1.0 AS DOUBLE), NULL, NULL, "
            "CAST(0.9 AS DOUBLE))"
        ).collect()
    }
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in idx.query(
            q, 5, recall_target=0.9, strategy="kernel"
        ).collect()
    }
    assert got == want and len(got) == 12 * 5

    from tiledb_vector_search_spark.sql.tvf import search_index_files

    qm = np.array([[0.0] * 64], dtype=np.float64)
    qi = np.array([0], dtype=np.int64)
    with pytest.raises(ValueError, match="sentinel"):
        search_index_files(uri, qi, qm, 5, 0)  # nprobe=0 without target
    with pytest.raises(ValueError, match="nprobe=0"):
        # explicit nprobe alongside recall_target is a conflict
        search_index_files(uri, qi, qm, 5, 4, recall_target=0.9)
    # an unmeasured index names the fix
    bare_uri = str(tmp_path_factory.mktemp("tvf_rt") / "bare")
    IVFFlatIndex.ingest(spark, bare_uri, source, partitions=4, timestamp=1)
    with pytest.raises(ValueError, match="no measured recall curve"):
        search_index_files(bare_uri, qi, qm, 5, 0, recall_target=0.9)


def test_tvf_ivf_flat_overlay_matches_dataframe_api(
    spark, source, tmp_path_factory
):
    """An overlay-built IVF_FLAT index is SQL-reachable at parity: the
    pyarrow path probes the ``ivf_overlay`` aux pseudo-partition on
    EVERY query, exactly like the DataFrame path — the persisted recall
    curve is measured WITH overlay probing, so a TVF that skipped it
    would silently under-deliver any recall_target resolved from it
    (regression: the aux dir was never read)."""
    uri = str(tmp_path_factory.mktemp("tvf_ov") / "idx")
    idx = IVFFlatIndex.ingest(
        spark, uri, source, partitions=8, timestamp=1,
        overlay=True, overlay_max=64,
    )
    q = source.where("external_id < 12").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q_ov")
    for nprobe in (1, 2):
        got = {
            (r.query_id, r.rank, r.external_id, round(r.distance, 9))
            for r in _sql(spark, uri, "tvf_q_ov", k=5, nprobe=nprobe).collect()
        }
        want = {
            (r.query_id, r.rank, r.external_id, round(r.distance, 9))
            for r in idx.query(q, 5, nprobe=nprobe, strategy="kernel").collect()
        }
        assert got == want, f"nprobe={nprobe}"


def test_tvf_ivf_pq_overlay_matches_dataframe_api(
    spark, source, tmp_path_factory
):
    """Overlay-built IVF_PQ at parity through SQL, coarse AND re-rank:
    bridge rows score EXACTLY (raw vectors) and min() dedups a member
    whose home partition was also probed — the DataFrame
    groupBy(query, id).agg(min(distance)) semantics."""
    uri = str(tmp_path_factory.mktemp("tvf_pqov") / "idx")
    idx = IVFPQIndex.ingest(
        spark, uri, source, partitions=8, num_subspaces=8, timestamp=1,
        overlay=True, overlay_max=64,
    )
    q = source.where("external_id < 10").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q_pqov")
    for kf in (None, 4.0):
        got = {
            (r.query_id, r.rank, r.external_id, round(r.distance, 6))
            for r in _sql(
                spark, uri, "tvf_q_pqov", k=5, nprobe=1, k_factor=kf
            ).collect()
        }
        want = {
            (r.query_id, r.rank, r.external_id, round(r.distance, 6))
            for r in idx.query(
                q, 5, nprobe=1, k_factor=kf or 1.0, strategy="kernel"
            ).collect()
        }
        assert got == want, f"k_factor={kf}"


def test_tvf_vamana_recall_target_applies_l_search(
    spark, source, tmp_path_factory
):
    """A resolved VAMANA operating point carries the beam width too:
    the SQL twin must run the walk at the resolved ``l_search``, not
    the default — regression for search_index_files extracting only
    nprobe/k_factor and silently walking at max(2k, 50)."""
    from tiledb_vector_search_spark.indexes import VamanaIndex

    uri = str(tmp_path_factory.mktemp("tvf_vrt") / "idx")
    idx = VamanaIndex.ingest(spark, uri, source, shards=4, timestamp=1)
    # inject a curve whose ONLY clearing point pins a non-default beam
    # (resolution is a pure read of this meta — the measurement itself
    # is covered by tests/test_recall_target.py)
    meta = idx.storage.read_meta()
    meta["ingestions"][-1]["recall_curve"] = {
        "k": 5,
        "nq": 8,
        "query_distribution": "self-sample",
        "points": [
            {"params": {"nprobe": 1}, "recall_at_k": 0.50, "sec": 0.1},
            {
                "params": {"nprobe": 1, "l_search": 2},
                "recall_at_k": 0.95,
                "sec": 0.2,
            },
        ],
    }
    idx.storage.write_meta(meta)
    idx.meta = meta
    q = source.where("external_id < 10").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    q.createOrReplaceTempView("tvf_q_vrt")
    register_ann_search(spark)
    got = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in spark.sql(
            "SELECT * FROM ann_search(TABLE(SELECT * FROM tvf_q_vrt), "
            f"'{uri}', 5, 0, CAST(1.0 AS DOUBLE), NULL, NULL, "
            "CAST(0.9 AS DOUBLE))"
        ).collect()
    }
    want = {
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in idx.query(
            q, 5, recall_target=0.9, strategy="kernel"
        ).collect()
    }
    assert got == want


GOLDEN_02 = os.path.join(os.path.dirname(__file__), "golden", "spark-0.2")


@pytest.mark.parametrize(
    "name,nprobe,k_factor",
    [("ivf_pq", 2, 1.0), ("ivf_pq", 2, 4.0), ("vamana", 1, None)],
)
def test_tvf_golden_v02_matches_kernel(
    spark, tmp_path, name, nprobe, k_factor
):
    """The committed spark-0.2 IVF_PQ snapshot stores RAW codes (fresh
    ingests write residual codes), so this is the TVF's only reach into
    the raw-code ADC tables, with and without the exact re-rank; the
    spark-0.2 VAMANA snapshot walks two shards plus its overlay.  Each
    must return exactly the kernel strategy's rows."""
    uri = str(tmp_path / name)
    shutil.copytree(os.path.join(GOLDEN_02, name), uri)
    with open(os.path.join(GOLDEN_02, "expected.json")) as f:
        queries = json.load(f)["queries"]
    with open(os.path.join(uri, "_index_meta.json")) as f:
        assert not json.load(f).get("pq_residual", False)
    q = spark.createDataFrame(
        list(enumerate(queries)), "query_id long, vector array<float>"
    )
    q.createOrReplaceTempView("tvf_golden_q")
    got = [
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in _sql(
            spark, uri, "tvf_golden_q", k=10, nprobe=nprobe, k_factor=k_factor
        )
        .orderBy("query_id", "rank")
        .collect()
    ]
    qkw = {"nprobe": nprobe, "strategy": "kernel"}
    if k_factor is not None:
        qkw["k_factor"] = k_factor
    want = [
        (r.query_id, r.rank, r.external_id, round(r.distance, 9))
        for r in open_index(spark, uri)
        .query(q, 10, **qkw)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert len(got) == 3 * 10
    assert got == want
