"""One plan per probe-routed index: ``join`` differs from ``kernel`` only in
how routed queries reach the cells (a cogroup instead of a broadcast), so
the two strategies return the same rows, ranks, ids and distances, bit for
bit — and ``auto`` takes the join plan above ``knn.KERNEL_MAX_NQ``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tiledb_vector_search_spark.indexes import (
    IVFFlatIndex,
    IVFPQIndex,
    VamanaIndex,
    open_index,
)
from tiledb_vector_search_spark.operators import knn

NQ = 24
K = 5

# (index class, ingest kwargs, query kwargs); small overlays so every
# index carries the pseudo-cell every query probes
INDEXES = {
    "IVF_FLAT": (
        IVFFlatIndex,
        {"partitions": 8, "overlay": True, "overlay_max": 64},
        {"nprobe": 2},
    ),
    "IVF_PQ": (
        IVFPQIndex,
        {"partitions": 8, "num_subspaces": 8, "overlay": True, "overlay_max": 64},
        {"nprobe": 2, "k_factor": 2.0},
    ),
    "VAMANA": (
        VamanaIndex,
        {"shards": 4, "overlay": True, "overlay_max": 64},
        {"nprobe": 2},
    ),
}


@pytest.fixture(scope="module")
def source(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("external_id"), F.col("embedding").alias("vector")
    )


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.external_id, r.distance) for r in df.collect()
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("kind", list(INDEXES))
def test_auto_above_bound_takes_join_plan_bit_equal(
    spark, source, tmp_path, monkeypatch, kind
):
    """With the bound patched down to 8, a 24-query batch under ``auto``
    takes the join plan, and it returns what ``kernel`` returns under the
    same bound — with pending updates, the overlay, ``excluded_ids`` and,
    where supported, ``allowed_ids`` all present."""
    cls, build_kw, qkw = INDEXES[kind]
    uri = str(tmp_path / "idx")
    cls.ingest(spark, uri, source, timestamp=1000, **build_kw)
    idx = open_index(spark, uri)
    moved = source.where("external_id IN (3, 40)").select(
        "external_id", F.transform("vector", lambda e: e * 0.5).alias("vector")
    )
    idx.update_batch(moved, timestamp=1100)
    idx.delete(7, timestamp=1200)
    idx = open_index(spark, uri)

    queries = source.where(f"external_id < {NQ}").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    kw = dict(qkw, excluded_ids=spark.range(10, 14).toDF("external_id"))
    if kind != "VAMANA":
        kw["allowed_ids"] = spark.range(0, 400).toDF("external_id")

    monkeypatch.setattr(knn, "KERNEL_MAX_NQ", 8)
    auto = idx.query(queries, K, **kw)
    kernel = idx.query(queries, K, strategy="kernel", **kw)
    assert "FlatMapCoGroupsInPandas" in _plan(auto)
    assert "FlatMapCoGroupsInPandas" not in _plan(kernel)
    got = _rows(auto)
    assert got == _rows(kernel)
    assert {q for q, *_ in got} == set(range(NQ))
    assert not {e for _, _, e, _ in got} & {7, 10, 11, 12, 13}
