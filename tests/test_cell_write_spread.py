"""IVF snapshot writes: one file per cell, written by more than one task.

The cell write shuffles on ``partition_id`` so each cell directory gets
exactly one file.  Its partition count must be explicit: a bare
``repartition(partition_id)`` lets AQE coalesce a small snapshot into one
write task, which serialised every cell's write on a single core."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tiledb_vector_search_spark.indexes import IVFFlatIndex, IVFPQIndex
from tiledb_vector_search_spark.storage import IndexStorage

CELLS = 16


@pytest.fixture(scope="module")
def source(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("external_id"), F.col("embedding").alias("vector")
    )


def _stage_tasks(sc, group: str) -> list[int]:
    tracker = sc.statusTracker()
    tasks = []
    for jid in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(jid)
        for sid in job.stageIds if job else []:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks.append(stage.numTasks)
    return tasks


@pytest.mark.parametrize(
    "cls,kw",
    [
        (IVFFlatIndex, {}),
        (IVFPQIndex, {"num_subspaces": 8}),
    ],
)
def test_cell_write_one_file_per_cell_many_tasks(
    spark, source, tmp_path, monkeypatch, cls, kw
):
    sc = spark.sparkContext
    dp = sc.defaultParallelism
    assert dp > 1, "the spread needs more than one core to show"
    group = f"cell-write-{cls.__name__}"
    write_base = IndexStorage.write_base

    def traced_write_base(self, *a, **k):
        # tag ONLY the snapshot write's jobs, so the k-means and encode
        # jobs of the ingest cannot satisfy the task-count check
        sc.setJobGroup(group, "snapshot cell write")
        try:
            return write_base(self, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(IndexStorage, "write_base", traced_write_base)
    uri = str(tmp_path / "idx")
    cls.ingest(spark, uri, source, partitions=CELLS, timestamp=1000, **kw)

    base = os.path.join(uri, "base", "ts=1000")
    cells = [d for d in os.listdir(base) if d.startswith("partition_id=")]
    assert len(cells) == CELLS
    for d in cells:
        files = [
            f for f in os.listdir(os.path.join(base, d)) if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)

    tasks = _stage_tasks(sc, group)
    assert tasks, "the snapshot write ran no tracked job"
    assert max(tasks) >= min(CELLS, dp) > 1, tasks
