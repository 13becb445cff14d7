"""Round-trip gates for the driver-side parquet fast path (r11 opt).

The fast path replaces per-artifact Spark write/read jobs with pyarrow
on local URIs; these tests pin that the two mechanisms are
interchangeable: Spark reads pyarrow-written artifacts with identical
schema and values, the updates log accepts mixed Spark/pyarrow batches
in one merged read, and the DML entry points produce the same log
contents either way.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiledb_vector_search_spark.driver_io import (
    append_small_parquet,
    ddl_to_arrow_schema,
    local_os_path,
    read_small_table,
    write_small_parquet,
)
from tiledb_vector_search_spark.session import small_df


def test_local_os_path():
    for uri in ("/tmp/x", "file:/tmp/x", "file:///tmp/x", "file://localhost/tmp/x"):
        assert local_os_path(uri) == "/tmp/x"
    assert local_os_path("rel/x") == "rel/x"
    for uri in ("hdfs://nn/x", "s3a://bucket/x", "file://otherhost/x"):
        assert local_os_path(uri) is None


def test_ddl_schema_arrays():
    s = ddl_to_arrow_schema(
        "partition_id int, centroid array<double>, name string, ok boolean"
    )
    import pyarrow as pa

    assert s.field("partition_id").type == pa.int32()
    assert s.field("centroid").type == pa.list_(pa.float64())
    assert s.field("ok").type == pa.bool_()


DDL = "partition_id int, centroid array<double>"
ROWS = [(i, [float(i), float(i) / 3.0, -1.5]) for i in range(7)]


def test_spark_reads_pyarrow_write(spark, tmp_path):
    fast = str(tmp_path / "fast")
    ref = str(tmp_path / "ref")
    write_small_parquet(spark, fast, ROWS, DDL)
    small_df(spark, ROWS, DDL).write.parquet(ref)
    a = spark.read.parquet(fast).orderBy("partition_id").collect()
    b = spark.read.parquet(ref).orderBy("partition_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert spark.read.parquet(fast).schema == spark.read.parquet(ref).schema


def test_write_refuses_existing_target(spark, tmp_path):
    p = str(tmp_path / "once")
    write_small_parquet(spark, p, ROWS, DDL)
    with pytest.raises(FileExistsError):
        write_small_parquet(spark, p, ROWS, DDL)


def test_centroids_decode_in_partition_order(spark, tmp_path):
    """The pyarrow read of a local artifact and the Spark read used for
    other URIs decode to the same partition-ordered centroids."""
    from tiledb_vector_search_spark.indexes.base import decode_centroids

    p = str(tmp_path / "tbl")
    rows = [(3, [1.0]), (1, [2.0]), (2, [3.0])]
    write_small_parquet(spark, p, rows, DDL)
    got = decode_centroids(read_small_table(spark, p))
    np.testing.assert_array_equal(got, [[2.0], [3.0], [1.0]])
    via_spark = decode_centroids(spark.read.parquet(p).toArrow())
    np.testing.assert_array_equal(via_spark, got)


def test_partition_bytes_same_for_every_local_form(spark, tmp_path, monkeypatch):
    """One index opened as a bare path, ``file:`` and ``file:///`` gives
    the same per-partition byte map, and no local open lists through the
    JVM (py4j round-trips per file)."""
    from tiledb_vector_search_spark.indexes import IVFFlatIndex
    from tiledb_vector_search_spark.storage import HadoopFS

    rng = np.random.default_rng(0)
    src = small_df(
        spark,
        [(i, rng.standard_normal(4).tolist()) for i in range(64)],
        "external_id long, vector array<float>",
    )
    uri = str(tmp_path / "idx")
    IVFFlatIndex.ingest(spark, uri, src, partitions=4, timestamp=1)

    def no_jvm_listing(self, path):
        raise AssertionError(f"JVM listing of local {path}")

    monkeypatch.setattr(HadoopFS, "list_files", no_jvm_listing)
    maps = [
        IVFFlatIndex(spark, u)._partition_bytes()
        for u in (uri, f"file:{uri}", f"file://{uri}")
    ]
    assert maps[0] == maps[1] == maps[2]
    assert maps[0] and set(maps[0]) <= {0, 1, 2, 3} and all(maps[0].values())


def test_updates_log_mixes_spark_and_pyarrow_batches(spark, tmp_path):
    """One merged read over a log whose batches came from both writers."""
    log = str(tmp_path / "updates")
    ddl = "external_id long, vector array<float>, is_delete boolean, ts long"
    spark_batch = small_df(
        spark, [(1, [1.0, 2.0], False, 100)], ddl
    )
    spark_batch.write.mode("append").parquet(log)
    append_small_parquet(
        spark, log, [(2, [3.0, 4.0], False, 200), (1, None, True, 200)], ddl
    )
    got = spark.read.parquet(log).orderBy("ts", "external_id").collect()
    assert [(r.external_id, r.is_delete, r.ts) for r in got] == [
        (1, False, 100),
        (1, True, 200),
        (2, False, 200),
    ]
    assert got[1].vector is None
    assert list(got[2].vector) == [3.0, 4.0]


def test_dml_fast_path_equals_spark_dml(spark, tmp_path):
    """update/delete through the list fast path produce the same visible
    state as the DataFrame (Spark-writer) DML path."""
    from tiledb_vector_search_spark.indexes import FlatIndex

    src = small_df(
        spark,
        [(i, [float(i), 0.0]) for i in range(8)],
        "external_id long, vector array<float>",
    )
    a = FlatIndex.ingest(spark, str(tmp_path / "a"), src, timestamp=1000)
    b = FlatIndex.ingest(spark, str(tmp_path / "b"), src, timestamp=1000)
    # a: list fast path; b: DataFrame path — same logical ops
    a.update_batch([(100, [9.0, 9.0]), (3, [7.0, 7.0])], timestamp=2000)
    a.delete(5, timestamp=3000)
    b.update_batch(
        small_df(
            spark,
            [(100, [9.0, 9.0]), (3, [7.0, 7.0])],
            "external_id long, vector array<float>",
        ),
        timestamp=2000,
    )
    b.delete_batch([5], timestamp=3000)
    q = small_df(
        spark, [(0, [8.0, 8.0])], "query_id long, vector array<float>"
    )
    ra = a.query(q, 12, strategy="expr").collect()
    rb = b.query(q, 12, strategy="expr").collect()
    assert sorted((r.external_id, round(r.distance, 9)) for r in ra) == sorted(
        (r.external_id, round(r.distance, 9)) for r in rb
    )
    ids = {r.external_id for r in ra}
    assert 100 in ids and 5 not in ids
