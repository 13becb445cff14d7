"""File-format sources: fvecs/ivecs/bvecs/u8bin/f32bin/u64bin round trips,
the reference's own siftmicro fvecs corpus, and end-to-end ingest+recall
(mirrors ``test_backwards_compatibility.py:12-60``, gate 0.85)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiledb_vector_search_spark.sources import (
    autodetect_source_type,
    read_external_ids,
    read_source_metadata,
    read_vectors,
    write_bvecs,
    write_f32bin,
    write_fvecs,
    write_ivecs,
    write_u8bin,
    write_u64bin,
)

SIFTMICRO = "/root/reference/backwards-compatibility-data/siftmicro_base.fvecs"


def test_autodetect():
    assert autodetect_source_type("a/b.fvecs") == "FVEC"
    assert autodetect_source_type("a/b.ivecs") == "IVEC"
    assert autodetect_source_type("a/b.bvecs") == "BVEC"
    assert autodetect_source_type("a/b.u8bin") == "U8BIN"
    assert autodetect_source_type("a/b.f32bin") == "F32BIN"
    assert autodetect_source_type("a/b.parquet") == "PARQUET"
    assert autodetect_source_type("s3://bucket/dir") == "PARQUET"


@pytest.mark.parametrize(
    "writer,ext,dtype",
    [
        (write_fvecs, "fvecs", np.float32),
        (write_ivecs, "ivecs", np.int32),
        (write_bvecs, "bvecs", np.uint8),
        (write_u8bin, "u8bin", np.uint8),
        (write_f32bin, "f32bin", np.float32),
    ],
)
def test_roundtrip(spark, tmp_path, writer, ext, dtype):
    rng = np.random.default_rng(3)
    if dtype == np.uint8:
        data = rng.integers(0, 255, size=(137, 16)).astype(dtype)
    elif dtype == np.int32:
        data = rng.integers(-1000, 1000, size=(137, 16)).astype(dtype)
    else:
        data = rng.standard_normal((137, 16)).astype(dtype)
    path = str(tmp_path / f"v.{ext}")
    writer(path, data)

    # every local URI form reads the same file; a non-local one is refused
    for uri in (path, f"file:{path}", f"file://localhost{path}"):
        size, dims, dt = read_source_metadata(spark, uri)
        assert (size, dims) == (137, 16)

        df = read_vectors(spark, uri, chunk_rows=50)  # force multiple chunks
        rows = df.orderBy("external_id").collect()
        assert len(rows) == 137
        got = np.array([r.vector for r in rows], dtype=np.float32)
        np.testing.assert_array_equal(got, data.astype(np.float32))
        assert [r.external_id for r in rows] == list(range(137))
    with pytest.raises(ValueError, match="hdfs://nn/v"):
        read_source_metadata(spark, f"hdfs://nn/v.{ext}")


def test_external_ids_u64bin(spark, tmp_path):
    rng = np.random.default_rng(4)
    data = rng.standard_normal((57, 8)).astype(np.float32)
    ids = (np.arange(57) * 7 + 1000).astype(np.uint64)
    vpath = str(tmp_path / "v.fvecs")
    ipath = str(tmp_path / "ids.u64bin")
    write_fvecs(vpath, data)
    write_u64bin(ipath, ids)

    df = read_vectors(spark, vpath, external_ids_uri=ipath, chunk_rows=20)
    rows = df.orderBy("external_id").collect()
    assert [r.external_id for r in rows] == sorted(int(i) for i in ids)

    ids_df = read_external_ids(spark, ipath, 57)
    got = {r.pos: r.external_id for r in ids_df.collect()}
    assert got == {i: int(ids[i]) for i in range(57)}

    implicit = read_external_ids(spark, None, 5)
    assert {(r.pos, r.external_id) for r in implicit.collect()} == {
        (i, i) for i in range(5)
    }


def test_siftmicro_metadata(spark):
    size, dims, dtype = read_source_metadata(spark, SIFTMICRO)
    assert dims == 128
    assert size == 100
    assert dtype == "float32"


def test_siftmicro_ingest_recall(spark, tmp_path):
    """Ingest the reference's own backwards-compat fvecs corpus into IVF_FLAT
    and gate recall ≥ 0.85 (``test_backwards_compatibility.py:9``)."""
    from tiledb_vector_search_spark.indexes import IVFFlatIndex
    from tiledb_vector_search_spark.operators.knn import knn_bruteforce_expr

    src = read_vectors(spark, SIFTMICRO)
    idx = IVFFlatIndex.ingest(
        spark, str(tmp_path / "sift"), src, partitions=8, timestamp=1000
    )
    queries = src.where("external_id < 20").select(
        F.col("external_id").alias("query_id"), "vector"
    )
    approx = {
        (r.query_id, r.external_id)
        for r in idx.query(queries, 10, nprobe=4).collect()
    }
    exact = {
        (r.query_id, r.external_id)
        for r in knn_bruteforce_expr(src, queries, 10).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.85


def test_u8bin_keep_bytes_to_index(spark, tmp_path):
    """bigann-style chain: U8BIN file -> keep_bytes binary column -> u8
    index, with no float promotion anywhere; results identical to the
    promoting read."""
    import numpy as np

    from tiledb_vector_search_spark.indexes import FlatIndex
    from tiledb_vector_search_spark.sources import vecs as V

    rng = np.random.default_rng(5)
    mat = rng.integers(0, 256, size=(200, 16), dtype=np.uint8)
    path = str(tmp_path / "vecs.u8bin")
    with open(path, "wb") as fh:
        import struct

        fh.write(struct.pack("<II", *mat.shape))
        fh.write(mat.tobytes())

    packed = V.read_vectors(spark, path, "U8BIN", keep_bytes=True)
    assert dict(packed.dtypes)["vector"] == "binary"
    rows = {r.external_id: bytes(r.vector) for r in packed.collect()}
    assert rows[7] == mat[7].tobytes()

    floats = V.read_vectors(spark, path, "U8BIN")
    a = FlatIndex.ingest(
        spark, str(tmp_path / "a"), packed, vector_dtype="uint8", timestamp=1
    )
    b = FlatIndex.ingest(
        spark, str(tmp_path / "b"), floats, vector_dtype="uint8", timestamp=1
    )
    from pyspark.sql import functions as F

    q = floats.where("external_id < 5").select(
        F.col("external_id").alias("query_id"),
        F.col("vector").cast("array<float>").alias("vector"),
    )
    ra = {(r.query_id, r.rank, r.external_id, r.distance) for r in a.query(q, 3).collect()}
    rb = {(r.query_id, r.rank, r.external_id, r.distance) for r in b.query(q, 3).collect()}
    assert ra == rb and len(ra) == 15
    # keep_bytes rejects multi-byte formats
    import pytest as _pytest

    with _pytest.raises(ValueError, match="1-byte"):
        V.read_vectors(spark, path, "F32BIN", keep_bytes=True)


def test_ivecs_exact_above_2pow24(spark, tmp_path):
    """IVEC payloads are ground-truth NEIGHBOR IDS: float32 promotion
    silently corrupts ids above 2²⁴ (16777217 → 16777216.0), so the
    distributed reader keeps int32 — same values as the driver-side
    utils.load_ivecs twin."""
    data = np.array(
        [[16777217, 16777219], [1, 2]], dtype=np.int32
    )
    path = str(tmp_path / "gt.ivecs")
    write_ivecs(path, data)
    df = read_vectors(spark, path)
    assert dict(df.dtypes)["vector"] == "array<int>"
    rows = df.orderBy("external_id").collect()
    assert rows[0].vector == [16777217, 16777219]
    assert rows[1].vector == [1, 2]


def test_parquet_source_rejects_flat_format_options(spark, sf_dir):
    """PARQUET sources carry their own ids and column type: silently
    ignoring external_ids_uri / keep_bytes returned wrong ids / wrong
    dtype with no error."""
    src = f"{sf_dir}/embeddings.parquet"
    with pytest.raises(ValueError, match="external_ids_uri"):
        read_vectors(
            spark, src, source_type="PARQUET", external_ids_uri="ids.u64bin"
        )
    with pytest.raises(ValueError, match="keep_bytes"):
        read_vectors(spark, src, source_type="PARQUET", keep_bytes=True)


def test_sparse_coo_duplicate_coordinates_sum(spark):
    """Duplicate (id, idx) COO entries SUM — scipy coo_matrix densify
    semantics; unguarded, map_from_entries threw 'Duplicate map key'
    under Spark's default EXCEPTION policy."""
    from tiledb_vector_search_spark.sources.arrays import sparse_coo_to_vectors

    coo = spark.createDataFrame(
        [(1, 0, 1.0), (1, 0, 2.0), (1, 2, 5.0), (2, 1, 7.0)],
        "external_id long, idx int, val double",
    )
    rows = sparse_coo_to_vectors(coo, dims=3).orderBy("external_id").collect()
    assert rows[0].vector == [3.0, 0.0, 5.0]
    assert rows[1].vector == [0.0, 7.0, 0.0]


def test_sparse_coo_out_of_range_raises(spark):
    """scipy coo_matrix RAISES on out-of-bounds coordinates; the dense
    transform only reads positions [0, dims), so an unguarded reader
    silently DROPPED them — hiding real source corruption."""
    import pytest as _pytest

    from tiledb_vector_search_spark.sources.arrays import sparse_coo_to_vectors

    for bad_idx in (3, -1):
        coo = spark.createDataFrame(
            [(1, 0, 1.0), (1, bad_idx, 9.0)],
            "external_id long, idx int, val double",
        )
        with _pytest.raises(Exception, match="out of range"):
            sparse_coo_to_vectors(coo, dims=3).collect()


def test_truncated_and_ragged_vecs_files_raise(spark, tmp_path):
    """The distributed reader matches the driver-side utils twin's
    strictness: flooring size on a truncated file silently DROPPED the
    tail record, and trusting the first record's dim header silently
    garbled a ragged file."""
    import numpy as np
    import pytest as _pytest

    from tiledb_vector_search_spark.sources import vecs as V

    mat = np.arange(24, dtype=np.float32).reshape(6, 4)
    good = str(tmp_path / "good.fvecs")
    V.write_fvecs(good, mat)

    # truncated: chop mid-record
    trunc = str(tmp_path / "trunc.fvecs")
    raw = open(good, "rb").read()
    open(trunc, "wb").write(raw[:-7])
    with _pytest.raises(ValueError, match="not a multiple"):
        V.read_vectors(spark, trunc, "FVEC").collect()

    # ragged: one record claims a different dim (same total length)
    import struct

    ragged = str(tmp_path / "ragged.fvecs")
    rec = 4 + 4 * 4
    buf = bytearray(raw)
    buf[2 * rec : 2 * rec + 4] = struct.pack("<i", 5)
    open(ragged, "wb").write(bytes(buf))
    with _pytest.raises(Exception, match="inconsistent dimension"):
        V.read_vectors(spark, ragged, "FVEC").collect()

    # bin header promising more rows than the file holds
    binf = str(tmp_path / "short.f32bin")
    V.write_f32bin(binf, mat)
    raw = open(binf, "rb").read()
    open(binf, "wb").write(raw[:-4])
    with _pytest.raises(ValueError, match="truncated or corrupt"):
        V.read_vectors(spark, binf, "F32BIN").collect()
