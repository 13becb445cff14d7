"""Vector file-format sources: FVEC/IVEC/BVEC and U8BIN/F32BIN (+U64BIN ids).

Reference readers: ``ingestion.py:1008-1075`` (range reads per work item),
``utils.py:53-111`` (whole-file load + fixture writers), external ids at
``ingestion.py:809-877``; format detection ``ingestion.py:400-421``;
header metadata ``ingestion.py:423-493``.

Formats (all little-endian):

- ``FVEC``/``IVEC``: per-record ``[d:int32][d × (float32|int32)]``
- ``BVEC``:          per-record ``[d:int32][d × uint8]``
- ``U8BIN``/``F32BIN``: one header ``[n:uint32][d:uint32]`` then row-major
  payload
- ``U64BIN`` (external ids): 8-byte header then ``n × uint64``

Spark-first distributed decode: every format has a FIXED record length, so a
file splits into row ranges with pure offset math — exactly what the
reference's work items do.  We build a ``spark.range`` over chunk indices
and decode each chunk in a ``mapInPandas`` task with a seek+``np.frombuffer``
read.  A 100-GB fvecs corpus therefore decodes with full cluster
parallelism, no driver materialization, and no shuffle: the decoder's output
flows straight into the ingest pipeline's first exchange.

Row ids are positional (``external_id = row index``) unless a U64BIN /
DataFrame id source is given — the reference's implicit-``arange`` rule
(``ingestion.py:822-823``).
"""

from __future__ import annotations

import math
import os
import struct
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledb_vector_search_spark.driver_io import local_os_path
from tiledb_vector_search_spark.schemas import (
    ID_COL,
    VECTOR_COL,
    integral_id_col,
)

# source_type -> (numpy dtype, per-record dim header?)
_VEC_FORMATS = {
    "FVEC": (np.dtype(np.float32), True),
    "IVEC": (np.dtype(np.int32), True),
    "BVEC": (np.dtype(np.uint8), True),
    "U8BIN": (np.dtype(np.uint8), False),
    "F32BIN": (np.dtype(np.float32), False),
}

_EXTENSIONS = {
    ".u8bin": "U8BIN",
    ".f32bin": "F32BIN",
    ".fvecs": "FVEC",
    ".ivecs": "IVEC",
    ".bvecs": "BVEC",
    ".u64bin": "U64BIN",
    ".parquet": "PARQUET",
}

DEFAULT_CHUNK_ROWS = 100_000


def _local_path(uri: str) -> str:
    path = local_os_path(uri)
    if path is None:
        raise ValueError(
            "vector files are read and written on the local filesystem; "
            f"{uri!r} is not a local path"
        )
    return path


def autodetect_source_type(source_uri: str) -> str:
    """Infer source format from the URI (reference ``ingestion.py:400-421``;
    the TileDB-array fallback becomes a Parquet-dataset fallback)."""
    for ext, t in _EXTENSIONS.items():
        if source_uri.endswith(ext):
            return t
    # directories / unknown extensions: assume a Parquet dataset (our
    # engine's native array layout, as TILEDB_ARRAY is the reference's)
    return "PARQUET"


def _file_size(uri: str) -> int:
    return os.path.getsize(_local_path(uri))


def _read_at(uri: str, offset: int, length: int) -> bytes:
    with open(_local_path(uri), "rb") as f:
        f.seek(offset)
        return f.read(length)


def read_source_metadata(
    spark: SparkSession | None, source_uri: str, source_type: str | None = None
) -> tuple[int, int, str]:
    """(size, dimensions, dtype name) — reference ``ingestion.py:423-493``."""
    source_type = source_type or autodetect_source_type(source_uri)
    if source_type == "PARQUET":
        if spark is None:
            raise ValueError("PARQUET metadata needs a SparkSession")
        df = spark.read.parquet(source_uri)
        vec_col = VECTOR_COL if VECTOR_COL in df.columns else df.columns[-1]
        size = df.count()
        dims = df.select(F.size(vec_col)).first()[0]
        return size, int(dims), "float32"
    if source_type not in _VEC_FORMATS:
        raise ValueError(f"unsupported source_type {source_type!r}")
    dtype, per_record_dim = _VEC_FORMATS[source_type]
    fsize = _file_size(source_uri)
    if per_record_dim:
        dims = struct.unpack("<i", _read_at(source_uri, 0, 4))[0]
        record = 4 + dims * dtype.itemsize
        # the driver-side utils._load_vecs_t twin raises on a ragged
        # file; flooring here would silently DROP the truncated tail
        # record — corrupt/partial downloads must be loud
        if fsize % record != 0:
            raise ValueError(
                f"{source_uri}: size {fsize} is not a multiple of the "
                f"record length {record} (dims {dims}) — truncated or "
                "corrupt file"
            )
        size = fsize // record
    else:
        n, dims = struct.unpack("<II", _read_at(source_uri, 0, 8))
        size = int(n)
        expect = 8 + size * dims * dtype.itemsize
        if fsize != expect:
            raise ValueError(
                f"{source_uri}: header promises {size}x{dims} "
                f"({expect} bytes) but the file is {fsize} bytes — "
                "truncated or corrupt file"
            )
    return int(size), int(dims), dtype.name


def read_vectors(
    spark: SparkSession,
    source_uri: str,
    source_type: str | None = None,
    external_ids_uri: str | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    keep_bytes: bool = False,
) -> DataFrame:
    """Distributed decode → ``(external_id long, vector array<float>)``.

    uint8 payloads are promoted to float32 (SURVEY §1.2/§1.3 type
    mapping — exact); IVEC int32 payloads stay ``array<int>`` — float32
    promotion silently corrupts values above 2²⁴ (ivecs files are
    typically ground-truth NEIGHBOR IDS, which exceed that on corpora
    past ~16.7M rows), and the driver-side ``utils.load_ivecs`` twin
    keeps int32 too.  ``external_ids_uri`` may point to a U64BIN file read
    range-aligned with the vector chunks; otherwise ids are the row
    positions (implicit ``arange``).

    ``keep_bytes=True`` (uint8/int8 formats only) emits the raw payload as
    a packed ``binary`` vector column instead of promoting — feed it
    straight to ``ingest(vector_dtype="uint8")`` so a bigann-style corpus
    stays 1 byte/element from file to index with no decode/re-pack cycle.
    """
    source_type = source_type or autodetect_source_type(source_uri)
    if source_type == "PARQUET":
        # options that only apply to the flat binary formats must not be
        # silently ignored — wrong ids / wrong dtype with no error
        if external_ids_uri is not None:
            raise ValueError(
                "external_ids_uri applies to the flat vector formats; a "
                "parquet source carries its own external_id column"
            )
        if keep_bytes:
            raise ValueError(
                "keep_bytes applies to the flat uint8/int8 formats; a "
                "parquet source's column keeps its stored type"
            )
        df = spark.read.parquet(source_uri)
        return df.select(
            integral_id_col(df, ID_COL, "read_vectors").alias(ID_COL),
            F.col(VECTOR_COL).cast("array<float>"),
        )
    if source_type not in _VEC_FORMATS:
        raise ValueError(f"unsupported source_type {source_type!r}")
    dtype, per_record_dim = _VEC_FORMATS[source_type]
    # argument validation before file IO (the metadata read now raises
    # on truncated/ragged files, which would mask this clearer error)
    if keep_bytes and dtype.itemsize != 1:
        raise ValueError(
            f"keep_bytes requires a 1-byte format; {source_type} is {dtype.name}"
        )
    size, dims, _ = read_source_metadata(spark, source_uri, source_type)
    if per_record_dim:
        header, record = 0, 4 + dims * dtype.itemsize
    else:
        header, record = 8, dims * dtype.itemsize

    n_chunks = max(1, math.ceil(size / chunk_rows))
    parallelism = min(n_chunks, spark.sparkContext.defaultParallelism * 2)
    chunks = spark.range(0, n_chunks, 1, parallelism)

    uri, ids_uri = source_uri, external_ids_uri
    sz, cr, dm = size, chunk_rows, dims
    dt, prd, hdr, rec = dtype, per_record_dim, header, record
    kb = keep_bytes

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for c in pdf["id"]:
                start = int(c) * cr
                stop = min(sz, start + cr)
                nrows = stop - start
                if nrows <= 0:
                    continue
                raw = _read_at(uri, hdr + start * rec, nrows * rec)
                if prd:
                    arr = np.frombuffer(raw, dtype=np.uint8).reshape(nrows, rec)
                    # every record's dim header must agree with the
                    # file's first (the utils twin's check, distributed):
                    # a ragged vecs file would otherwise reshape into
                    # silently garbled vectors
                    hdrs = arr[:, :4].copy().view(np.int32).ravel()
                    if not (hdrs == dm).all():
                        bad = int(hdrs[hdrs != dm][0])
                        raise ValueError(
                            f"{uri}: inconsistent dimension header "
                            f"(expected {dm}, found {bad}) in rows "
                            f"[{start}, {stop}) — corrupt file"
                        )
                    mat = arr[:, 4:].copy().view(dt).reshape(nrows, dm)
                else:
                    mat = np.frombuffer(raw, dtype=dt).reshape(nrows, dm)
                if ids_uri is not None:
                    ids_raw = _read_at(ids_uri, 8 + start * 8, nrows * 8)
                    ids = np.frombuffer(ids_raw, dtype=np.uint64).astype(np.int64)
                else:
                    ids = np.arange(start, stop, dtype=np.int64)
                if kb:
                    vec = [mat[i].tobytes() for i in range(nrows)]
                elif dt == np.dtype(np.int32):
                    vec = list(mat)  # exact: see docstring (ivecs = ids)
                else:
                    vec = list(mat.astype(np.float32))
                yield pd.DataFrame({ID_COL: ids, VECTOR_COL: vec})

    if kb:
        vec_type = "binary"
    elif dtype == np.dtype(np.int32):
        vec_type = "array<int>"
    else:
        vec_type = "array<float>"
    return chunks.mapInPandas(
        decode, schema=f"{ID_COL} long, {VECTOR_COL} {vec_type}"
    )


def read_external_ids(
    spark: SparkSession, external_ids_uri: str | None, size: int
) -> DataFrame:
    """(pos, external_id) — U64BIN file or implicit arange
    (reference ``ingestion.py:809-877``)."""
    if not external_ids_uri:
        return spark.range(size).select(
            F.col("id").alias("pos"), F.col("id").alias(ID_COL)
        )
    n_chunks = max(1, math.ceil(size / DEFAULT_CHUNK_ROWS))
    chunks = spark.range(0, n_chunks, 1, min(n_chunks, 64))
    uri, sz, cr = external_ids_uri, size, DEFAULT_CHUNK_ROWS

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for c in pdf["id"]:
                start = int(c) * cr
                stop = min(sz, start + cr)
                if stop <= start:
                    continue
                raw = _read_at(uri, 8 + start * 8, (stop - start) * 8)
                ids = np.frombuffer(raw, dtype=np.uint64).astype(np.int64)
                yield pd.DataFrame(
                    {"pos": np.arange(start, stop, dtype=np.int64), ID_COL: ids}
                )

    return chunks.mapInPandas(decode, schema=f"pos long, {ID_COL} long")


# --- fixture writers (reference utils.py:90-111) ------------------------------


def _write_vecs(path: str, data: np.ndarray, dtype: np.dtype) -> None:
    data = np.ascontiguousarray(data.astype(dtype))
    dims = data.shape[1]
    with open(_local_path(path), "wb") as f:
        for row in data:
            f.write(struct.pack("<i", dims))
            f.write(row.tobytes())


def write_fvecs(path: str, data: np.ndarray) -> None:
    _write_vecs(path, data, np.dtype(np.float32))


def write_ivecs(path: str, data: np.ndarray) -> None:
    _write_vecs(path, data, np.dtype(np.int32))


def write_bvecs(path: str, data: np.ndarray) -> None:
    _write_vecs(path, data, np.dtype(np.uint8))


def _write_bin(path: str, data: np.ndarray, dtype: np.dtype) -> None:
    data = np.ascontiguousarray(data.astype(dtype))
    n, dims = data.shape
    with open(_local_path(path), "wb") as f:
        f.write(struct.pack("<II", n, dims))
        f.write(data.tobytes())


def write_u8bin(path: str, data: np.ndarray) -> None:
    _write_bin(path, data, np.dtype(np.uint8))


def write_f32bin(path: str, data: np.ndarray) -> None:
    _write_bin(path, data, np.dtype(np.float32))


def write_u64bin(path: str, ids: np.ndarray) -> None:
    ids = np.ascontiguousarray(ids.astype(np.uint64))
    with open(_local_path(path), "wb") as f:
        f.write(struct.pack("<II", len(ids), 1))
        f.write(ids.tobytes())
