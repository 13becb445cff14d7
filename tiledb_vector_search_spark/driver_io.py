"""The driver's one file layer: every URI -> filesystem decision.

This is the only module that turns a URI into an OS path or a pyarrow
filesystem:

- ``local_os_path`` is the one URI parser.  A bare path, ``file:/p``,
  ``file:///p`` and ``file://localhost/p`` are local; any other scheme
  (``hdfs://``, ``s3a://``, ...) is not.
- ``resolve_fs`` maps a URI to a ``pyarrow.fs`` filesystem: every local
  form to ``LocalFileSystem``, other schemes through
  ``FileSystem.from_uri`` (fsspec for schemes pyarrow lacks).  The SQL
  TVFs (``sql/tvf.py``, ``sql/bm25_tvf.py``) and the index change feed
  (``streaming/index_changes.py``) run on executors, where there is no
  SparkSession, so they read every scheme through it.
- Driver-side reads and writes are pyarrow for local URIs and stay on
  Spark/Hadoop for other URIs: small snapshot artifacts (centroids, PQ
  codebooks, Vamana medoids) read through ``read_small_table``
  (``spark.read.parquet(...).toArrow()`` when not local), single-call
  DML batches write through ``write_small_parquet`` /
  ``append_small_parquet`` (``DataFrame.write.parquet`` when not
  local), and ``Index._partition_bytes`` lists with ``list_files``
  (``HadoopFS.list_files`` when not local).  One parquet file costs
  ~1 ms with pyarrow, where a Spark job costs ~100-500 ms of
  scheduling, task launch and commit.  Index meta, leases and every
  other ``IndexStorage`` operation stay on ``storage.HadoopFS``.

Spark reads the pyarrow-written parquet identically
(tests/test_driver_io.py).  Only the I/O mechanism differs: the file
layout stays "a directory of parquet part files", and the meta-flip
commit protocol around these writes is unchanged.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

_SPARK_TO_ARROW = {
    "int": pa.int32(),
    "integer": pa.int32(),
    "long": pa.int64(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "string": pa.string(),
    "binary": pa.binary(),
}


def local_os_path(path: str) -> str | None:
    """OS path for a local URI (``file:`` scheme or schemeless), else None."""
    if path.startswith("file://"):
        rest = path[len("file://") :]
        # file:///abs/path and file://localhost/abs/path both resolve
        # locally; any other authority is a remote mount we won't guess at
        if rest.startswith("/"):
            return rest
        if rest.startswith("localhost/"):
            return rest[len("localhost") :]
        return None
    if path.startswith("file:"):
        return path[len("file:") :]
    if "://" in path.split("/", 1)[0] or ":" in path.split("/", 1)[0]:
        # some other scheme (hdfs:, s3a:, ...)
        return None
    return path


def resolve_fs(path: str):
    """(pyarrow FileSystem, filesystem path) for ``path``.

    Every local form ``local_os_path`` accepts maps to
    ``LocalFileSystem``; other schemes (``s3://``, ``gs://``,
    ``hdfs://``, ...) resolve through ``FileSystem.from_uri``, so an
    object-store index is readable without a SparkSession.  Schemes
    pyarrow does not know fall back to fsspec when it is installed
    (``PyFileSystem(FSSpecHandler(...))``), else raise with that hint.
    """
    from pyarrow import fs as pafs

    os_path = local_os_path(path)
    if os_path is not None:
        return pafs.LocalFileSystem(), os_path
    try:
        return pafs.FileSystem.from_uri(path)
    except Exception as exc:
        try:
            import fsspec
        except ImportError:
            raise ValueError(
                f"unsupported filesystem scheme in {path!r} ({exc}); "
                "install fsspec to enable additional schemes"
            ) from exc
        fs, fpath = fsspec.core.url_to_fs(path)
        return pafs.PyFileSystem(pafs.FSSpecHandler(fs)), fpath


def list_files(path: str) -> list[tuple[str, int]]:
    """(path, size) of every file under ``path``, recursively; empty
    when ``path`` does not exist."""
    from pyarrow import fs as pafs

    fs, p = resolve_fs(path)
    infos = fs.get_file_info(
        pafs.FileSelector(p, allow_not_found=True, recursive=True)
    )
    return [(i.path, i.size) for i in infos if i.type == pafs.FileType.File]


def list_parquet_files(path: str) -> tuple[object, list[str]]:
    """(filesystem, sorted parquet file paths directly under ``path``);
    empty list when the directory does not exist."""
    from pyarrow import fs as pafs

    fs, p = resolve_fs(path)
    infos = fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return fs, sorted(
        i.path
        for i in infos
        if i.type == pafs.FileType.File and i.path.endswith(".parquet")
    )


def is_dir(path: str) -> bool:
    from pyarrow import fs as pafs

    fs, p = resolve_fs(path)
    return fs.get_file_info(p).type == pafs.FileType.Directory


def read_json_file(path: str) -> dict:
    fs, p = resolve_fs(path)
    with fs.open_input_stream(p) as fh:
        return json.loads(fh.read().decode("utf-8"))


def read_parquet_dir(path: str, columns: list[str] | None = None) -> pa.Table:
    """Every parquet file directly under ``path`` as one table."""
    fs, files = list_parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pa.concat_tables(
        [pq.read_table(f, columns=columns, filesystem=fs) for f in files]
    )


def _split_ddl(ddl: str) -> list[tuple[str, str]]:
    cols: list[tuple[str, str]] = []
    depth = 0
    cur = ""
    parts: list[str] = []
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur)
    for p in parts:
        name, typ = p.strip().split(None, 1)
        cols.append((name, typ.strip().lower()))
    return cols


def _arrow_type(spark_type: str) -> pa.DataType:
    t = spark_type.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(_arrow_type(t[len("array<") : -1]))
    try:
        return _SPARK_TO_ARROW[t]
    except KeyError:
        raise ValueError(f"driver_io: unsupported spark type {spark_type!r}")


def ddl_to_arrow_schema(ddl: str) -> pa.Schema:
    return pa.schema([(n, _arrow_type(t)) for n, t in _split_ddl(ddl)])


def rows_to_table(rows: list, ddl: str) -> pa.Table:
    schema = ddl_to_arrow_schema(ddl)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    arrays = [
        pa.array(list(col), type=f.type) for col, f in zip(cols, schema)
    ]
    return pa.Table.from_arrays(arrays, schema=schema)


def _write_table(table: pa.Table, os_dir: str) -> None:
    part = os.path.join(
        os_dir, f"part-00000-{uuid.uuid4().hex}-c000.zstd.parquet"
    )
    pq.write_table(table, part, compression="zstd")


def write_small_parquet(spark, path: str, rows: list, ddl: str) -> None:
    """Write driver-side ``rows`` as one parquet file under ``path``.

    Local path: direct pyarrow write, NO Spark job.  Remote: single-slice
    Spark write (the pre-existing behavior).  Mirrors the default
    ``errorifexists`` Spark write mode: the target must not exist yet.
    """
    os_dir = local_os_path(path)
    if os_dir is None:
        from tiledb_vector_search_spark.session import small_df

        small_df(spark, rows, ddl).write.parquet(path)
        return
    os.makedirs(os_dir, exist_ok=False)
    _write_table(rows_to_table(rows, ddl), os_dir)


def append_small_parquet(spark, path: str, rows: list, ddl: str) -> None:
    """Append driver-side ``rows`` as a new parquet file under ``path``
    (parquet-directory append semantics — one new uniquely-named file)."""
    os_dir = local_os_path(path)
    if os_dir is None:
        from tiledb_vector_search_spark.session import small_df

        small_df(spark, rows, ddl).write.mode("append").parquet(path)
        return
    os.makedirs(os_dir, exist_ok=True)
    _write_table(rows_to_table(rows, ddl), os_dir)


def read_small_table(spark, path: str) -> pa.Table:
    """A SMALL artifact table (centroids, codebooks, medoids): pyarrow
    on the driver for local URIs, the Spark reader for other URIs."""
    if local_os_path(path) is not None:
        return read_parquet_dir(path)
    return spark.read.parquet(path).toArrow()
