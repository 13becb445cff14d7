"""Change-data-capture streaming SOURCE over an index's update log.

``spark.readStream.format("index_changes").option("uri", ...)`` emits
every committed update-batch row (upserts AND tombstones, log order)
exactly once per micro-batch window — the Structured Streaming twin of
the range open (``open_index(uri, timestamp=(start, end))`` reads a
window once; this source follows the log forward).  Built on Spark 4's
Python DataSource API (``pyspark.sql.datasource``) — the engine-native
way to expose a custom streaming source without a JVM connector.

Offsets are update-batch timestamps: the meta's ``update_batches`` list
is the COMMIT LOG (the fenced meta flip is the commit point, so a batch
whose parquet append landed but whose meta write crashed is never
emitted — the same visibility rule every reader applies).  ``read``
advances to the newest committed batch; ``readBetweenOffsets`` replays
a closed window deterministically (the log is append-only).  Replay
after ``vacuum``/``clear_history`` reclaimed part of the window raises
instead of silently emitting a partial batch — a checkpoint that old
must be discarded, same contract as a vacuumed time-travel open.

Downstream is ordinary Structured Streaming: feed ``foreachBatch`` to
mirror an index into another store, maintain a materialized view, or
drive the crawl loop's screens from another index's changes.

Scale posture: each poll reads the meta JSON (one small object) and
ONLY the new batches' parquet row groups (``ts``-filtered read, the
same row-group pruning as the SQL TVF's ``_load_updates``); cost per
trigger ∝ the increment, never the corpus or the log's history.
"""

from __future__ import annotations

import json
import posixpath
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = "external_id long, vector array<float>, is_delete boolean, ts long"


def _meta(uri: str) -> dict:
    from tiledb_vector_search_spark.driver_io import read_json_file

    return read_json_file(posixpath.join(uri, "_index_meta.json"))


def _committed(uri: str) -> list[int]:
    return sorted(int(t) for t in _meta(uri).get("update_batches", []))


def _batch_rows(
    uri: str, lo_exclusive: int, hi_inclusive: int, committed: list[int]
) -> Iterator[Tuple]:
    """Raw log rows with ts in (lo, hi] — CDC emits the log as-is (no
    latest-per-id fold: a consumer folding state needs every event)."""
    import pyarrow.parquet as pq

    from tiledb_vector_search_spark.driver_io import list_parquet_files

    want = [t for t in committed if lo_exclusive < t <= hi_inclusive]
    if not want:
        return
    ufs, files = list_parquet_files(posixpath.join(uri, "updates"))
    filters = [("ts", ">", lo_exclusive), ("ts", "<=", hi_inclusive)]
    wset = set(want)
    for f in files:
        tb = pq.read_table(
            f,
            columns=["external_id", "vector", "is_delete", "ts"],
            filters=filters,
            filesystem=ufs,
        )
        if not tb.num_rows:
            continue
        ids = tb.column("external_id").to_pylist()
        vecs = tb.column("vector").to_pylist()
        dels = tb.column("is_delete").to_pylist()
        tss = tb.column("ts").to_pylist()
        for i in range(tb.num_rows):
            ts = int(tss[i])
            if ts not in wset:
                # orphan rows from a crashed append whose meta flip
                # never landed — invisible, like every other reader
                continue
            yield (
                int(ids[i]),
                None if vecs[i] is None else [float(x) for x in vecs[i]],
                bool(dels[i]),
                ts,
            )


class _WindowPartition(InputPartition):
    def __init__(self, uri: str, lo: int, hi: int, committed: list[int]):
        self.uri = uri
        self.lo = lo
        self.hi = hi
        self.committed = committed


class IndexChangesStreamReader(DataSourceStreamReader):
    """Offset = {"ts": newest emitted batch timestamp}."""

    def __init__(self, options):
        self.uri = options.get("uri")
        if not self.uri:
            raise ValueError(
                "index_changes requires .option('uri', <index uri>)"
            )
        raw = options.get("startTimestamp")
        self._explicit_start = raw is not None
        self.start_ts = int(raw) if raw is not None else 0

    def initialOffset(self) -> dict:
        if self._explicit_start:
            # an explicit start names specific history; if part of it was
            # reclaimed, partitions() raises rather than emitting a
            # partial window
            return {"ts": self.start_ts}
        # default = earliest RETAINED history (the Kafka
        # earliest-available stance): a fresh consumer on an index whose
        # older batches were vacuumed starts at the reclamation floor
        # instead of dying on it
        return {"ts": int(_meta(self.uri).get("updates_cleared_through", 0))}

    def latestOffset(self) -> dict:
        committed = _committed(self.uri)
        return {"ts": committed[-1] if committed else self.start_ts}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["ts"]), int(end["ts"])
        if hi <= lo:
            return []
        meta = _meta(self.uri)
        committed = sorted(int(t) for t in meta.get("update_batches", []))
        window = [t for t in committed if lo < t <= hi]
        # replay integrity: ``updates_cleared_through`` is the
        # authoritative reclamation floor (stamped by every
        # clear_updates_through — vacuum's clamp and clear_history's).
        # A window reaching below it may have lost batches; fail the
        # replay loudly rather than silently emitting a partial one —
        # the same contract as a time-travel open below a vacuumed
        # snapshot.
        cleared = int(meta.get("updates_cleared_through", 0))
        if lo < cleared:
            raise ValueError(
                f"index_changes replay window ({lo}, {hi}] reaches below "
                f"the log's reclamation floor ({cleared}): vacuum/"
                "clear_history reclaimed part of the window.  Discard "
                "this checkpoint and restart from a startTimestamp at "
                "or after the floor."
            )
        return [_WindowPartition(self.uri, lo, hi, window)]

    def read(self, partition: _WindowPartition) -> Iterator[Tuple]:
        yield from _batch_rows(
            partition.uri, partition.lo, partition.hi, partition.committed
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are immutable log positions; nothing to ack


class IndexChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "index_changes"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> IndexChangesStreamReader:
        return IndexChangesStreamReader(self.options)


def register_index_changes(spark) -> None:
    """Register the source on this session; after this,
    ``spark.readStream.format("index_changes").option("uri", u).load()``
    streams the index's committed update batches."""
    spark.dataSource.register(IndexChangesDataSource)


def stream_index_mirror(
    spark,
    source_uri: str,
    target_uri: str,
    checkpoint_dir: str,
    available_now: bool = True,
    session=None,
):
    """Replicate ``source_uri``'s DML onto ``target_uri`` — CDC source →
    ``merge_batch`` sink, TIMESTAMP-FAITHFUL: each micro-batch's events
    group by their source batch ts and apply at that same ts, so the
    mirror converges to the identical logical state AND the identical
    time-travel history (an ``open_index(target, timestamp=t)`` answers
    like the source for every t the mirror has passed).

    The target must start from the same base snapshot (same ingest or a
    file copy) — CDC carries the update log, not the corpus.  ``session``
    adopts an externally-held writer lease on the target
    (``adopt_writer_session`` semantics: one lease across the stream,
    renewed per batch).  Returns the StreamingQuery.

    The per-ts apply loop is driver-side ONLY in its grouping (a ts is a
    handful of values per trigger); each ``merge_batch`` is a fully
    distributed append of that ts-slice — no event rows ever collect to
    the driver."""
    from pyspark.sql import functions as F

    from tiledb_vector_search_spark.indexes import open_index
    from tiledb_vector_search_spark.storage import adopt_writer_session

    register_index_changes(spark)

    def apply(df, _bid):
        tss = [int(r.ts) for r in df.select("ts").distinct().collect()]
        if not tss:
            return
        idx = open_index(spark, target_uri)
        if session is not None:
            adopt_writer_session(idx, session)
        try:
            for ts in sorted(tss):
                idx.merge_batch(
                    df.where(F.col("ts") == ts).select(
                        "external_id", "vector", "is_delete"
                    ),
                    timestamp=ts,
                )
        finally:
            if session is not None:
                adopt_writer_session(idx, None)

    stream = (
        spark.readStream.format("index_changes")
        .option("uri", source_uri)
        .load()
    )
    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
