"""What the closed-loop workloads share.  One client, one process, the next
call sent only after the previous one returned and was checked.

Each workload has a set-up (timed as ``setup_s``, less the harness's own
input generation and oracle work) and a loop that runs a fixed order of
operations until ``--seconds`` have passed, always finishing a minimum
of work so every operation kind has a sample.  An operation is timed
around the library call and the materialization of its result; the
output check runs after the timer stops.  An operation that raises, or
whose output fails its check, counts as failed.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import stats
from perfbench.trace import HARNESS

K = 10


class CheckFailed(Exception):
    """An operation returned a wrong result."""


class Run:
    """State of one benchmark run: session, tracer, samples, failures."""

    def __init__(self, spark, seed: int, seconds: float, workdir: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}  # op kind -> seconds
        self.items: dict[str, list[int]] = {}  # op kind -> items per call
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.values: dict[str, object] = {}  # workload-specific results
        self.op_spans: list = []
        self.loop_t0 = self.loop_t1 = 0.0
        self.setup_excluded_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def span(self, layer: str, name: str, op: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name, op)

    def op(self, kind: str, layer: str, fn, check=None, items: int = 1):
        """Time ``fn()``, then run ``check(result)`` untimed.  Returns the
        result, or None when the call raised or the check failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(layer, kind, op=kind) as sp:
                out = fn()
            dt = time.perf_counter() - t0
            if sp is not None:
                self.op_spans.append(sp)
            if check is not None:
                with self.span(HARNESS, f"check:{kind}"):
                    check(out)
        except Exception as exc:  # any failure of the system under test counts
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append(dt)
        self.items.setdefault(kind, []).append(items)
        return out

    @contextlib.contextmanager
    def harness_setup(self):
        """Harness work during set-up: input generation, oracle truth.
        Its seconds are left out of ``setup_s``, which times the program."""
        t0 = time.perf_counter()
        try:
            with self.span(HARNESS, "inputs"):
                yield
        finally:
            self.setup_excluded_s += time.perf_counter() - t0

    def phases(self):
        """Returns ``mark(name)``, which records the seconds since the
        previous mark under ``values["setup_phases"][name]``."""
        last = [time.perf_counter()]
        rec = self.values.setdefault("setup_phases", {})

        def mark(name: str) -> None:
            now = time.perf_counter()
            rec[name] = now - last[0]
            last[0] = now

        return mark

    def expired(self) -> bool:
        return time.perf_counter() - self.loop_t0 >= self.seconds


# -- shared helpers ---------------------------------------------------------------


def _identity(batches):
    yield from batches


def warm_up(spark) -> None:
    """One JVM job and one Python-worker job, so the first measured
    operation does not pay the session's one-time start of both."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(100).mapInPandas(_identity, "id long").collect()


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, id_name="external_id") -> None:
    """One parquet file of (id, vector array<float>), written on the driver."""
    d = vecs.shape[1]
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).reshape(-1))
    col = pa.ListArray.from_arrays(pa.array(np.arange(0, len(vecs) * d + 1, d, dtype=np.int32)), flat)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({id_name: pa.array(ids, pa.int64()), "vector": col}),
        os.path.join(path, "part-0.parquet"),
    )


def query_frame(spark, vecs: np.ndarray):
    """Queries 0..n-1 as a one-partition DataFrame, as a caller holding
    them in memory would build it."""
    from tiledb_vector_search_spark.session import small_df

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return small_df(spark, rows, "query_id long, vector array<float>")


def group_results(rows, nq: int) -> list[list[tuple[int, float]]]:
    """Result rows -> per-query [(external_id, distance)] in rank order."""
    out: list[list[tuple[int, int, float]]] = [[] for _ in range(nq)]
    for r in rows:
        if r.external_id is not None:
            out[r.query_id].append((int(r.rank), int(r.external_id), float(r.distance)))
    return [[(i, d) for _, i, d in sorted(q)] for q in out]


def check_neighbours(res, queries: np.ndarray, lookup: dict, k: int):
    """Every result list has k distinct live ids in ascending distance, and
    each reported distance is the true distance to the id's current vector
    (so a deleted id or a stale pre-update vector cannot pass)."""
    for q, lst in enumerate(res):
        if len(lst) != k:
            raise CheckFailed(f"query {q}: {len(lst)} results, expected {k}")
        ids = [i for i, _ in lst]
        if len(set(ids)) != k:
            raise CheckFailed(f"query {q}: repeated ids {ids}")
        dists = [d for _, d in lst]
        if any(b < a - 1e-4 * max(1.0, abs(a)) for a, b in zip(dists, dists[1:])):
            raise CheckFailed(f"query {q}: distances not ascending")
        for i, d in lst:
            v = lookup.get(i)
            if v is None:
                raise CheckFailed(f"query {q}: id {i} is not live")
            true = float(((queries[q].astype(np.float64) - v) ** 2).sum())
            if abs(true - d) > 1e-3 * max(1.0, true):
                raise CheckFailed(f"query {q}: id {i} distance {d} != {true}")


def recall_of(res, queries: np.ndarray, lookup: dict, kth: np.ndarray, k: int = K) -> float:
    def dist_of(q, i):
        v = lookup.get(i)
        if v is None:
            return None
        return float(((queries[q].astype(np.float64) - v) ** 2).sum())

    return stats.tie_tolerant_recall([[i for i, _ in lst] for lst in res], kth, dist_of, k)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, hidden/checksum files excluded."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.startswith(".") or f.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, f))
            files += 1
    return total, files
