"""``ann_query_update``: ANN builds, serving, DML beside reads, consolidation.

Set-up generates a Gaussian-blob corpus with held-out queries and its
numpy truth (harness work, left out of ``setup_s``), then ingests one
FLAT, IVF_FLAT, IVF_PQ and VAMANA index, each timed as its one build
sample and followed by a first query that fills the index's caches once.
VAMANA gets a smaller corpus because its graph build costs far more per
vector.  Then, from the serving indexes:

1. batch: a 1024-query batch per type, checked against numpy brute
   force and gated on recall;
2. point: rounds of one single-query ``Index.query`` per type plus one
   single-query ``ann_search`` SQL call, until ``--seconds`` have passed
   (``MIN_POINT_ROUNDS`` at least);
3. write: ``DML_ROUNDS`` rounds of ``update_batch``, ``delete_batch``
   and ``merge_batch`` on the IVF_FLAT index, each batch followed by a
   reopen and each round by a single query that must already see the
   writes (deleted ids absent, updated ids at their new vector, every
   pending row nearer than the k-th result among the results);
4. fold: an exhaustive query, ``consolidate_updates``, and the same query
   again, which must return what it returned before the fold.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import inputs, stats
from perfbench.trace import HARNESS
from perfbench.workloads import (
    K,
    CheckFailed,
    Run,
    check_neighbours,
    dir_bytes,
    group_results,
    query_frame,
    recall_of,
    write_vectors,
)

SIZES = {"n": 8192, "d": 32, "n_vamana": 2048, "nq_batch": 1024, "nq_point": 256, "rows": 50}
MIN_POINT_ROUNDS = 2
# rounds of update, delete and merge; 6 batches stay below the library's
# update-log compaction trigger (more than 10 pending batches)
DML_ROUNDS = 2
TYPES = ["FLAT", "IVF_FLAT", "IVF_PQ", "VAMANA"]
LAYER_OF = {
    "FLAT": "indexes.flat",
    "IVF_FLAT": "indexes.ivf_flat",
    "IVF_PQ": "indexes.ivf_pq",
    "VAMANA": "indexes.vamana",
}
# IVF_PQ is queried at a setting that clears its 0.75 recall gate.  The
# default (nprobe = sqrt(partitions), k_factor 1) ranks by approximate PQ
# distances alone and misses the gate on blobs, so the query probes 8
# cells and re-ranks 4x the candidates by exact distance.
PQ_QUERY = {"nprobe": 8, "k_factor": 4.0}
RECALL_GATE = {"FLAT": 0.99, "IVF_FLAT": 0.85, "IVF_PQ": 0.75, "VAMANA": 0.85}
# the fresh query runs on IVF_FLAT, so it is held to that type's gate;
# on these blobs every single IVF_FLAT query reaches recall 1.0
FRESH_RECALL_GATE = RECALL_GATE["IVF_FLAT"]


def ann_query_update(run: Run) -> None:
    from tiledb_vector_search_spark import indexes, storage
    from tiledb_vector_search_spark.sql import tvf

    z = SIZES
    spark = run.spark
    phase = run.phases()
    nv = z["n_vamana"]
    with run.harness_setup():
        data = inputs.blobs(run.seed, z["n"], z["d"], z["nq_batch"] + z["nq_point"])
        qb, qp = data.queries[: z["nq_batch"]], data.queries[z["nq_batch"] :]
        write_vectors(run.path("src"), data.ids, data.vectors)
        write_vectors(run.path("src_vamana"), data.ids[:nv], data.vectors[:nv])
        write_vectors(run.path("queries"), np.arange(len(qb), dtype=np.int64), qb, "query_id")
        full = {int(i): v for i, v in zip(data.ids, data.vectors)}
        lookup = {t: full for t in TYPES}
        lookup["VAMANA"] = {int(i): full[int(i)] for i in data.ids[:nv]}
        kth_full = stats.knn_truth(qb, data.vectors, data.ids, K)[1][:, -1]
        kth = {t: kth_full for t in TYPES}
        kth["VAMANA"] = stats.knn_truth(qb, data.vectors[:nv], data.ids[:nv], K)[1][:, -1]
    phase("inputs")
    src = spark.read.parquet(run.path("src"))
    src_v = spark.read.parquet(run.path("src_vamana"))
    batch_df = spark.read.parquet(run.path("queries"))
    qkw = {t: {} for t in TYPES}
    qkw["IVF_PQ"] = dict(PQ_QUERY)
    recalls: list[float] = []
    fresh_recalls: list[float] = []
    qi = 0

    def next_point():
        nonlocal qi
        q = qp[qi % len(qp) : qi % len(qp) + 1]
        qi += 1
        return q

    def point(kind, t, handle, q):
        run.op(
            kind, LAYER_OF[t],
            lambda: handle.query(query_frame(spark, q), K, **qkw[t]).collect(),
            lambda rows: check_neighbours(group_results(rows, 1), q, lookup[t], K),
        )

    def sql_point(uri, nprobe, q):
        def call():
            query_frame(spark, q).createOrReplaceTempView("perfbench_q")
            return spark.sql(
                "SELECT * FROM ann_search(TABLE(SELECT query_id, vector FROM perfbench_q), "
                f"'{uri}', {K}, {nprobe})"
            ).collect()

        run.op("sql_point", "sql.tvf", call,
               lambda rows: check_neighbours(group_results(rows, 1), q, full, K))

    def batch(t, handle):
        def check(rows):
            res = group_results(rows, len(qb))
            check_neighbours(res, qb, lookup[t], K)
            r = recall_of(res, qb, lookup[t], kth[t])
            recalls.append(r)
            if r < RECALL_GATE[t]:
                raise CheckFailed(f"{t} recall@10 {r:.3f} below gate {RECALL_GATE[t]}")

        run.op(f"batch:{t}", LAYER_OF[t],
               lambda: handle.query(batch_df, K, **qkw[t]).collect(), check, items=len(qb))

    # -- set-up builds: each ingest is its type's one build sample
    builds = [
        ("FLAT", indexes.FlatIndex, src, z["n"], {}),
        ("IVF_FLAT", indexes.IVFFlatIndex, src, z["n"], {}),
        ("IVF_PQ", indexes.IVFPQIndex, src, z["n"], {"num_subspaces": z["d"] // 4}),
        ("VAMANA", indexes.VamanaIndex, src_v, nv, {}),
    ]
    idx = {}
    for t, cls, s, n, kw in builds:
        idx[t] = run.op(
            f"ingest:{t}", LAYER_OF[t],
            lambda cls=cls, t=t, s=s, kw=kw: cls.ingest(spark, run.path(t), s, timestamp=1000, **kw),
            items=n,
        )
        if idx[t] is None:
            raise RuntimeError(f"{t} ingest failed; the workload cannot run")
        # the first query of a new index fills its snapshot caches once;
        # it is its own kind, outside the p50
        point(f"first_query:{t}", t, idx[t], next_point())
    tvf.register_ann_search(spark)
    phase("builds")
    with run.span(HARNESS, "stored_bytes"):
        raw = (3 * z["n"] + nv) * z["d"] * 4
        stored_build = sum(dir_bytes(run.path(t))[0] for t in TYPES) / raw
    ivf_uri = run.path("IVF_FLAT")
    # the TVF probes as many cells as the DataFrame path does by default
    ivf_nprobe = max(1, int(np.sqrt(idx["IVF_FLAT"].partitions)))

    # -- serve
    run.loop_t0 = time.perf_counter()
    for t in TYPES:
        batch(t, idx[t])
    rounds = 0
    while rounds < MIN_POINT_ROUNDS or not run.expired():
        for t in TYPES:
            point(f"point:{t}", t, idx[t], next_point())
        sql_point(ivf_uri, ivf_nprobe, next_point())
        rounds += 1

    # -- write beside reads
    handle = idx["IVF_FLAT"]
    plan = inputs.DmlPlan(run.seed, data, z["rows"])
    pending = 0
    enforcement_s: list[float] = []
    files_written: list[int] = []
    pending_at_query: list[int] = []
    files_at_query: list[int] = []
    for _ in range(DML_ROUNDS):
        for kind in ("update", "delete", "merge"):
            with run.span(HARNESS, "dml_plan"):
                op = plan.next(kind)
                files0 = dir_bytes(ivf_uri)[1]
                enf0 = storage.ENFORCEMENT_COUNTERS["ns"]
            done = run.op(f"{kind}_batch", "indexes.base",
                          lambda op=op, h=handle: _apply(spark, h, op) or True)
            with run.span(HARNESS, "dml_accounting"):
                enforcement_s.append((storage.ENFORCEMENT_COUNTERS["ns"] - enf0) / 1e9)
                files_written.append(dir_bytes(ivf_uri)[1] - files0)
                if done:
                    plan.apply(op)
                    pending += len(op.upserts) + len(op.deletes)
            handle = run.op("reopen", "indexes.base",
                            lambda: indexes.open_index(spark, ivf_uri)) or handle
        with run.span(HARNESS, "truth"):
            files_at_query.append(dir_bytes(ivf_uri)[1])
            pending_at_query.append(pending)
            q = next_point()
            live = dict(plan.live)
            added = dict(plan.added)
            eff_ids, eff_vecs = plan.effective()
            q_kth = stats.knn_truth(q, eff_vecs, eff_ids, K)[1][:, -1]

        def check_fresh(rows, q=q, live=live, added=added, q_kth=q_kth):
            res = group_results(rows, 1)
            check_neighbours(res, q, live, K)
            # the update log's rows are scanned exactly, whatever the
            # probe setting: one nearer than the k-th result must be in it
            got = {i for i, _ in res[0]}
            lim = res[0][-1][1]
            for i, vec in added.items():
                dist = float(((q[0].astype(np.float64) - vec) ** 2).sum())
                # the same tolerance check_neighbours gives a distance
                if i not in got and dist < lim - 1e-3 * max(1.0, lim):
                    raise CheckFailed(f"pending id {i} at {dist:.4f} missing; k-th result at {lim:.4f}")
            r = recall_of(res, q, live, q_kth)
            fresh_recalls.append(r)
            if r < FRESH_RECALL_GATE:
                raise CheckFailed(f"fresh recall@10 {r:.3f} below gate {FRESH_RECALL_GATE}")

        run.op("fresh_query", LAYER_OF["IVF_FLAT"],
               lambda q=q, h=handle: h.query(query_frame(spark, q), K).collect(),
               check_fresh)

    # -- fold the updates into a new snapshot
    live = dict(plan.live)
    qf = qb[:8]
    # exhaustive probing makes the IVF result exact, so it must not
    # change when the fold re-assigns rows to partitions
    every = {"nprobe": handle.partitions}
    before = run.op(
        "exact_query", LAYER_OF["IVF_FLAT"],
        lambda: handle.query(query_frame(spark, qf), K, **every).collect(),
        lambda rows: check_neighbours(group_results(rows, len(qf)), qf, live, K),
        items=len(qf),
    )
    folded = run.op("consolidate", "indexes.base", handle.consolidate_updates, items=len(live))
    stored_fold = None
    if folded is not None:
        with run.span(HARNESS, "stored_bytes"):
            stored_fold = dir_bytes(ivf_uri)[0] / (len(live) * z["d"] * 4)

        def same_as_before(rows):
            res = group_results(rows, len(qf))
            check_neighbours(res, qf, live, K)
            if before is None:
                raise CheckFailed("no pre-consolidation result to compare with")
            for q, (a, b) in enumerate(zip(group_results(before, len(qf)), res)):
                # equal distances may come back in another id order
                if [i for i, _ in a] != [i for i, _ in b] and not np.allclose(
                    [d for _, d in a], [d for _, d in b], rtol=1e-5
                ):
                    raise CheckFailed(f"query {q}: results changed across consolidate")

        run.op("exact_query", LAYER_OF["IVF_FLAT"],
               lambda: folded.query(query_frame(spark, qf), K, **every).collect(),
               same_as_before, items=len(qf))
    run.loop_t1 = time.perf_counter()

    v = run.values
    if recalls and fresh_recalls:
        v["fresh_recall"] = min(fresh_recalls)
        v["recall_at_10"] = min(min(recalls), v["fresh_recall"])
    v["batch_nq"] = len(qb)
    if stored_fold is not None:
        v["stored_bytes_per_vector_byte"] = {
            "after_builds": stored_build,
            "after_consolidate": stored_fold,
        }
    v["enforcement_s_per_dml"] = sum(enforcement_s) / len(enforcement_s)
    v["files_written_per_dml"] = sum(files_written) / len(files_written)
    v["pending_rows_per_query"] = sum(pending_at_query) / len(pending_at_query)
    v["files_per_index"] = sum(files_at_query) / len(files_at_query)


def _apply(spark, handle, op: inputs.DmlOp) -> None:
    """Send one DML batch through the public API."""
    from tiledb_vector_search_spark.session import small_df

    if op.kind == "update":
        handle.update_batch([(i, [float(x) for x in vec]) for i, vec in op.upserts])
    elif op.kind == "delete":
        handle.delete_batch(op.deletes)
    else:
        rows = [(i, [float(x) for x in vec], False) for i, vec in op.upserts]
        rows += [(i, None, True) for i in op.deletes]
        handle.merge_batch(
            small_df(spark, rows, "external_id long, vector array<float>, is_delete boolean"))
