"""Unit tests of the benchmark's own arithmetic and input generation.

    python -m pytest perfbench/test_stats.py -q

No Spark session is started.
"""

from __future__ import annotations

import math
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from perfbench import inputs, stats, trace

# -- tail percentile -----------------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    value, pct = stats.tail(xs)
    assert value == 90  # index 89: samples 91..100 lie beyond it
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 89 / 99)


def test_tail_ignores_input_order():
    xs = [float(x) for x in np.random.default_rng(0).permutation(200)]
    value, _ = stats.tail(xs)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_falls_back_to_median_when_too_few_samples():
    for xs in ([1.0], [3.0, 1.0, 2.0], list(range(20))):
        value, pct = stats.tail(xs)
        assert pct == 50.0
        assert value == stats.median(xs)


def test_tail_at_exactly_twentyone_samples_is_the_median_rank():
    xs = list(range(21))
    value, pct = stats.tail(xs)
    assert (value, pct) == (10, 50.0)


def test_median_even_and_odd():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


# -- geomean -------------------------------------------------------------------


def test_geomean_values():
    assert stats.geomean([4.0]) == pytest.approx(4.0)
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)


def test_geomean_is_scale_equivariant():
    xs = [0.3, 7.0, 12.5]
    assert stats.geomean([3 * x for x in xs]) == pytest.approx(3 * stats.geomean(xs))


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [2.0, -1.0], [float("nan")]])
def test_geomean_rejects_non_positive(bad):
    with pytest.raises(ValueError):
        stats.geomean(bad)


# -- recall --------------------------------------------------------------------


def _dist_fn(queries, lookup):
    def dist_of(q, i):
        v = lookup.get(i)
        return None if v is None else float(((queries[q] - v) ** 2).sum())

    return dist_of


def test_recall_counts_tied_rows_as_interchangeable():
    # ids 1 and 2 sit at the same distance; either completes the top-2
    q = np.zeros((1, 2))
    lookup = {0: np.array([0.0, 1.0]), 1: np.array([1.0, 1.0]), 2: np.array([-1.0, 1.0])}
    kth = np.array([2.0])
    f = _dist_fn(q, lookup)
    assert stats.tie_tolerant_recall([[0, 2]], kth, f, 2) == 1.0
    assert stats.tie_tolerant_recall([[0, 1]], kth, f, 2) == 1.0


def test_recall_penalises_far_missing_and_repeated_ids():
    q = np.zeros((1, 1))
    lookup = {0: np.array([1.0]), 1: np.array([2.0]), 9: np.array([50.0])}
    kth = np.array([4.0])
    f = _dist_fn(q, lookup)
    assert stats.tie_tolerant_recall([[0, 9]], kth, f, 2) == 0.5  # 9 is too far
    assert stats.tie_tolerant_recall([[0, 77]], kth, f, 2) == 0.5  # 77 does not exist
    assert stats.tie_tolerant_recall([[0, 0]], kth, f, 2) == 0.5  # a repeat counts once


def test_knn_truth_matches_sorting():
    rng = np.random.default_rng(3)
    x = rng.normal(size=(200, 8)).astype(np.float32)
    q = rng.normal(size=(5, 8)).astype(np.float32)
    ids = np.arange(200, dtype=np.int64) * 7
    got_ids, got_d = stats.knn_truth(q, x, ids, 10)
    d = ((q[:, None, :].astype(np.float64) - x[None, :, :]) ** 2).sum(-1)
    want = np.argsort(d, axis=1, kind="stable")[:, :10]
    assert np.array_equal(got_ids, ids[want])
    assert np.allclose(got_d, np.take_along_axis(d, want, 1))


def test_recall_of_exact_answer_is_one():
    rng = np.random.default_rng(4)
    x = rng.normal(size=(300, 4))
    q = rng.normal(size=(6, 4))
    ids = np.arange(300)
    top, dist = stats.knn_truth(q, x, ids, 10)
    lookup = dict(zip(ids.tolist(), x))
    r = stats.tie_tolerant_recall([list(t) for t in top], dist[:, -1], _dist_fn(q, lookup), 10)
    assert r == 1.0


# -- span self time ------------------------------------------------------------


def test_self_time_subtracts_union_of_overlapping_children():
    # two children overlap on [2, 3]: covered = [1, 4] = 3, not 2 + 2
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)
    # children are clipped to the parent
    assert stats.self_time(0.0, 10.0, [(-5.0, 1.0), (9.0, 12.0)]) == pytest.approx(8.0)
    assert stats.self_time(0.0, 1.0, [(0.0, 1.0), (0.0, 1.0)]) == 0.0
    assert stats.union_length([]) == 0.0


def test_self_time_with_children_from_a_two_thread_pool():
    """Work a span hands to a two-thread pool runs under that span, and
    the parent's self time counts the two concurrent children once."""
    tracer = trace.Tracer()
    tracer.install_pool_inheritance()
    barrier = threading.Barrier(2, timeout=10)

    def child():
        with tracer.span("storage", "write"):
            barrier.wait()  # both children are open at the same time
            time.sleep(0.2)

    try:
        with tracer.span("operators.retrieval", "build") as parent:
            with ThreadPoolExecutor(max_workers=2) as pool:
                for f in [pool.submit(child), pool.submit(child)]:
                    f.result(timeout=10)
    finally:
        tracer.uninstall()
    kids = [s for s in tracer.spans if s.parent == parent.id]
    assert len(kids) == 2
    lo = min(k.t0 for k in kids)
    hi = max(k.t1 for k in kids)
    assert lo < min(k.t1 for k in kids)  # the children overlapped
    table = trace.layer_table(tracer.spans, {"jobs": {}, "stages": {}})
    parent_self = table["layers"]["operators.retrieval"]["self_s"]
    assert parent_self == pytest.approx((parent.t1 - parent.t0) - (hi - lo), abs=1e-6)
    # summing the children would have counted the overlap twice
    assert parent_self > (parent.t1 - parent.t0) - sum(k.t1 - k.t0 for k in kids)
    assert concurrent_submit_restored()


def concurrent_submit_restored() -> bool:
    import concurrent.futures

    return concurrent.futures.ThreadPoolExecutor.submit.__qualname__ == "ThreadPoolExecutor.submit"


def test_layer_table_attributes_jobs_and_stages_by_description():
    sp = trace.Span(id=7, parent=None, layer="indexes.flat", name="q", op="point:FLAT", t0=0.0, t1=2.0)
    events = {
        "jobs": {
            1: {"start": 0.5, "end": 1.0, "desc": "perfbench#7"},
            2: {"start": 1.0, "end": 1.5, "desc": None},
        },
        "stages": {
            3: dict(trace._new_stage(), desc="perfbench#7", tasks=4, task_s=1.5, shuffle_bytes=100),
            4: dict(trace._new_stage(), desc=None, tasks=1, task_s=9.0),
        },
    }
    tab = trace.layer_table([sp], events)
    row = tab["layers"]["indexes.flat"]
    assert (row["jobs"], row["tasks"], row["task_s"], row["shuffle_bytes"]) == (1, 4, 1.5, 100)
    assert tab["job_s_total"] == pytest.approx(1.0)
    assert tab["job_s_under_span"] == pytest.approx(0.5)
    assert tab["ops"]["point:FLAT"]["jobs"] == 1
    assert trace.driver_share([sp], trace.job_intervals(events)) == pytest.approx(0.5)


# -- input determinism ---------------------------------------------------------


def test_blobs_are_deterministic_per_seed():
    a, b = inputs.blobs(5, 500, 16, 20), inputs.blobs(5, 500, 16, 20)
    c = inputs.blobs(6, 500, 16, 20)
    for f in ("ids", "vectors", "queries", "centers"):
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert not np.array_equal(a.vectors, c.vectors)
    assert len(set(a.ids.tolist())) == 500
    assert a.vectors.dtype == np.float32 and a.centers.shape == (round(math.sqrt(500)), 16)


def test_dml_plan_is_deterministic_and_half_fresh():
    base = inputs.blobs(1, 300, 4, 1)
    p1, p2 = inputs.DmlPlan(9, base, 10), inputs.DmlPlan(9, base, 10)
    for kind in ("update", "delete", "merge", "update"):
        o1, o2 = p1.next(kind), p2.next(kind)
        assert [i for i, _ in o1.upserts] == [i for i, _ in o2.upserts]
        assert o1.deletes == o2.deletes
        if kind != "delete":
            fresh = [i for i, _ in o1.upserts if i not in p1.live]
            assert len(fresh) == 5
        p1.apply(o1)
        p2.apply(o2)
    assert p1.effective()[0].tolist() == p2.effective()[0].tolist()


def test_dml_plan_added_holds_the_latest_upserts_only():
    base = inputs.blobs(2, 100, 4, 1)
    plan = inputs.DmlPlan(3, base, 4)
    up = plan.next("update")
    plan.apply(up)
    assert set(plan.added) == {i for i, _ in up.upserts}
    gone = up.upserts[0][0]
    plan.apply(inputs.DmlOp("delete", deletes=[gone]))
    assert gone not in plan.added and gone not in plan.live
    i, v = up.upserts[1]
    assert np.array_equal(plan.added[i], v) and np.array_equal(plan.live[i], v)


def test_text_corpus_is_deterministic_and_plants_duplicates():
    a, b = inputs.text_corpus(3, 400), inputs.text_corpus(3, 400)
    assert a.texts == b.texts and a.exact_pairs == b.exact_pairs
    assert inputs.text_corpus(4, 400).texts != a.texts
    by_id = dict(zip(a.ids, a.texts))
    assert len(a.exact_pairs) == 20 and len(a.near_pairs) == 20
    for x, y in a.exact_pairs:
        assert by_id[x] == by_id[y]
    for x, y in a.near_pairs:
        j = inputs.jaccard(inputs.shingles(by_id[x]), inputs.shingles(by_id[y]))
        assert 0.5 < j < 1.0
    for d, (bi, start) in a.boilerplate_docs.items():
        toks = by_id[d].split()
        span = toks[start - 1 : start - 1 + inputs.BOILERPLATE_LEN]
        assert " ".join(span) == a.boilerplate[bi]


def test_harness_setup_time_is_counted_apart():
    from perfbench.workloads import Run

    run = Run(None, 1, 1.0, "unused")
    for _ in range(2):
        with run.harness_setup():
            time.sleep(0.02)
    assert 0.04 <= run.setup_excluded_s < 1.0


# -- BENCHMARK.json agrees with what run.py prints -------------------------------


def test_benchmark_json_matches_the_metrics_module():
    import json
    import os
    import re

    from perfbench import metrics

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == metrics.END_TO_END_UNITS
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == metrics.per_layer_names()
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [
        w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name_re.match(m["name"]) and unit_re.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    assert len(bench["per_layer"]) <= 128
