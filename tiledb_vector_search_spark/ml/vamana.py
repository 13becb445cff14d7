"""Vamana (DiskANN-family) graph kernels: build, greedy search, medoid.

Reference: ``src/include/index/vamana_index.h`` — ``medoid`` (:70-100),
graph build ``train`` (:322-412, greedy_search + robust_prune over a mutable
graph), query ``:500-560``; C++ search kernels
``detail/graph/greedy_search.h:286-491`` / ``best_first.h:136-230``.

These kernels run INSIDE a ``mapInPandas`` task on one shard of vectors
(SURVEY §7: graph ANN is sequential-iterative, fundamentally not
DataFrame-shaped; the Spark-idiomatic compromise — consistent with DiskANN's
own sharded design — is per-partition graphs built and searched locally,
with routing + merge as DataFrame ops).  Everything here is plain numpy on
matrices that fit one task comfortably (shards are IVF-partition sized).

One walk kernel serves both sides: ``greedy_walks`` advances a BATCH of
best-first walks in lockstep, one numpy step per expansion across every
row, so a shard's routed queries (and a build's insertion batch) pay the
per-step Python cost once instead of once per row.  The build inserts
vertices in doubling batches (ParlayANN's deterministic batch insertion,
Manohar et al., PPoPP 2024): each batch walks and prunes on the graph as
it stood before the batch, then adds its reverse edges grouped by target.
"""

from __future__ import annotations

import numpy as np

DEFAULT_R_MAX = 32  # max out-degree (reference R default)
DEFAULT_L_BUILD = 64  # build beam width
DEFAULT_ALPHA = 1.2  # robust-prune distance slack

# insertion batches double 1, 2, 4, ... up to this many vertices: early
# batches stay small while the graph is still mostly random edges, later
# ones amortize the per-step cost of the lockstep walk and prune
MAX_INSERT_BATCH = 64

# shards up to this size precompute the pairwise squared-distance matrix
# (float64 n² — 128 MB at 4096, the default shard target) so every build
# step's distance math is a gather; beyond it each insertion batch computes
# its own rows with one GEMM to bound task memory
PRECOMPUTE_PAIRWISE_MAX = 4096

# a query walk chunk holds (rows × shard size) distances plus two bitmaps of
# the same shape; rows per chunk are capped so a chunk stays near 32 MB
WALK_BLOCK_CELLS = 1 << 22


def medoid_index(x: np.ndarray) -> int:
    """argmin_v Σ_u ‖v−u‖² — the graph entry point (reference
    ``vamana_index.h:70-100``).  O(n²·d) via the BLAS identity; shards are
    bounded so this is a per-task micro-cost."""
    sq = np.sum(x * x, axis=1)
    # Σ_u ‖v−u‖² = n·‖v‖² + Σ‖u‖² − 2·v·Σu
    totals = len(x) * sq + sq.sum() - 2.0 * (x @ x.sum(axis=0))
    return int(np.argmin(totals))


def sq_dists(q: np.ndarray, x: np.ndarray, x_sq: np.ndarray) -> np.ndarray:
    """(len(q), len(x)) squared L2 distances via the BLAS identity.

    Clamped at 0: the identity rounds exact matches to ~-1e-16, and the L2
    surface applies sqrt downstream — an unclamped negative becomes NaN,
    which Spark sorts LAST, dropping the true nearest neighbour from top-k
    on self-retrieval."""
    q_sq = np.einsum("ij,ij->i", q, q)
    d = x_sq[None, :] - 2.0 * (q @ x.T) + q_sq[:, None]
    np.maximum(d, 0.0, out=d)
    return d


def adjacency_from_ids(
    ids: np.ndarray, neighbors
) -> tuple[np.ndarray, np.ndarray]:
    """Stored neighbour-id lists → positional (padded adjacency, degrees).

    ``neighbors`` holds one id sequence per row of ``ids``.  Neighbours
    outside ``ids`` (rows a delete or a shard split removed) are dropped;
    the surviving ones keep their stored order."""
    n = len(ids)
    lens = np.fromiter(map(len, neighbors), dtype=np.int64, count=n)
    flat = (
        np.concatenate([np.asarray(a, dtype=np.int64) for a in neighbors])
        if lens.sum()
        else np.empty(0, dtype=np.int64)
    )
    order = np.argsort(ids, kind="stable")
    sids = ids[order]
    at = np.minimum(np.searchsorted(sids, flat), max(n - 1, 0))
    found = sids[at] == flat if n else np.zeros(len(flat), dtype=bool)
    row = np.repeat(np.arange(n), lens)[found]
    deg = np.bincount(row, minlength=n).astype(np.int64)
    pad = np.full((n, int(deg.max()) if n else 0), -1, dtype=np.int64)
    # rows ascend, so boolean-mask assignment fills each row in list order
    pad[np.arange(pad.shape[1])[None, :] < deg[:, None]] = order[at[found]]
    return pad, deg


def medoid_position(ids: np.ndarray, med_id: int | None) -> int:
    """Row of the stored medoid id in a shard; row 0 when the medoid is
    unknown or no longer in the shard."""
    at = np.flatnonzero(ids == med_id) if med_id is not None else []
    return int(at[0]) if len(at) else 0


def greedy_walks(
    adj: np.ndarray,
    deg: np.ndarray,
    entry: int,
    dq: np.ndarray,
    l_size: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Best-first walks for a batch of queries, advanced in lockstep.

    Row ``r`` walks the graph ``(adj, deg)`` (padded adjacency, degrees)
    from ``entry`` with ``dq[r]`` as its distance to every vertex.  Returns
    (ids, dists), each ``(rows, steps)``: every VISITED vertex (the
    robust-prune candidate pool), sorted by (distance, expansion order) and
    padded with -1 / inf where a row finished early.

    Per row this is exactly the reference ``greedy_search``
    (``greedy_search.h:286-491``): keep a beam of the best ``l_size``
    vertices and repeatedly expand the closest unexpanded one.  The beam is
    held SORTED by (distance, insertion order) — a stable argsort of
    ``[old beam | new neighbours]`` — so "first unexpanded slot" is the
    reference's first-minimum scan and "keep the first ``l_size`` slots" is
    its positional trim.  Membership and expansion are per-(row, vertex)
    bitmaps; a trimmed-then-re-added vertex that was already expanded stays
    expanded, so no vertex is visited twice.  Each step gathers only the
    first ``deg.max()`` adjacency columns of the vertices it expands.
    """
    b, n = dq.shape
    # beam slots hold FLAT (row * n + vertex) indices into the per-row
    # bitmaps and distance rows, so one np.take gathers for every row at
    # once; a row's flat base never changes, so finished rows simply drop
    # out of the (active rows × l_size) beam.  Empty slots are (row base,
    # inf): the infinite distance, not the index, marks them.
    dq = np.ascontiguousarray(dq).reshape(-1)
    rows = np.arange(b)
    base = rows[:, None] * n
    bf = np.repeat(base, l_size, axis=1)
    bf[:, 0] += entry
    bd = np.full((b, l_size), np.inf)
    bd[:, 0] = dq.take(bf[:, 0])
    in_beam = np.zeros(b * n, dtype=bool)
    in_beam[bf[:, 0]] = True
    expanded = np.zeros(b * n, dtype=bool)
    steps: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    while rows.size:
        open_ = np.isfinite(bd) & ~expanded.take(bf)
        live = open_.any(axis=1)
        if not live.all():
            rows, base, bf, bd, open_ = (
                rows[live], base[live], bf[live], bd[live], open_[live]
            )
            if not rows.size:
                break
        r = np.arange(rows.size)
        slot = open_.argmax(axis=1)
        vf, vd = bf[r, slot], bd[r, slot]
        expanded[vf] = True
        v = vf - base[:, 0]
        steps.append((rows, v, vd))
        dv = deg[v]
        w = int(dv.max())
        ok = np.arange(w)[None, :] < dv[:, None]
        nb = base + np.where(ok, adj[v, :w], 0)
        ok &= ~in_beam.take(nb)
        in_beam[nb[ok]] = True
        cat_f = np.concatenate([bf, nb], axis=1)
        cat_d = np.concatenate([bd, np.where(ok, dq.take(nb), np.inf)], axis=1)
        order = np.argsort(cat_d, axis=1, kind="stable")
        order += (r * cat_d.shape[1])[:, None]
        bf = cat_f.take(order[:, :l_size])
        bd = cat_d.take(order[:, :l_size])
        dropped = order[:, l_size:]
        in_beam[cat_f.take(dropped)[np.isfinite(cat_d.take(dropped))]] = False
    # visits as (rows, steps), sorted by (distance, expansion order)
    vi = np.full((b, len(steps)), -1, dtype=np.int64)
    vd = np.full((b, len(steps)), np.inf)
    for t, (rr, v, d) in enumerate(steps):
        vi[rr, t] = v
        vd[rr, t] = d
    order = np.argsort(vd, axis=1, kind="stable")
    return np.take_along_axis(vi, order, axis=1), np.take_along_axis(vd, order, axis=1)


def _robust_prune(
    x: np.ndarray,
    p: int,
    candidates: np.ndarray,
    alpha: float,
    r_max: int,
    dmat: np.ndarray | None = None,
) -> np.ndarray:
    """Diversity-preserving neighbor selection (reference ``robust_prune``,
    ``vamana_index.h`` build path): greedily keep the closest candidate,
    drop any other candidate that is α-dominated by it.  ``dmat``: the
    shard's precomputed pairwise squared-distance matrix (build path) —
    distance math becomes gathers.  The build prunes through
    ``_robust_prune_batch``."""
    cand = np.asarray(candidates, dtype=np.int64)
    cand = cand[cand != p]
    if cand.size == 0:
        return np.empty(0, dtype=np.int64)
    if dmat is None:
        diff = x[cand] - x[p]
        cd = np.einsum("ij,ij->i", diff, diff)
    else:
        cd = dmat[p, cand]
    order = np.argsort(cd, kind="stable")
    cand = cand[order]
    cd = cd[order]
    c = cand.size
    # candidate×candidate distances up front (one gather / one small GEMM):
    # the domination loop is then ONE vectorized mask op per kept point
    if dmat is None:
        cx = x[cand]
        csq = np.einsum("ij,ij->i", cx, cx)
        cc = csq[:, None] + csq[None, :] - 2.0 * (cx @ cx.T)
    else:
        cc = dmat[np.ix_(cand, cand)]
    alive = np.ones(c, dtype=bool)
    out_mask = np.zeros(c, dtype=bool)
    kept = 0
    for i in range(c):
        if not alive[i]:
            continue
        out_mask[i] = True
        kept += 1
        if kept >= r_max:
            break
        # keep only candidates NOT α-dominated by the newly kept point
        # (cc[i, i] = 0 retires i itself; dead entries stay dead)
        alive &= alpha * cc[i] > cd
    return cand[out_mask]


def _robust_prune_batch(
    x: np.ndarray,
    points: np.ndarray,
    candidates: list[np.ndarray],
    alpha: float,
    r_max: int,
    dmat: np.ndarray | None = None,
) -> list[np.ndarray]:
    """``_robust_prune`` for many points at once, bit-identical per point.

    With a ``dmat``, candidate lists are padded into one matrix and
    stable-sorted by distance (self and padding sort last as dead
    entries); the greedy loop then walks candidate COLUMNS, keeping column
    ``i`` in every row where it is still alive, and gathers only that
    column's distance row ``dmat[cand[:, i], cand]`` for the rows that keep
    going — the same float comparisons ``alpha * cc[i] > cd`` the one-point
    form makes.  Without one (shards past ``PRECOMPUTE_PAIRWISE_MAX``) each
    point runs the one-point form."""
    if dmat is None:
        return [
            _robust_prune(x, int(p), c, alpha, r_max)
            for p, c in zip(points, candidates)
        ]
    p = np.asarray(points, dtype=np.int64)
    lens = np.fromiter((len(c) for c in candidates), dtype=np.int64, count=len(p))
    width = int(lens.max()) if len(p) else 0
    if width == 0:
        return [np.empty(0, dtype=np.int64) for _ in p]
    cand = np.full((len(p), width), -1, dtype=np.int64)
    cand[np.arange(width)[None, :] < lens[:, None]] = np.concatenate(candidates)
    alive = (cand >= 0) & (cand != p[:, None])
    cand = np.where(alive, cand, 0)
    cd = np.where(alive, dmat[p[:, None], cand], np.inf)
    order = np.argsort(cd, axis=1, kind="stable")
    cand = np.take_along_axis(cand, order, axis=1)
    cd = np.take_along_axis(cd, order, axis=1)
    alive = np.take_along_axis(alive, order, axis=1)
    n = dmat.shape[1]
    flat = dmat.reshape(-1)
    keep = np.zeros_like(alive)
    kept = np.zeros(len(p), dtype=np.int64)
    done = ~alive.any(axis=1)
    for i in range(width):
        sel = alive[:, i] & ~done
        if not sel.any():
            if done.all():
                break
            continue
        keep[sel, i] = True
        kept += sel
        done |= kept >= r_max
        go = np.flatnonzero(sel & ~done)
        if go.size:
            cg = cand[go]
            cc = flat.take(cg[:, i : i + 1] * n + cg)
            alive[go] &= alpha * cc > cd[go]
    return [cand[r][keep[r]] for r in range(len(p))]


def build_vamana_graph(
    x: np.ndarray,
    r_max: int = DEFAULT_R_MAX,
    l_build: int = DEFAULT_L_BUILD,
    alpha: float = DEFAULT_ALPHA,
    seed: int = 42,
) -> tuple[list[np.ndarray], int]:
    """Build the graph for one shard: returns (adjacency lists, medoid).

    Reference ``train`` (``vamana_index.h:322-412``): random initial graph,
    then greedy_search + robust_prune per vertex with reverse edges.  The
    vertices are inserted in seeded-permutation order in batches of
    1, 2, 4, … up to ``MAX_INSERT_BATCH`` (deterministic batch insertion,
    ParlayANN): one batch walks all of its vertices in lockstep on the
    graph as it stood before the batch, prunes each walk's visited set
    with its old edges, then adds the reverse edges grouped by target.
    A target re-prunes once per batch, and only when its degree overflows
    the slack bound (DiskANN's slack-bound insert); the final pass
    restores the strict ``r_max`` bound.  Same input and seed, same graph.
    """
    n = len(x)
    # degenerate shards happen naturally (a tiny k-means cell, a 1-row
    # corpus, post-delete consolidation) — guard BEFORE the random init,
    # whose rng.choice(n - 1 = 0, ...) would raise
    if n == 1:
        return [np.empty(0, dtype=np.int64)], 0
    rng = np.random.default_rng(seed)
    d0 = min(r_max, max(1, n - 1))
    # a reverse edge only triggers a re-prune once the degree overflows
    # slack·r_max, cutting prune calls on the build's hottest path
    slack = int(1.5 * r_max)
    adj = np.full((n, max(slack, d0)), -1, dtype=np.int64)
    for i in range(n):
        nbrs = rng.choice(n - 1, size=d0, replace=False)
        adj[i, :d0] = nbrs + (nbrs >= i)  # skip self
    deg = np.full(n, d0, dtype=np.int64)
    med = medoid_index(x)
    x_sq = np.einsum("ij,ij->i", x, x)
    dmat = None
    if n <= PRECOMPUTE_PAIRWISE_MAX:
        dmat = x_sq[:, None] + x_sq[None, :] - 2.0 * (x @ x.T)
        np.maximum(dmat, 0.0, out=dmat)
    perm = rng.permutation(n)
    start, size = 0, 1
    while start < n:
        pts = perm[start : start + size]
        start += len(pts)
        size = min(2 * size, MAX_INSERT_BATCH)
        dq = dmat[pts] if dmat is not None else sq_dists(x[pts], x, x_sq)
        visited, _ = greedy_walks(adj, deg, med, dq, l_build)
        pools = [
            np.union1d(visited[r][visited[r] >= 0], adj[p, : deg[p]])
            for r, p in enumerate(pts)
        ]
        new = _robust_prune_batch(x, pts, pools, alpha, r_max, dmat)
        for p, a in zip(pts, new):
            adj[p, : len(a)] = a
            deg[p] = len(a)
        # reverse edges: (target, source) pairs, sources in batch order
        src = np.repeat(pts, [len(a) for a in new])
        tgt = np.concatenate(new) if len(src) else src
        cols = np.arange(adj.shape[1])[None, :] < deg[tgt][:, None]
        fresh = ~((adj[tgt] == src[:, None]) & cols).any(axis=1)
        src, tgt = src[fresh], tgt[fresh]
        by_t = np.argsort(tgt, kind="stable")
        src, tgt = src[by_t], tgt[by_t]
        targets, first, count = np.unique(tgt, return_index=True, return_counts=True)
        over = deg[targets] + count > slack
        fit = np.flatnonzero(~over[np.repeat(np.arange(len(targets)), count)])
        rank = np.arange(len(tgt)) - np.repeat(first, count)
        adj[tgt[fit], deg[tgt[fit]] + rank[fit]] = src[fit]
        deg[targets[~over]] += count[~over]
        hot = np.flatnonzero(over)
        if hot.size:
            merged = [
                np.concatenate(
                    [adj[targets[h], : deg[targets[h]]],
                     src[first[h] : first[h] + count[h]]]
                )
                for h in hot
            ]
            for t, a in zip(
                targets[hot],
                _robust_prune_batch(x, targets[hot], merged, alpha, r_max, dmat),
            ):
                adj[t, : len(a)] = a
                deg[t] = len(a)
    big = np.flatnonzero(deg > r_max)
    if big.size:
        lists = [adj[j, : deg[j]] for j in big]
        for j, a in zip(big, _robust_prune_batch(x, big, lists, alpha, r_max, dmat)):
            adj[j, : len(a)] = a
            deg[j] = len(a)
    return [adj[i, : deg[i]].copy() for i in range(n)], med


def search_vamana_graph(
    x: np.ndarray,
    adj: np.ndarray,
    deg: np.ndarray,
    med: int,
    queries: np.ndarray,
    k: int,
    l_search: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (positions, squared distances) for a batch of queries, each
    ``(len(queries), k)`` padded with -1 / inf where the walk visited fewer
    than ``k`` vertices (reference ``query`` → ``best_first.h``).

    ``(adj, deg)`` is the padded adjacency (``adjacency_from_ids``).
    Queries walk in lockstep, in chunks whose query×shard distance block
    (one GEMM) stays near ``WALK_BLOCK_CELLS``.
    """
    q = queries
    out_i = np.full((len(q), k), -1, dtype=np.int64)
    out_d = np.full((len(q), k), np.inf)
    x_sq = np.einsum("ij,ij->i", x, x)
    step = max(1, WALK_BLOCK_CELLS // max(len(x), 1))
    for s in range(0, len(q), step):
        dq = sq_dists(q[s : s + step], x, x_sq)
        vi, vd = greedy_walks(adj, deg, med, dq, max(l_search, k))
        m = min(k, vi.shape[1])
        out_i[s : s + step, :m] = vi[:, :m]
        out_d[s : s + step, :m] = vd[:, :m]
    return out_i, out_d
