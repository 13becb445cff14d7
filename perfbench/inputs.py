"""Seeded input generation.  The same ``(seed, size)`` always yields the
same arrays and the same text, byte for byte; the library under test only
ever sees the generated files.

- ``blobs``: Gaussian-blob corpus with about sqrt(n) centres (FIXTURES
  §1/§2), held-out queries from the same distribution.
- ``DmlPlan``: update / delete / merge batches, half overwriting ids
  that exist and half fresh (FIXTURES §4).
- ``text_corpus``: Zipf-vocabulary documents with planted exact and near
  duplicates and shared boilerplate spans (FIXTURES §6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

CENTER_BOX = 10.0  # blob centres uniform in [-10, 10]^d, std 1 (make_blobs)


@dataclass
class Blobs:
    ids: np.ndarray  # int64 (n,)
    vectors: np.ndarray  # float32 (n, d)
    queries: np.ndarray  # float32 (nq, d), held out of the corpus
    centers: np.ndarray


def blobs(seed: int, n: int, d: int, nq: int) -> Blobs:
    rng = np.random.default_rng([seed, 1])
    c = max(1, int(round(np.sqrt(n))))
    centers = rng.uniform(-CENTER_BOX, CENTER_BOX, (c, d))
    lab = rng.integers(0, c, n + nq)
    pts = (centers[lab] + rng.normal(0.0, 1.0, (n + nq, d))).astype(np.float32)
    # ids are a permutation of a gapped range, so ids never equal row
    # positions and the index must carry them through
    ids = (rng.permutation(n).astype(np.int64) * 3 + 7)
    return Blobs(ids=ids, vectors=pts[:n], queries=pts[n:], centers=centers)


def blob_points(rng: np.random.Generator, centers: np.ndarray, m: int) -> np.ndarray:
    lab = rng.integers(0, len(centers), m)
    d = centers.shape[1]
    return (centers[lab] + rng.normal(0.0, 1.0, (m, d))).astype(np.float32)


@dataclass
class DmlOp:
    kind: str  # "update" | "delete" | "merge"
    upserts: list[tuple[int, np.ndarray]] = field(default_factory=list)
    deletes: list[int] = field(default_factory=list)


class DmlPlan:
    """Generates DML batches against a live id set, deterministically.

    Each batch holds ``rows`` ids: half drawn from ids that exist now,
    half fresh (never used before).  Deletes name existing ids for the
    first half and never-existing ids for the second, which the index
    must accept as no-ops.  ``apply`` keeps the effective vector set the
    benchmark's truth is computed over, and ``added``: the ids whose
    latest write is an upsert, with their new vectors."""

    def __init__(self, seed: int, base: Blobs, rows: int):
        self.rng = np.random.default_rng([seed, 4])
        self.centers = base.centers
        self.rows = rows
        self.live: dict[int, np.ndarray] = {
            int(i): v for i, v in zip(base.ids, base.vectors)
        }
        self.added: dict[int, np.ndarray] = {}
        self.next_fresh = int(base.ids.max()) + 1

    def _existing(self, m: int) -> list[int]:
        keys = np.fromiter(self.live.keys(), dtype=np.int64, count=len(self.live))
        keys.sort()
        return [int(x) for x in self.rng.choice(keys, m, replace=False)]

    def _fresh(self, m: int) -> list[int]:
        out = list(range(self.next_fresh, self.next_fresh + m))
        self.next_fresh += m
        return out

    def next(self, kind: str) -> DmlOp:
        half = self.rows // 2
        if kind == "delete":
            return DmlOp(kind, deletes=self._existing(half) + self._fresh(self.rows - half))
        ids = self._existing(half) + self._fresh(self.rows - half)
        vecs = blob_points(self.rng, self.centers, len(ids))
        op = DmlOp(kind, upserts=list(zip(ids, vecs)))
        if kind == "merge":
            # a fifth of a merge batch is tombstones for other live ids
            taken = set(ids)
            cand = [i for i in self._existing(self.rows) if i not in taken]
            op.deletes = cand[: max(1, self.rows // 5)]
        return op

    def apply(self, op: DmlOp) -> None:
        for i in op.deletes:
            self.live.pop(i, None)
            self.added.pop(i, None)
        for i, v in op.upserts:
            self.live[i] = v
            self.added[i] = v

    def effective(self) -> tuple[np.ndarray, np.ndarray]:
        ids = np.fromiter(self.live.keys(), dtype=np.int64, count=len(self.live))
        ids.sort()
        return ids, np.stack([self.live[int(i)] for i in ids])


# -- text ---------------------------------------------------------------------

BOILERPLATE_LEN = 24  # tokens per shared span; ≥ duplicate_spans' n
N_BOILER = 4  # distinct shared spans
VOCAB = 20000
MIN_TOKENS, MAX_TOKENS = 50, 500
ZIPF_A = 1.1


@dataclass
class TextCorpus:
    ids: list[int]
    texts: list[str]
    exact_pairs: list[tuple[int, int]]  # (original id, copy id)
    near_pairs: list[tuple[int, int]]
    boilerplate: list[str]  # the planted shared spans
    # doc id -> (index of its span, 1-based position of the span's first token)
    boilerplate_docs: dict[int, tuple[int, int]]


def _words(rng: np.random.Generator, m: int) -> list[str]:
    r = rng.zipf(ZIPF_A, m)
    r = np.where(r > VOCAB, rng.integers(1, VOCAB + 1, m), r)
    return [f"w{int(x)}" for x in r]


def text_corpus(
    seed: int,
    n_docs: int,
    first_id: int = 0,
    dup_share: float = 0.05,
    near_share: float = 0.05,
    boiler_share: float = 0.10,
    salt: int = 6,
) -> TextCorpus:
    """Documents of 50-500 Zipf-distributed tokens.

    Of ``n_docs``: ``dup_share`` are exact copies of an earlier document,
    ``near_share`` are copies with 2% of tokens replaced, and
    ``boiler_share`` of the originals carry one of ``N_BOILER`` shared
    spans spliced into the middle."""
    rng = np.random.default_rng([seed, salt])
    n_dup = int(n_docs * dup_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_dup - n_near
    boiler = [" ".join(f"bp{b}x{j}" for j in range(BOILERPLATE_LEN)) for b in range(N_BOILER)]
    ids = list(range(first_id, first_id + n_docs))
    texts: list[str] = []
    bdocs: dict[int, tuple[int, int]] = {}
    for j in range(n_orig):
        m = int(rng.integers(MIN_TOKENS, MAX_TOKENS + 1))
        words = _words(rng, m)
        if rng.random() < boiler_share:
            b = int(rng.integers(0, N_BOILER))
            cut = m // 2
            words = words[:cut] + boiler[b].split() + words[cut:]
            bdocs[ids[j]] = (b, cut + 1)
        texts.append(" ".join(words))
    exact, near = [], []
    for j in range(n_dup):
        src = int(rng.integers(0, n_orig))
        texts.append(texts[src])
        exact.append((ids[src], ids[n_orig + j]))
        if ids[src] in bdocs:
            bdocs[ids[n_orig + j]] = bdocs[ids[src]]
    for j in range(n_near):
        src = int(rng.integers(0, n_orig))
        words = texts[src].split()
        m = len(words)
        swap = rng.choice(m, max(1, m // 50), replace=False)
        fresh = _words(rng, len(swap))
        for p, w in zip(swap, fresh):
            words[int(p)] = "n" + w  # a token no original document uses
        texts.append(" ".join(words))
        near.append((ids[src], ids[n_orig + n_dup + j]))
    return TextCorpus(ids, texts, exact, near, boiler, bdocs)


def shingles(text: str, n: int = 3) -> set[str]:
    """The distinct word n-grams ``operators.dedup`` compares (the corpus
    is already normalized: lower-case words, single spaces)."""
    t = text.split()
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)
