"""``text_dedup_bm25``: shuffle-heavy text work over one Parquet file.

Set-up writes the generated corpus as a single Parquet file, as the
repository's fixtures are, and builds a ``BM25Index`` over it.  The loop
rotates BM25 query batches, ``add_documents`` batches, and full
``minhash_dedup`` and ``duplicate_spans`` passes over the corpus.  The
harness adds no repartition: how the operators spread a one-file input
is part of what is measured.
"""

from __future__ import annotations

import math
import os
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.workloads import CheckFailed, Run

SIZES = {"docs": 1000, "add_docs": 50, "add_batches": 16, "nq": 16, "query_tokens": 8}
K = 10
K1, B = 1.2, 0.75
MINHASH = {"num_perm": 64, "bands": 16, "threshold": 0.8}
SPAN_N = 8


class Bm25Oracle:
    """Exact BM25 in plain Python with the library's stated formula:
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)), score = sum over distinct
    query terms of round(idf * tf_sat, 9), reported rounded to 6."""

    def __init__(self):
        self.postings: dict[str, list[tuple[int, int]]] = {}
        self.dl: dict[int, int] = {}

    def add(self, ids, texts) -> None:
        for i, t in zip(ids, texts):
            toks = t.split()
            self.dl[i] = len(toks)
            for term, tf in Counter(toks).items():
                self.postings.setdefault(term, []).append((i, tf))

    def scores(self, query: str) -> dict[int, float]:
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / n
        acc: dict[int, int] = {}
        for term in set(query.split()):
            post = self.postings.get(term, [])
            df = len(post)
            if not df:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for doc, tf in post:
                sat = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * self.dl[doc] / avgdl))
                acc[doc] = acc.get(doc, 0) + int(round(round(idf * sat, 9) * 1e9))
        return {d: round(v / 1e9, 6) for d, v in acc.items()}


def _check_n_docs(got: int, want: int) -> None:
    if got != want:
        raise CheckFailed(f"n_docs {got} != {want}")


def write_docs(path: str, ids, texts) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        os.path.join(path, "part-0.parquet"),
    )


def text_dedup_bm25(run: Run) -> None:
    from tiledb_vector_search_spark.operators import dedup, retrieval
    from tiledb_vector_search_spark.session import small_df

    z = SIZES
    spark = run.spark
    phase = run.phases()
    with run.harness_setup():
        corpus = inputs.text_corpus(run.seed, z["docs"])
        extra = inputs.text_corpus(
            run.seed, z["add_docs"] * z["add_batches"], first_id=z["docs"],
            dup_share=0.0, near_share=0.0, boiler_share=0.0, salt=7,
        )
        write_docs(run.path("docs"), corpus.ids, corpus.texts)
        oracle = Bm25Oracle()
        oracle.add(corpus.ids, corpus.texts)
        rng = np.random.default_rng([run.seed, 8])
        by_id = dict(zip(corpus.ids, corpus.texts))
    docs = spark.read.parquet(run.path("docs"))
    phase("inputs")
    # the set-up build is timed as an operation too: it is the workload's
    # one build sample
    bm25 = run.op(
        "bm25_build", "operators.retrieval",
        lambda: retrieval.BM25Index.build(spark, run.path("bm25"), docs),
        lambda idx: _check_n_docs(idx.n_docs, len(corpus.ids)),
        items=len(corpus.ids),
    )
    if bm25 is None:
        raise RuntimeError("BM25Index.build failed; the workload cannot run")
    phase("bm25_build")

    recalls: list[float] = []
    added = [0]
    qn = [0]

    def bm25_query(kind: str = "bm25_query"):
        texts = []
        for _ in range(z["nq"]):
            words = corpus.texts[int(rng.integers(0, len(corpus.texts)))].split()
            s = int(rng.integers(0, max(1, len(words) - z["query_tokens"])))
            texts.append(" ".join(words[s : s + z["query_tokens"]]))
        rows = [(qn[0] + j, t) for j, t in enumerate(texts)]
        qn[0] += len(rows)

        def call():
            q = small_df(spark, rows, "query_id long, query_text string")
            return bm25.query(q, k=K).collect()

        def check(res):
            got: dict[int, list[tuple[int, float]]] = {}
            for r in res:
                got.setdefault(int(r.query_id), []).append((int(r.rank), int(r.doc_id), float(r.score)))
            hits = 0
            for qid, text in rows:
                sc = oracle.scores(text)
                want = sorted(sc.items(), key=lambda x: (-x[1], x[0]))[:K]
                lst = [(d, s) for _, d, s in sorted(got.get(qid, []))]
                if len(lst) != len(want):
                    raise CheckFailed(f"query {qid}: {len(lst)} results, expected {len(want)}")
                for d, s in lst:
                    if abs(sc.get(d, -1.0) - s) > 2e-6:
                        raise CheckFailed(f"query {qid}: doc {d} score {s} != {sc.get(d)}")
                kth = want[-1][1] if want else 0.0
                hits += sum(1 for d, _ in lst if sc.get(d, -1.0) >= kth - 2e-6) / max(1, len(want))
            recalls.append(hits / len(rows))

        run.op(kind, "operators.retrieval", call, check, items=len(rows))

    def bm25_add():
        if added[0] >= z["add_batches"]:
            raise RuntimeError("add batches exhausted; raise SIZES['add_batches']")
        lo = added[0] * z["add_docs"]
        ids = extra.ids[lo : lo + z["add_docs"]]
        texts = extra.texts[lo : lo + z["add_docs"]]
        added[0] += 1

        def call():
            bm25.add_documents(small_df(spark, list(zip(ids, texts)), "doc_id long, text string"))
            return bm25.n_docs

        def check(n_docs):
            oracle.add(ids, texts)
            _check_n_docs(n_docs, len(oracle.dl))

        run.op("bm25_add_docs", "operators.retrieval", call, check, items=len(ids))

    def minhash():
        def call():
            return dedup.minhash_dedup(docs, **MINHASH).collect()

        def check(rows):
            seen = {}
            for r in rows:
                a, b = int(r.id_a), int(r.id_b)
                exact = round(inputs.jaccard(inputs.shingles(by_id[a]), inputs.shingles(by_id[b])), 6)
                if abs(exact - float(r.jaccard)) > 1e-6:
                    raise CheckFailed(f"pair ({a},{b}) jaccard {r.jaccard} != exact {exact}")
                seen[(min(a, b), max(a, b))] = float(r.jaccard)
            for a, b in corpus.exact_pairs:
                if seen.get((min(a, b), max(a, b))) != 1.0:
                    raise CheckFailed(f"planted exact duplicate ({a},{b}) not reported at 1.0")

        run.op("minhash_dedup", "operators.dedup", call, check, items=len(corpus.ids))

    def spans():
        def call():
            return dedup.duplicate_spans(docs, n=SPAN_N, min_docs=2).collect()

        def check(rows):
            by_doc: dict[int, list[tuple[int, int]]] = {}
            for r in rows:
                by_doc.setdefault(int(r.doc_id), []).append((int(r.span_start), int(r.span_end)))
            users = Counter(b for b, _ in corpus.boilerplate_docs.values())
            for d, (b, start) in corpus.boilerplate_docs.items():
                if users[b] < 2:
                    continue  # a span in one document is not a duplicate
                end = start + inputs.BOILERPLATE_LEN - 1
                if not any(s <= start and e >= end for s, e in by_doc.get(d, [])):
                    raise CheckFailed(f"doc {d}: shared span [{start},{end}] not reported")
            for a, b in corpus.exact_pairs:
                n = len(by_id[b].split())
                if not any(s <= 1 and e >= n for s, e in by_doc.get(b, [])):
                    raise CheckFailed(f"doc {b}: exact duplicate not covered end to end")

        run.op("duplicate_spans", "operators.dedup", call, check, items=len(corpus.ids))

    # the first query of the new index fills its caches once; it is its
    # own kind, outside the p50
    bm25_query("bm25_first_query")
    phase("first_query")
    run.loop_t0 = time.perf_counter()
    while True:
        bm25_query()
        bm25_add()
        minhash()
        bm25_query()
        bm25_add()
        spans()
        if run.expired():
            break
    run.loop_t1 = time.perf_counter()
    if recalls:
        run.values["recall_at_10"] = min(recalls)
    run.values["dedup_docs"] = len(corpus.ids) * (
        len(run.samples.get("minhash_dedup", [])) + len(run.samples.get("duplicate_spans", []))
    )
