"""Physical-plan hygiene over the query registry — the 100 TB guardrails.

Asserts, for every cheap-to-plan registry entry, that the executed plan
contains no Cartesian product and no row-at-a-time Python UDF
(``BatchEvalPython``).  Arrow-batched ``mapInPandas`` stages
(``MapInPandas``/``ArrowEvalPython``) are the sanctioned Python path.

Bounded-by-construction exceptions are whitelisted explicitly so any NEW
all-pairs plan fails review here instead of at 100 TB.
"""

import pytest

from tiledb_vector_search_spark.operators import dedup as DD
from tiledb_vector_search_spark.queries import FULL_REGISTRY as REGISTRY
from tiledb_vector_search_spark.queries import _neardup_vecs, _t

# The dedup pipelines eagerly checkpoint their verified result (to release
# persisted intermediates), which collapses the registry entry's visible
# plan to an RDD scan.  Rebuild those entries with ``materialize=False``
# so THIS test keeps inspecting the real lazy plan.
LAZY_VARIANTS = {
    "dedup_minhash_lsh": lambda spark, sf: DD.minhash_dedup(
        _t(spark, sf, "documents"),
        num_perm=32,
        bands=8,
        threshold=0.9,
        materialize=False,
    ),
    "dedup_ngram_jaccard": lambda spark, sf: DD.ngram_jaccard_dedup(
        _t(spark, sf, "documents"), threshold=0.8, materialize=False
    ),
    "embedding_neardup_cosine": lambda spark, sf: DD.embedding_near_duplicates_lsh(
        _neardup_vecs(spark, sf), threshold=0.99, materialize=False
    ),
    # connected_components' own labels are localCheckpoint'd per round by
    # design; inspecting its input pairs' lazy plan covers the dedup side
    "dedup_connected_components": lambda spark, sf: DD.ngram_jaccard_dedup(
        _t(spark, sf, "documents"), threshold=0.8, materialize=False
    ),
    "bm25_ranked_retrieval": lambda spark, sf: _bm25_lazy(spark, sf),
    "hybrid_rrf_retrieval": lambda spark, sf: _hybrid_lazy(spark, sf),
    # r11: duplicate_spans gained the same materialize-and-release
    # discipline (grams persisted across its two consumers)
    "dedup_duplicate_spans": lambda spark, sf: _spans_lazy(spark, sf),
    "dedup_strip_spans": lambda spark, sf: _spans_lazy(spark, sf),
}


def _spans_lazy(spark, sf):
    from pyspark.sql import functions as F

    d = _t(spark, sf, "documents").where("doc_id < 200")
    planted = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60),
            F.lit(" common shared segment phrase here right now "),
            F.substring("text", 61, 60),
        ).alias("text"),
    )
    return DD.duplicate_spans(planted, n=4, min_docs=2, materialize=False)


def _bm25_queries(spark, sf, n):
    from pyspark.sql import functions as F

    d = _t(spark, sf, "documents")
    return d, d.where(f"doc_id < {n}").select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )


def _bm25_lazy(spark, sf):
    from tiledb_vector_search_spark.operators.retrieval import bm25_topk

    d, q = _bm25_queries(spark, sf, 10)
    return bm25_topk(d, q, k=10, materialize=False)


def _hybrid_lazy(spark, sf):
    from pyspark.sql import functions as F

    from tiledb_vector_search_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )

    d, q = _bm25_queries(spark, sf, 5)
    bm = bm25_topk(d, q, k=10, materialize=False).select(
        "query_id", "doc_id", "rank"
    )
    js = DD.jaccard_topk_sparse(d, query_ids=range(5), k=10).select(
        F.col("query_doc").alias("query_id"),
        F.col("similar_doc").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([bm, js], k=5)

# Entries whose plan legitimately contains a cartesian/nested-loop join,
# each bounded by construction:
#   knn_flat_* / doc_similarity_topk / range_search_l2 — a SMALL query set
#     against the corpus (the brute-force baseline contract; the scale path
#     is the IVF/LSH variants)
#   ann_recall_at_k — exhaustive ground truth for 10 queries
#   embedding_neardup_cosine — the within-bucket all-pairs VERIFIER on a
#     bounded candidate set (scale path: hyperplane-LSH banding)
ALLOWED_CARTESIAN = {
    "knn_flat_l2",
    "knn_flat_cosine",
    "knn_flat_ip",
    "range_search_l2",
    "ann_recall_at_k",
    "embedding_neardup_cosine",
    # doc_similarity_topk no longer needs the whitelist: round 3 replaced
    # its bounded crossJoin with the inverted-index sparse-Jaccard plan
}

# BroadcastNestedLoopJoin with a tiny broadcast side is the
# vectors × centroids scoring pattern — O(n·k) with k ≤ partitions,
# linear in the big side; the right plan at any scale.
ALLOWED_BROADCAST_NLJ = {
    "centroid_assign",
    "ivf_probe_routing",
    "ivf_partition_search",
    "medoid_exact",
    # corpus-total scalar (one broadcast row) joined onto the vocab —
    # O(|vocab|) work, constant at any corpus scale
    "unigram_logprob_score",
    # (N, avgdl) scalar (one broadcast row) joined onto the matched
    # postings — same shape as unigram_logprob_score
    "bm25_ranked_retrieval",
    # constant-size centroid table (≤10k rows) broadcast for routing —
    # same shape as centroid_assign / ivf_partition_search
    "embedding_knn_join",
    # the same knn_join routing crossJoin (train rows × the eval-trained
    # centroid broadcast) — the corpus side streams, the broadcast side
    # is bounded by the tiny eval set's partition count
    "embedding_decontaminate",
    # contains the bm25 branch and its one-row (N, avgdl) broadcast
    "hybrid_rrf_retrieval",
}

# Entries that build an index (or run a full recall harness) as a side
# effect — planning them is minutes, and their plans are already asserted
# by dedicated tests (partition pruning, code-column projection).
_INDEX_BACKED = {
    "flat_index_lifecycle",
    "ivf_index_recall",
    "ivf_index_recall_gate",
    "ivf_pq_index_recall",
    "ivf_pq_index_recall_gate",
    "vamana_index_recall",
    "vamana_index_recall_gate",
    # r11 split twins: build + split-fold an index (and the Vamana gate
    # runs the same recall harness as vamana_index_recall_gate, whose
    # brute-force truth join is the allowed bounded-query-side NLJ)
    "ivf_pq_split_rebalanced_search",
    "vamana_split_recall_gate",
    "pq_adc_rerank",
    "object_filtered_search",
    "knn_flat_u8",
    # r11 range open: builds a FLAT index, applies an update history,
    # queries an updates-only (start, end) window
    "range_open_changed_vectors",
    "ann_search_sql_tvf",
    # artifact-backed SQL TVF: its plan is one BatchEvalPythonUDTF node
    # by design (the embedded-read model, same as ann_search)
    "bm25_search_sql_tvf",
}

_CHEAP = sorted(set(REGISTRY) - _INDEX_BACKED)


@pytest.mark.parametrize("name", _CHEAP)
def test_plan_hygiene(spark, sf_dir, name):
    if name in LAZY_VARIANTS:
        # materialize=False leaves caller-managed candidate caches; don't
        # let them accumulate across the parametrized session
        df = LAZY_VARIANTS[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        spark.catalog.clearCache()
    else:
        df = REGISTRY[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    if name not in ALLOWED_CARTESIAN:
        assert "CartesianProduct" not in plan, f"{name}: unbounded all-pairs"
        if name not in ALLOWED_BROADCAST_NLJ:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name}: non-equi join slipped into the plan"
            )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF — use Arrow (mapInPandas) instead"
    )


def test_one_uri_parser_and_file_layer():
    """``driver_io`` is the only module that turns a URI into a
    filesystem: no other package module touches ``pyarrow.fs``, calls
    ``FileSystem.from_uri``, tests a path for a ``file:`` prefix, or
    imports a private helper of ``sql.tvf``."""
    import ast
    from pathlib import Path

    import tiledb_vector_search_spark as pkg

    def file_prefix(node):
        vals = node.elts if isinstance(node, ast.Tuple) else [node]
        return any(
            isinstance(v, ast.Constant)
            and isinstance(v.value, str)
            and v.value.startswith("file:")
            for v in vals
        )

    root = Path(pkg.__file__).parent
    offences = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "driver_io.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            line = f"{rel}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Import):
                if any(a.name.startswith("pyarrow.fs") for a in node.names):
                    offences.append(f"{line} imports pyarrow.fs")
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                names = [a.name for a in node.names]
                if mod.startswith("pyarrow.fs") or (
                    mod == "pyarrow" and "fs" in names
                ):
                    offences.append(f"{line} imports pyarrow.fs")
                if mod.endswith("sql.tvf") and any(
                    n.startswith("_") for n in names
                ):
                    offences.append(f"{line} imports private sql.tvf names")
            elif isinstance(node, ast.Attribute) and node.attr == "from_uri":
                offences.append(f"{line} calls from_uri")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "startswith"
                and node.args
                and file_prefix(node.args[0])
            ):
                offences.append(f"{line} tests a file: prefix")
    assert offences == []
