"""``bm25_search`` — lexical retrieval over a BM25 postings artifact as
a pure-SQL TVF.

The text-side twin of ``ann_search`` (``sql/tvf.py``): once registered,
a SQL-only user runs

    SELECT * FROM bm25_search(
        TABLE(SELECT query_id, query_text FROM my_queries),
        '/path/to/bm25_artifact', 10)

with no DataFrame code.  Spark distributes the query table across
tasks; each task tokenizes its query slice in Python, reads ONLY the
postings/term-stats rows matching those terms (parquet ``term IN``
filters → row-group pruning against the term-hash-partitioned artifact
files), and scores with the engine's exact quantization contract.
Index paths are scheme-agnostic via the shared
``driver_io.resolve_fs`` (every ``file:`` form, ``s3://``, ...).

Exactness contract (pinned by parity tests against
``BM25Index.query``):

- tokenization: ``_py_tokens`` mirrors the Catalyst ``tokens()``
  normalizer CHARACTER CLASS FOR CHARACTER CLASS — Java ``\\s`` is
  ASCII-only, so the Python twin uses the explicit
  ``[ \\t\\n\\x0b\\f\\r]`` class rather than Python's unicode-aware
  ``\\s`` (a NBSP must be REMOVED, not collapsed, on both sides).
- per-(term, doc) partials round HALF_UP to 9 decimals on the shortest
  double repr (Spark's ``round`` = ``BigDecimal.valueOf(double)``
  semantics; Python ``Decimal(repr(x))`` is the same construction),
  then sum as EXACT integer micro-units (the DECIMAL(18,9) fold), cast
  to double via correctly-rounded ``Decimal``→``float``, and round
  HALF_UP to 6 — fold order cannot change a result on either engine.
- ranking: (score desc, doc_id asc), rank ≤ k.

Scale posture: per task the work is |task's query terms| of postings
IO + an in-memory group-sum over the matched rows — independent of
corpus size, the same embedded-read model as ``ann_search``.  Bulk
scoring of a corpus-sized query set belongs on the DataFrame API.
"""

from __future__ import annotations

import posixpath
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from tiledb_vector_search_spark.driver_io import (
    list_parquet_files,
    read_json_file,
)

BM25_SEARCH_SCHEMA = "query_id long, doc_id long, score double, rank long"

_NON_TOKEN = re.compile(r"[^a-z0-9 \t\n\x0b\f\r]")
_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")


def _py_tokens(text: str | None) -> list[str]:
    """Python twin of ``functions.text.tokens`` (lowercase, strip
    non-[a-z0-9\\s], collapse ASCII whitespace, trim, split)."""
    if text is None:
        return []
    x = _NON_TOKEN.sub("", text.lower())
    x = _WS_RUN.sub(" ", x).strip(" \t\n\x0b\f\r")
    return [t for t in x.split(" ") if t]


_Q9 = Decimal("1e-9")
_Q6 = Decimal("1e-6")


def _round9_micro(x: float) -> int:
    """Spark ``round(double, 9)`` as integer nano-units (HALF_UP on the
    shortest decimal repr — ``BigDecimal.valueOf`` semantics)."""
    return int(Decimal(repr(x)).quantize(_Q9, ROUND_HALF_UP).scaleb(9))


def _round6(x_micro: int) -> float:
    """DECIMAL(18,9) sum (exact int micro-units) → double → round 6,
    matching ``F.round(F.sum(decimal).cast("double"), 6)``."""
    as_double = float(Decimal(x_micro).scaleb(-9))
    return float(Decimal(repr(as_double)).quantize(_Q6, ROUND_HALF_UP))


def _read_filtered(paths: list[str], columns: list[str], terms: list[str]):
    """Concatenated arrow table of ``columns`` for rows whose ``term``
    is in ``terms`` across every committed data dir — parquet
    dictionary/statistics prune row groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = []
    for path in paths:
        fs, files = list_parquet_files(path)
        tables.extend(
            pq.read_table(
                f,
                columns=columns,
                filters=[("term", "in", terms)],
                filesystem=fs,
            )
            for f in files
        )
    if not tables:
        raise FileNotFoundError(f"no parquet files under {paths}")
    # batch dirs written by different plans can disagree on nullability
    # (e.g. delete batches' negated count) — unify instead of erroring
    return pa.concat_tables(tables, promote_options="permissive")


def _committed_dirs(uri: str, base: str, batches_base: str, batch_ids):
    """Base dir (resolved through the meta generation pointer) +
    META-LISTED increment batch dirs — mirrors ``BM25Index._dirs`` so a
    crashed ``add_documents``/``remove_documents``'s orphan batch is
    invisible to the SQL path too."""
    dirs = [posixpath.join(uri, base)]
    for b in batch_ids:
        dirs.append(posixpath.join(uri, batches_base, f"batch={b}"))
    return dirs


def _read_tombstones(uri: str, meta: dict) -> set[int]:
    """Deleted doc ids across committed delete batches (empty set when
    the index has no deletes — the common case costs nothing)."""
    import pyarrow.parquet as pq

    out: set[int] = set()
    for b in meta.get("delete_batches", []):
        path = posixpath.join(uri, "tombstones", f"batch={b}")
        fs, files = list_parquet_files(path)
        for f in files:
            out.update(
                pq.read_table(f, columns=["doc_id"], filesystem=fs)
                .column("doc_id")
                .to_pylist()
            )
    return out


def search_bm25_files(
    uri: str,
    qids: list[int],
    qtexts: list[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[tuple[int, int, float, int]]:
    """Batched artifact search for one task's query slice; returns
    (query_id, doc_id, score, rank) rows."""
    meta = read_json_file(posixpath.join(uri, "_bm25_meta.json"))
    # the TVF's output schema is FIXED at `doc_id long` (SQL table
    # functions declare their schema up front); a string-keyed index
    # queries via the DataFrame API (BM25Index.query supports string
    # doc ids end to end).  Pre-doc_id_type artifacts default to the
    # long contract they were built under.
    id_type = meta.get("doc_id_type", "bigint")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"bm25_search TVF: this index is keyed by {id_type} doc ids, "
            "but the TVF's declared schema is doc_id long — query "
            "string-keyed indexes through BM25Index.query"
        )
    n = int(meta["n_docs"])
    sumdl = int(meta["sum_dl"])
    if n == 0:
        return []
    avgdl = float(sumdl) / float(n)

    per_query = [sorted({t for t in _py_tokens(x)}) for x in qtexts]
    all_terms = sorted(set().union(*per_query)) if per_query else []
    if not all_terms:
        return []

    add_ids = meta.get("batches", [])
    stats_tb = _read_filtered(
        _committed_dirs(
            uri,
            meta.get("term_stats_dir", "term_stats"),
            "term_stats_batches",
            # delete batches carry NEGATIVE df deltas; the per-term sum
            # below nets them out exactly like the DataFrame path
            list(add_ids) + list(meta.get("delete_batches", [])),
        ),
        ["term", "df"],
        all_terms,
    )
    df_of: dict[str, int] = {}
    for t, d in zip(
        stats_tb.column("term").to_pylist(), stats_tb.column("df").to_pylist()
    ):
        df_of[t] = df_of.get(t, 0) + int(d)  # append-only batches sum
    df_of = {t: d for t, d in df_of.items() if d > 0}

    post_tb = _read_filtered(
        _committed_dirs(
            uri, meta.get("postings_dir", "postings"),
            "postings_batches", add_ids,
        ),
        ["term", "doc_id", "tf", "dl"],
        all_terms,
    )
    deleted = _read_tombstones(uri, meta)
    if deleted:
        import pyarrow as pa
        import pyarrow.compute as pc

        keep = pc.invert(
            pc.is_in(
                post_tb.column("doc_id"),
                value_set=pa.array(sorted(deleted), type=pa.int64()),
            )
        )
        post_tb = post_tb.filter(keep)
    p_term = post_tb.column("term").to_pylist()
    p_doc = post_tb.column("doc_id").to_numpy()
    p_tf = post_tb.column("tf").to_numpy()
    p_dl = post_tb.column("dl").to_numpy()

    # per-(term, doc) partial in integer nano-units, computed ONCE and
    # shared by every query containing the term (the DataFrame plan's
    # hoisted-partial shape)
    import math

    idf_of = {
        t: math.log(1.0 + (n - df_of[t] + 0.5) / (df_of[t] + 0.5))
        for t in df_of
    }
    micro = np.empty(len(p_term), dtype=np.int64)
    rows_of_term: dict[str, list[int]] = {}
    for i, t in enumerate(p_term):
        tf = float(p_tf[i])
        dl = float(p_dl[i])
        sat = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        micro[i] = _round9_micro(idf_of[t] * sat)
        rows_of_term.setdefault(t, []).append(i)

    out: list[tuple[int, int, float, int]] = []
    for qid, terms in zip(qids, per_query):
        acc: dict[int, int] = {}
        for t in terms:
            for i in rows_of_term.get(t, ()):
                d = int(p_doc[i])
                acc[d] = acc.get(d, 0) + int(micro[i])
        ranked = sorted(
            ((_round6(s), d) for d, s in acc.items()),
            key=lambda sd: (-sd[0], sd[1]),
        )[:k]
        for rank, (score, d) in enumerate(ranked, start=1):
            out.append((int(qid), d, score, rank))
    return out


class Bm25SearchUDTF:
    """Python UDTF: accumulate this task's query slice, search at
    terminate so the postings IO amortizes over every query in the
    task (the ``AnnSearchUDTF`` shape)."""

    def __init__(self):
        self._qids: list[int] = []
        self._qtexts: list[str] = []
        self._args: tuple | None = None

    def eval(self, row, uri: str, k: int, k1: float = 1.2, b: float = 0.75):
        self._qids.append(int(row.query_id))
        self._qtexts.append(
            row.query_text if row.query_text is not None else ""
        )
        if self._args is None:
            self._args = (uri, int(k), float(k1), float(b))

    def terminate(self):
        if not self._qids:
            return
        uri, k, k1, b = self._args
        yield from search_bm25_files(uri, self._qids, self._qtexts, k, k1, b)


def register_bm25_search(spark, name: str = "bm25_search") -> None:
    """Register the TVF on this session (companion to
    ``register_ann_search``)."""
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        name, udtf(Bm25SearchUDTF, returnType=BM25_SEARCH_SCHEMA)
    )
