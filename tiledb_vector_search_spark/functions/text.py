"""Text-analysis column functions for LLM-data pipelines.

Beyond the reference's own surface (its text handling is chunk-and-embed,
``object_readers/directory_reader.py``), these are the operators a 100 TB
training-data pipeline needs: tokenization, shingling, fingerprinting,
quality scoring, language ID.  Everything here is a *native Catalyst
expression* — JVM-side, whole-stage-codegen'd, no Python in the hot path —
and every function has a DuckDB-SQL twin used by the correctness oracle
(``duckdb_*_sql``), kept value-identical by construction.

Hashing: cross-engine stable 60-bit integers from md5 hex
(Spark ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``('0x' || substr(md5(x),1,15))::BIGINT``) — murmur/xxhash differ between
engines, md5 is the portable choice.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- stable hashing ----------------------------------------------------------

def stable_hash64(col: Column | str, salt: str = "") -> Column:
    """Deterministic 60-bit int hash, identical in Spark and DuckDB."""
    s = F.concat(_c(col), F.lit(salt)) if salt else _c(col)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def duckdb_stable_hash64_sql(expr: str, salt: str = "") -> str:
    s = f"({expr} || '{salt}')" if salt else expr
    return f"('0x' || substr(md5({s}), 1, 15))::BIGINT"


# --- normalization & tokenization -------------------------------------------

def normalize_text(col: Column | str) -> Column:
    """lowercase, strip non-alphanumerics, collapse whitespace."""
    x = F.lower(_c(col))
    x = F.regexp_replace(x, r"[^a-z0-9\s]", "")
    x = F.regexp_replace(x, r"\s+", " ")
    return F.trim(x)


def duckdb_normalize_text_sql(expr: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace(lower(" + expr + "), "
        "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"
    )


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize_text(col), " ")


def duckdb_tokens_sql(expr: str) -> str:
    return f"string_split({duckdb_normalize_text_sql(expr)}, ' ')"


def token_count_ws(col: Column | str) -> Column:
    return F.size(tokens(col))


# BPE-ish token proxy: alnum runs or single punctuation marks.  RE2-safe
# (no lookarounds) so the DuckDB oracle can run the identical pattern.
TOKEN_REGEX = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def token_count_regex(col: Column | str) -> Column:
    """Count of word/punctuation token units under ``TOKEN_REGEX``."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(TOKEN_REGEX), 0))


def duckdb_token_count_regex_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))"


# --- shingles ----------------------------------------------------------------

def shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array column.

    Operators should project ``tokens()`` to a column behind an exchange and
    use this form: Catalyst cannot eliminate common subexpressions across
    higher-order-function lambda boundaries, so referencing the ``tokens()``
    expression tree inside the transform re-runs the regex normalization per
    shingle — ~100× per row.  Referencing a bound attribute is free.
    """
    t = _c(tok_col)
    # guarded — Spark's sequence() generates *descending* when start > stop,
    # so the empty case must be explicit
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(t, i, F.lit(n)), " "))
    return F.array_distinct(sh)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text; [] if < n tokens.

    The shingle basis for minhash/Jaccard dedup.  Single-expression form for
    oracle-facing queries on bounded inputs; hot paths should use
    :func:`shingles_from_tokens` on a materialized token column instead (see
    its docstring for why).
    """
    return shingles_from_tokens(tokens(col), n)


def duckdb_word_shingles_sql(expr: str, n: int = 3) -> str:
    t = duckdb_tokens_sql(expr)
    parts = " || ' ' || ".join(f"__t[__i + {j}]" for j in range(n))
    return (
        f"(SELECT list_distinct(CASE WHEN len(__t) >= {n} THEN "
        f"list_transform(range(1, len(__t) - {n - 1} + 1), __i -> {parts}) "
        f"ELSE [] END) FROM (SELECT {t} AS __t) __sh)"
    )


def all_shingles_from_tokens(tok_col: Column | str, n: int = 2) -> Column:
    """ALL n-gram occurrences from a MATERIALIZED token array (multiplicity
    kept — the repetition filters need it; same CSE caveat as
    :func:`shingles_from_tokens`)."""
    t = _c(tok_col)
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(t, i, F.lit(n)), " "))


def all_word_shingles(col: Column | str, n: int = 2) -> Column:
    """ALL word n-gram occurrences (order-preserving, duplicates kept).

    Unlike :func:`word_shingles` (distinct — the dedup basis) this keeps
    multiplicity, which the within-document repetition filters need.
    Single-expression form; hot paths materialize tokens first and use
    :func:`all_shingles_from_tokens`.
    """
    return all_shingles_from_tokens(tokens(col), n)


def duckdb_all_word_shingles_sql(expr: str, n: int = 2) -> str:
    t = duckdb_tokens_sql(expr)
    parts = " || ' ' || ".join(f"__t[__i + {j}]" for j in range(n))
    return (
        f"(SELECT CASE WHEN len(__t) >= {n} THEN "
        f"list_transform(range(1, len(__t) - {n - 1} + 1), __i -> {parts}) "
        f"ELSE [] END FROM (SELECT {t} AS __t) __sh)"
    )


# --- fingerprinting ----------------------------------------------------------

def doc_fingerprint(col: Column | str) -> Column:
    """md5 of the sorted distinct token set — an order-insensitive content
    fingerprint (near-dup under token permutation / duplication)."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col))))
    )


def duckdb_doc_fingerprint_sql(expr: str) -> str:
    return (
        f"md5(array_to_string(list_sort(list_distinct("
        f"{duckdb_tokens_sql(expr)})), ' '))"
    )


# Rolling (Rabin-style polynomial) fingerprint parameters.  P fits in 31
# bits so acc·B + h stays below 2^62 — no overflow in either engine's
# BIGINT arithmetic (Spark would silently wrap, DuckDB would raise).
_ROLL_B = 131
_ROLL_P = 2_147_483_647  # 2^31 − 1


def rolling_fingerprint(col: Column | str) -> Column:
    """Order-SENSITIVE content fingerprint: a left-fold polynomial hash
    acc = (acc·B + h(token)) mod P over the token sequence.

    Complements :func:`doc_fingerprint` (order-insensitive): permuted
    documents collide there but not here.  Sequential fold → deterministic
    and exactly reproducible by the DuckDB twin."""
    h = lambda t: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long"), F.lit(_ROLL_P)
    )
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * _ROLL_B + h(t), F.lit(_ROLL_P)),
    )


def duckdb_rolling_fingerprint_sql(expr: str) -> str:
    # hash tokens to BIGINT first so the fold list is homogeneous, then
    # left-fold with the init value 0 prepended (list_reduce has no init arg)
    hs = (
        f"list_transform({duckdb_tokens_sql(expr)}, "
        f"__t -> ('0x' || substr(md5(__t), 1, 7))::BIGINT % {_ROLL_P})"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {hs}), "
        f"(__acc, __h) -> (__acc * {_ROLL_B} + __h) % {_ROLL_P})"
    )


# --- quality scoring ---------------------------------------------------------

STOPWORDS = (
    "the a an and or of to in is are was were be on for with as at by "
    "it this that"
).split()


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length/punctuation/stopword features (the classic quality filters)."""
    raw = _c(col)
    t = tokens(col)
    n_tok = F.size(t)
    n_chars = F.length(raw)
    punct = F.length(F.regexp_replace(raw, r"[a-zA-Z0-9\s]", ""))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w)))
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "avg_token_len": F.round(
            (F.length(F.concat_ws("", t)) / n_tok).cast("double"), 4
        ),
        "punct_ratio": F.round((punct / n_chars).cast("double"), 4),
        "stopword_ratio": F.round((n_stop / n_tok).cast("double"), 4),
    }


def duckdb_quality_features_sql(expr: str) -> dict[str, str]:
    t = duckdb_tokens_sql(expr)
    return {
        "n_tokens": f"len({t})",
        "n_chars": f"length({expr})",
        "avg_token_len": (
            f"round(length(array_to_string({t}, '')) * 1.0 / len({t}), 4)"
        ),
        "punct_ratio": (
            f"round(length(regexp_replace({expr}, '[a-zA-Z0-9\\s]', '', 'g'))"
            f" * 1.0 / length({expr}), 4)"
        ),
        "stopword_ratio": (
            f"round(len(list_filter({t}, __w -> list_contains("
            f"{_duckdb_stop_list()}, __w))) * 1.0 / len({t}), 4)"
        ),
    }


def _duckdb_stop_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


# --- repetition filters (Gopher §A.1-style) ----------------------------------

def repetition_features(col: Column | str) -> dict[str, Column]:
    """Within-document repetition signals used by Gopher/MassiveText-style
    quality rules (duplicate n-gram mass → boilerplate / degenerate text).

    - ``top_2gram_frac``: occurrences of the single most frequent 2-gram
      over all 2-gram occurrences (Gopher gates this at 0.20).
    - ``dup_3gram_frac``: fraction of 3-gram occurrences that are repeats,
      i.e. ``1 − distinct/total`` (Gopher's duplicate-n-gram family).

    Single-expression form for oracle-facing bounded queries; Catalyst does
    not CSE across the lambda boundaries, so the hot-path variant should
    materialize the shingle arrays first (see ``shingles_from_tokens``).
    Reference parity: quality filtering sits upstream of the reference's
    ingestion (it has none in-tree); this is the LLM-pipeline extension.
    """
    g2 = all_word_shingles(col, 2)
    g3 = all_word_shingles(col, 3)
    top2 = longest_run(F.sort_array(g2))
    return {
        "top_2gram_frac": F.when(
            F.size(g2) > 0, F.round((top2 / F.size(g2)).cast("double"), 6)
        ).otherwise(F.lit(0.0)),
        "dup_3gram_frac": F.when(
            F.size(g3) > 0,
            F.round(
                (
                    (F.size(g3) - F.size(F.array_distinct(g3))) / F.size(g3)
                ).cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    }


def longest_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements of a string
    array (0 if empty).

    On a sorted array this is the count of its most frequent element, in
    one left fold.  Counting each distinct element with ``filter(arr, ...)``
    inside a ``transform`` lambda would re-evaluate the array expression
    (the tokenizing regex included) once per distinct element — cubic per
    row, over 15x slower on the 500-doc test corpus."""
    zero = F.struct(
        F.lit(None).cast("string").alias("p"),
        F.lit(0).alias("r"),
        F.lit(0).alias("b"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["p"] == x, acc["r"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("p"), run.alias("r"), F.greatest(acc["b"], run).alias("b")
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["b"])


def duckdb_repetition_features_sql(expr: str) -> dict[str, str]:
    g2 = duckdb_all_word_shingles_sql(expr, 2)
    g3 = duckdb_all_word_shingles_sql(expr, 3)
    top2 = (
        f"list_max(list_transform(list_distinct(__g2), "
        f"__g -> len(list_filter(__g2, __x -> __x = __g))))"
    )
    return {
        "top_2gram_frac": (
            f"(SELECT CASE WHEN len(__g2) > 0 THEN "
            f"round({top2} * 1.0 / len(__g2), 6) ELSE 0.0 END "
            f"FROM (SELECT {g2} AS __g2) __r2)"
        ),
        "dup_3gram_frac": (
            f"(SELECT CASE WHEN len(__g3) > 0 THEN "
            f"round((len(__g3) - len(list_distinct(__g3))) * 1.0 / len(__g3), 6) "
            f"ELSE 0.0 END FROM (SELECT {g3} AS __g3) __r3)"
        ),
    }


# --- PII detection / redaction -----------------------------------------------

# Patterns written to the common subset of Java regex (Spark) and RE2
# (DuckDB): no lookaround, `[.]` instead of escaped dots (sidesteps
# double-escaping differences between the two SQL string layers).
PII_PATTERNS = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}",
    "phone": "555-[0-9]{4}",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-document PII hit counts (email / phone / IPv4), JVM-side regex."""
    raw = _c(col)
    return {
        f"n_{name}": F.regexp_count(raw, F.lit(pat)).cast("long")
        for name, pat in PII_PATTERNS.items()
    }


def duckdb_pii_counts_sql(expr: str) -> dict[str, str]:
    return {
        f"n_{name}": f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT)"
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(col: Column | str) -> Column:
    """Replace every PII span with a typed placeholder (scrub-before-train).

    Replacement order is fixed (email, phone, ipv4) so both engines produce
    byte-identical output.
    """
    out = _c(col)
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


def duckdb_redact_pii_sql(expr: str) -> str:
    out = expr
    for name, pat in PII_PATTERNS.items():
        out = f"regexp_replace({out}, '{pat}', '[{name.upper()}]', 'g')"
    return out


# --- language ID -------------------------------------------------------------

# Tiny deterministic function-word profiles.  A real pipeline swaps in
# fastText/CLD3 via mapInPandas (multimodal pattern); the *operator shape* —
# profile intersection + argmax — is what matters for the engine.
LANG_PROFILES: dict[str, list[str]] = {
    "en": "the and of to in is was for with that".split(),
    "es": "el la de que y en un ser se no".split(),
    "de": "der die und in den von zu das mit sich".split(),
    "fr": "le la de et les des en un du que".split(),
    "it": "il di che la e un a per non sono".split(),
}


def lang_id(col: Column | str) -> Column:
    """argmax over per-language function-word hit counts; tie → lexicographic
    smallest language; no hits → 'und' (undetermined)."""
    t = F.array_distinct(tokens(col))
    scores = [
        (
            lang,
            F.size(
                F.array_intersect(
                    t, F.array(*[F.lit(w) for w in words])
                )
            ),
        )
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed: earlier language wins ties via later when-clause precedence
    for lang, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def duckdb_lang_id_sql(expr: str) -> str:
    t = f"list_distinct({duckdb_tokens_sql(expr)})"
    score = {
        lang: (
            "len(list_filter("
            + t
            + ", __w -> list_contains(["
            + ", ".join(f"'{w}'" for w in words)
            + "], __w)))"
        )
        for lang, words in sorted(LANG_PROFILES.items())
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    clauses = " ".join(
        f"WHEN {s} = __best THEN '{lang}'" for lang, s in sorted(score.items())
    )
    return (
        f"(SELECT CASE WHEN __best = 0 THEN 'und' {clauses} END "
        f"FROM (SELECT {best} AS __best) __l)"
    )
