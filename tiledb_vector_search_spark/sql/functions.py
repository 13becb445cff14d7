"""Text-analysis surface as Spark SQL scalar UDFs.

``register_sql_functions(spark)`` makes the package's Catalyst text
functions callable from pure SQL::

    SELECT doc_id, lang_id(text), token_count(text)
    FROM documents WHERE pii_email_count(text) = 0

Spark-first mechanism, zero duplication: each function body is the SAME
Catalyst ``Column`` the DataFrame API builds (``functions/text.py``),
rendered to SQL text through the analyzer (``Alias.child().sql()`` on an
analyzed one-row projection) and installed with Spark 4's SQL scalar UDF
DDL (``CREATE TEMPORARY FUNCTION f(x T) RETURNS R RETURN <expr>``).  The
SQL function therefore inlines into the caller's plan at parse time —
whole-stage codegen, predicate pushdown, and constant folding all apply,
unlike a ``spark.udf.register`` Python UDF, which would drop every call
site out of the JVM.

Return types are derived from the analyzed expression, not hand-written.

Reference has no SQL surface at all; this completes the pure-SQL story
started by the ``ann_search`` TVF (``sql/tvf.py``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, SparkSession

from tiledb_vector_search_spark.functions import text as T

# placeholder column name the builders are rendered against; never appears
# inside any function's string literals
_ARG = "__arg"


def _scalar(builder: Callable[[str], Column]) -> Callable[[str], Column]:
    return builder


def _feature(dict_builder: Callable[[str], dict], key: str):
    def build(col: str) -> Column:
        return dict_builder(col)[key]

    return build


# name -> single-string-arg Column builder.  Dict-returning builders are
# flattened to one scalar function per feature.
SQL_FUNCTIONS: dict[str, Callable[[str], Column]] = {
    "normalize_text": _scalar(T.normalize_text),
    "token_count": _scalar(T.token_count_regex),
    "token_count_ws": _scalar(T.token_count_ws),
    "doc_fingerprint": _scalar(T.doc_fingerprint),
    "rolling_fingerprint": _scalar(T.rolling_fingerprint),
    "lang_id": _scalar(T.lang_id),
    "redact_pii": _scalar(T.redact_pii),
    "word_shingles3": _scalar(T.word_shingles),
    **{
        f"quality_{k}": _feature(T.quality_features, k)
        for k in ("n_tokens", "n_chars", "avg_token_len", "punct_ratio",
                  "stopword_ratio")
    },
    **{
        f"repetition_{k}": _feature(T.repetition_features, k)
        for k in ("top_2gram_frac", "dup_3gram_frac")
    },
    **{
        f"pii_{name}_count": _feature(T.pii_counts, f"n_{name}")
        for name in T.PII_PATTERNS  # keys only — no Column built at import
    },
}


# --- hand-written bodies for higher-order-function builders ------------------
# Catalyst renders lambdas as `lambdafunction(..., namedlambdavariable())`,
# which does not parse back (and loses variable identity for 2-arg
# lambdas), so the five builders that use transform/filter/aggregate get
# equivalent bodies in Spark SQL's own `x ->` lambda syntax.  Each is
# pinned to its DataFrame builder by the exhaustive parity test
# (tests/test_sql_functions.py) — drift fails CI, so the duplication
# cannot rot silently.

# tokens(t): mirror of functions/text.py tokens() as rendered by the analyzer
_TS = (
    r"split(trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9\\s]', "
    r"'', 1), '\\s+', ' ', 1)), ' ', -1)"
)


def _all_shingles_sql(n: int) -> str:
    return (
        f"transform(CASE WHEN (size({_TS}) >= {n}) THEN "
        f"sequence(1, (size({_TS}) - {n - 1})) "
        f"ELSE CAST(array() AS ARRAY<INT>) END, "
        f"i -> array_join(slice({_TS}, i, {n}), ' '))"
    )


def _stop_array_sql() -> str:
    return "array(" + ", ".join(f"'{w}'" for w in T.STOPWORDS) + ")"


_G2, _G3 = _all_shingles_sql(2), _all_shingles_sql(3)

SQL_BODY_OVERRIDES: dict[str, str] = {
    # array_sort's default comparator renders as a lambda; sort_array is
    # the comparator-free equivalent for non-null string tokens
    "doc_fingerprint": (
        f"md5(concat_ws(' ', sort_array(array_distinct({_TS}))))"
    ),
    "word_shingles3": f"array_distinct({_all_shingles_sql(3)})",
    "quality_stopword_ratio": (
        f"round(CAST(size(filter({_TS}, w -> array_contains("
        f"{_stop_array_sql()}, w))) / size({_TS}) AS DOUBLE), 4)"
    ),
    "rolling_fingerprint": (
        f"aggregate({_TS}, CAST(0 AS BIGINT), (acc, tk) -> "
        f"pmod((acc * {T._ROLL_B}) + pmod(CAST(conv(substring(md5(tk), 1, 7), "
        f"16, 10) AS BIGINT), {T._ROLL_P}), {T._ROLL_P}))"
    ),
    "repetition_top_2gram_frac": (
        f"CASE WHEN (size({_G2}) > 0) THEN "
        f"round(CAST(aggregate(sort_array({_G2}), "
        f"named_struct('p', CAST(NULL AS STRING), 'r', 0, 'b', 0), "
        f"(acc, x) -> named_struct('p', x, "
        f"'r', IF(acc.p = x, acc.r + 1, 1), "
        f"'b', greatest(acc.b, IF(acc.p = x, acc.r + 1, 1))), "
        f"acc -> acc.b) / size({_G2}) AS DOUBLE), 6) "
        f"ELSE CAST(0.0 AS DOUBLE) END"
    ),
    "repetition_dup_3gram_frac": (
        f"CASE WHEN (size({_G3}) > 0) THEN "
        f"round(CAST((size({_G3}) - size(array_distinct({_G3}))) / "
        f"size({_G3}) AS DOUBLE), 6) ELSE CAST(0.0 AS DOUBLE) END"
    ),
}


def render_function_sql(
    spark: SparkSession, builder: Callable[[str], Column], param: str = "t"
) -> tuple[str, str]:
    """(body_sql, return_type_sql) for a builder, via the analyzer.

    The builder's Column is aliased onto a one-row projection over a
    single ``__arg string`` column; after analysis, ``Expression.sql()``
    emits parseable Spark SQL with literals quoted and the attribute as a
    bare ``__arg`` token, which is then substituted with the UDF
    parameter name.
    """
    df = spark.createDataFrame([("x",)], f"{_ARG} string")
    alias = (
        df.select(builder(_ARG).alias("__out"))
        ._jdf.queryExecution()
        .analyzed()
        .projectList()
        .head()
    )
    child = alias.child()
    body = child.sql().replace(f"`{_ARG}`", param).replace(_ARG, param)
    return body, child.dataType().sql()


def register_sql_functions(
    spark: SparkSession, names: list[str] | None = None
) -> list[str]:
    """Install the text surface as session-scoped SQL scalar UDFs.

    Returns the registered names.  Idempotent (CREATE OR REPLACE).
    """
    registered = []
    for name in (names if names is not None else SQL_FUNCTIONS):
        # return type always derives from the analyzed builder; the body
        # does too unless the builder needs a lambda (see overrides above)
        body, rtype = render_function_sql(spark, SQL_FUNCTIONS[name])
        body = SQL_BODY_OVERRIDES.get(name, body)
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(t STRING) "
            f"RETURNS {rtype} RETURN {body}"
        )
        registered.append(name)
    return registered
