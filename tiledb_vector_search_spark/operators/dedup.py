"""Deduplication operators for LLM training-data pipelines.

Five strategies, all shuffle-architected for 100 TB (each one's join key is
a *hash/bucket*, never the document text, so the heavy shuffle carries small
keys; candidate verification happens only within buckets):

- exact:        md5(raw text) group-by — one shuffle on a 128-bit key.
- fingerprint:  md5(sorted token set) — order/duplication-insensitive exact.
- minhash LSH:  shingle → k minhashes → band buckets → within-bucket pairs →
                (optional) exact-Jaccard verify.  The classic
                shingle→minhash→band→bucket-join pipeline.
- simhash:      per-token hash bit-majority → near-dup via hamming ≤ r on
                band-rotated keys.
- n-gram Jaccard: exact pairwise Jaccard, for bounded candidate sets / small
                tables (the verifier inside LSH at scale).
- embedding cosine: near-dup via vector similarity (reuses the kNN plans).

All SQL-expressible pieces are Catalyst expressions with DuckDB twins in
:mod:`..functions.text`, so every strategy is oracle-checkable.
"""

from __future__ import annotations

import uuid as _uuid

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tiledb_vector_search_spark.storage import locked_mutation
from tiledb_vector_search_spark.functions.text import (
    doc_fingerprint,
    stable_hash64,
    word_shingles,
)

# 32 perms / 8 bands / 4 rows: s-curve midpoint (1/8)^(1/4) ≈ 0.6 — tuned
# for dedup thresholds ≥ 0.8 (2-row banding's midpoint 0.35 floods the
# verifier with mid-similarity candidates)
DEFAULT_NUM_PERM = 32
DEFAULT_BANDS = 8

# ε slack for τ-derived integer bounds: double noise on τ·n is ≤ a few
# ulps (~1e-13 at realistic set sizes); 1e-9 over-admits at most the
# exactly-at-threshold boundary candidates, which the exact verifier
# rescreens — losslessness is preserved by construction
_TAU_EPS = 1e-9


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, dup_count, min_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
        .where("dup_count > 1")
    )


def fingerprint_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Same-token-set groups (order/duplication-insensitive exact dedup)."""
    return (
        df.select(doc_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
        .where("dup_count > 1")
    )


# --- MinHash LSH --------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, minhash array<long>[num_perm]) via salted md5 min-hashing.

    One explode + one groupBy: the shuffle carries (id, perm, hash) longs.
    Docs with fewer than ``shingle_n`` tokens get no signature (dropped,
    like the reference drops empty vectors).
    """
    sh = _shingle_docs(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.explode("__sh").alias("__s")
    )
    # one py4j round-trip per aggregate (SQL string = stable_hash64's
    # exact expression tree) instead of ~6 per permutation — plan
    # construction is pure driver latency, re-paid per micro-batch
    mins = [
        F.expr(
            "min(CAST(conv(substring(md5(concat(`__s`, '#p"
            f"{p}')), 1, 15), 16, 10) AS BIGINT)) AS h{p}"
        )
        for p in range(num_perm)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    arr = ", ".join(f"`h{p}`" for p in range(num_perm))
    return agg.select(
        F.col(id_col), F.expr(f"array({arr})").alias("minhash")
    )


_MERSENNE_P = 2_147_483_647  # 2^31 − 1


def _affine_minhash_signatures(
    shingled: DataFrame,
    id_col: str,
    num_perm: int,
    seed: int = 0xD0C5,
) -> DataFrame:
    """(id, minhash array<long>) via ONE base hash + affine permutations.

    The classic universal-hash minhash family: h_p(s) = (a_p·h(s) + b_p)
    mod (2³¹−1), with h = xxhash64 folded into [0, 2³¹−1).  One cheap
    JVM-native hash per shingle instead of ``num_perm`` md5s — internal to
    the dedup pipeline (the oracle pins the *verified pair* output, and the
    salted-md5 family stays available as :func:`minhash_signatures` for the
    oracle-reproducible signature surface).
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE_P, size=num_perm)
    b = rng.integers(0, _MERSENNE_P, size=num_perm)
    sh = shingled.select(F.col(id_col), F.explode("__sh").alias("__s"))
    h = F.pmod(F.xxhash64("__s"), F.lit(_MERSENNE_P))
    sh = sh.select(F.col(id_col), h.alias("__h"))
    # one py4j round-trip per permutation instead of ~7 (identical
    # Catalyst tree; BIGINT literals match F.lit's LongType) — this
    # builder runs per micro-batch in the streaming screens
    mins = [
        F.expr(
            f"min(pmod({int(a[p])}L * `__h` + {int(b[p])}L, "
            f"{_MERSENNE_P}L)) AS h{p}"
        )
        for p in range(num_perm)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    arr = ", ".join(f"`h{p}`" for p in range(num_perm))
    return agg.select(
        F.col(id_col), F.expr(f"array({arr})").alias("minhash")
    )


def _band_keys(
    signatures: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band, bucket): md5 bucket key per signature band slice.

    The band structs are composed as ONE SQL string parsed JVM-side in
    a single ``F.expr`` round-trip: built Column-by-Column they are
    ~bands × (rows_per_band + 5) py4j calls of pure driver latency per
    invocation (and streaming screens re-build this plan every
    micro-batch) for the identical Catalyst tree."""
    rows_per_band = num_perm // bands
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws(',', {elems})) AS bucket)".format(
            b=b,
            elems=", ".join(
                f"element_at(`minhash`, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return signatures.select(
        F.col(id_col),
        F.expr(f"explode(array({structs}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band bucket.

    Band key = md5 of the band's slice of the signature; the self-join is an
    equi-join on (band, bucket) — shuffle on small keys, quadratic blowup
    only within buckets (the LSH contract).
    """
    banded = _band_keys(signatures, id_col, num_perm, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bucket") == F.col(f"b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _shingle_docs(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingle array) — computed once and shared between the signature
    and verification stages.

    The token array is projected FIRST and materialized through a
    ``repartition(id)`` exchange: (a) the exchange pins the token regex to
    one evaluation per row (Catalyst can't CSE the expression into the
    shingle lambda, see ``shingles_from_tokens``), (b) it restores
    parallelism when the corpus arrives as few large files, and (c) hash
    partitioning by id satisfies the downstream signature ``groupBy(id)``
    requirement, so the heavy explode→min aggregation runs map-side with no
    further shuffle.
    """
    from tiledb_vector_search_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # the ≥n-tokens filter is equivalent to "has ≥1 shingle" and sits BEFORE
    # the exchange: filtering on size(shingles) after the projection would be
    # pushed below the exchange by Catalyst and drag the whole shingle
    # expression (with its per-lambda token recomputation) into the scan stage
    toks = (
        df.select(F.col(id_col), tokens(text_col).alias("__t"))
        .where(F.size("__t") >= shingle_n)
        .repartition(target, F.col(id_col))
    )
    return toks.select(
        F.col(id_col), shingles_from_tokens("__t", shingle_n).alias("__sh")
    )


# Candidate-pair sets above this row count are NOT broadcast: on a web-scale
# corpus near-dup candidates are routinely billions of rows, and a forced
# broadcast OOMs the driver/executors regardless of AQE.  1M (id_a, id_b)
# pairs ≈ 16 MB raw — comfortably under executor broadcast budgets.
BROADCAST_PAIR_LIMIT = 1_000_000


def _gated_pairs(
    pairs: DataFrame, limit: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Return ``(gated, handle)``: ``pairs`` wrapped in a broadcast hint only
    when provably small, plus the persisted handle the CALLER must unpersist
    once the consuming join has materialized.

    The pair set is persisted and counted first: it is consumed by the
    verify join immediately after, so the materialization is not wasted
    work, and the count decides broadcast (corpus never shuffles) vs a
    plain shuffled equi-join (AQE picks the strategy).
    """
    from pyspark import StorageLevel

    limit = BROADCAST_PAIR_LIMIT if limit is None else limit
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    gated = F.broadcast(pairs) if pairs.count() <= limit else pairs
    return gated, pairs


def _materialize_and_release(result: DataFrame, *handles: DataFrame) -> DataFrame:
    """Eagerly materialize ``result`` then unpersist the intermediates.

    ``localCheckpoint`` blocks are reference-counted by Spark's
    ContextCleaner and freed when the returned DataFrame is GC'd on the
    driver; CacheManager entries from ``persist`` are NOT — they live until
    an explicit ``unpersist``, so a long-lived session (a bench harness, a
    pipeline service) invoking these pipelines repeatedly would accumulate
    executor storage and bleed GC pressure into later jobs.  Checkpointing
    the (small, verified) result first makes the unpersists safe: nothing
    downstream recomputes the released lineage.
    """
    out = result.localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    return out


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingled: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact shingle-Jaccard ≥ threshold pairs.

    With ``pairs`` given (e.g. LSH candidates) verifies only those — the
    scale path: the candidate list is tiny relative to the corpus, so it is
    broadcast and the corpus never shuffles.  Without, scores all (a < b)
    pairs — the small-table / oracle path.  ``shingled`` lets callers pass a
    pre-computed (id, shingles) DataFrame to avoid re-tokenizing.

    ``materialize`` (candidate-verify path only): eagerly compute the
    verified pairs and release the persisted candidate set before returning
    — the default, so repeated calls in one session don't accumulate cached
    blocks.  Pass ``False`` to get the lazy plan (for plan inspection /
    caller-managed caching); the candidate persist is then the caller's to
    release.
    """
    docs = (
        shingled
        if shingled is not None
        else _shingle_docs(df, text_col, id_col, shingle_n)
    )
    a = docs.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    handle = None
    if pairs is not None:
        # small candidate set: two broadcast hash joins, zero shuffle of
        # the (large) shingled corpus; large: shuffled equi-join via AQE
        gated, handle = _gated_pairs(pairs)
        cand = a.join(gated, "id_a").join(b, "id_b")
    else:
        cand = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    # intersection computed once, union derived from it
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    out = (
        cand.withColumn("__i", inter)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__i")
                / ((F.size("sh_a") + F.size("sh_b")).cast("double") - F.col("__i")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    if handle is not None and materialize:
        out = _materialize_and_release(out, handle)
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
    verify: bool = True,
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Full LSH dedup: signatures → band buckets → candidates → verify.

    The shingled corpus is computed once and persisted (memory-and-disk) so
    the signature explode and the verification join both reuse it; with
    ``materialize`` (default) the verified result is eagerly checkpointed
    and the shingle cache released before returning, so repeated pipeline
    runs in one session don't accumulate executor storage.
    """
    from pyspark import StorageLevel

    shingled = _shingle_docs(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = _affine_minhash_signatures(shingled, id_col, num_perm)
    cand = lsh_candidate_pairs(sigs, id_col, num_perm, bands)
    if not verify:
        if materialize:
            return _materialize_and_release(cand, shingled)
        return cand
    out = jaccard_pairs(
        df,
        cand,
        text_col,
        id_col,
        threshold=threshold,
        shingled=shingled,
        materialize=materialize,
    )
    if materialize:  # out is already checkpointed — the cache is releasable
        shingled.unpersist()
    return out


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    materialize: bool = True,
) -> DataFrame:
    """EXACT n-gram-Jaccard ≥ threshold pairs at scale via prefix filtering.

    The AllPairs/PPJoin candidate scheme (Bayardo et al. WWW'07; Xiao et
    al. WWW'08): order each doc's shingle set by a global canonical order
    (document frequency ascending — rarest first), keep only the first
    ``|S| − ⌈τ·|S|⌉ + 1`` shingles (the *prefix*), and index those.  Any
    pair with ``J ≥ τ`` must share ≥ ⌈τ·|S|⌉ shingles, so it cannot avoid
    colliding on both prefixes — the filter is LOSSLESS, and the exact
    verifier then removes false positives.  Unlike MinHash LSH this returns
    the exact answer (no probabilistic misses), at the cost of the
    document-frequency pass.

    Shuffle architecture for 100 TB:
      1. shingle df pass — one word-count-shaped shuffle on shingle keys;
      2. rank + prefix — one groupBy(id) (map-side, already partitioned by
         id from :func:`_shingle_docs`'s exchange);
      3. candidate join — equi-join on PREFIX shingles only.  Because the
         canonical order is rarest-first, prefix shingles are the rarest in
         each doc, so bucket sizes stay near 1 and the join output is
         ~true-pairs, not n².  Two further LOSSLESS filters ride the join
         condition (pure Catalyst, no extra pass):
           - length filter: ``J ≥ τ ⟹ τ·|b| ≤ |a| ≤ |b|/τ``;
           - PPJoin positional filter: at the pair's FIRST common prefix
             shingle (positions ``pa``/``pb`` in the canonical order — no
             common shingle can precede it, since anything earlier in the
             order that both docs contain would itself be a prefix
             collision), total overlap ≤ ``min(|a|−pa, |b|−pb)``, which
             must reach ``α = ⌈τ/(1+τ)·(|a|+|b|)⌉``.  Applied per
             collision and OR-ed by the ``distinct``, so the first-common
             collision always survives for a true pair — lossless.
         Measured at sf0.1: 118,826 → 12,694 candidates (9.4×) for the
         same 256 verified pairs; at 100 TB this bounds the verify join's
         input to near-true-pairs.
      4. verify — broadcast candidate pairs against the persisted shingled
         corpus (zero corpus shuffle), same as the LSH verifier.

    Reference parity: the reference has no text dedup; this is part of the
    LLM-training-data operator set the engine adds on top.
    """
    from pyspark import StorageLevel

    shingled = _shingle_docs(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex = shingled.select(F.col(id_col), F.explode("__sh").alias("__s"))
    freq = ex.groupBy("__s").agg(F.count("*").alias("__df"))
    # canonical rarest-first per-doc order; (df, shingle) struct sort makes
    # ties deterministic
    ranked = (
        ex.join(freq, "__s")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__s")))
            ).alias("__r")
        )
    )
    # FLOAT-BOUNDARY SAFETY (applies to every τ-derived bound below): the
    # real bounds are integers compared against exact rationals like
    # τ·|S|, but double arithmetic can land an ulp HIGH (0.8·35 =
    # 28.000000000000004), and a ceil of that drops exactly-at-threshold
    # true pairs — a silent losslessness violation.  Every bound therefore
    # subtracts _TAU_EPS before the ceil/comparison: at worst the filter
    # admits one extra candidate (the exact verifier removes it); it can
    # never exclude a true pair.
    prefix_len = (
        F.size("__r")
        - F.ceil(F.lit(threshold) * F.size("__r") - F.lit(_TAU_EPS))
        + 1
    ).cast("int")
    # df=1 shingles can never collide — dropping them AFTER the prefix is
    # taken (order/length unchanged, so still lossless) empties most of the
    # candidate-join input, since unique shingles dominate real corpora
    pre = (
        ranked.select(
            F.col(id_col),
            F.size("__r").alias("__n"),
            F.posexplode(F.slice(F.col("__r"), F.lit(1), prefix_len)).alias(
                "__p", "__e"
            ),
        )
        .where(F.col("__e.__df") > 1)
        .select(
            F.col(id_col), "__n", "__p", F.col("__e.__s").alias("__s")
        )
        # the self-join below consumes pre TWICE under different column
        # aliases, so exchange reuse cannot dedup the two sides — without
        # this persist, AQE's concurrent stage submission recomputes the
        # whole ranked/df lineage for the second side nondeterministically
        # (measured: +60-130 MB shuffle at 10x sf0.1, run-to-run).  pre is
        # the narrow prefix projection (id, |S|, pos, shingle), far
        # smaller than the corpus, so the cache cost is bounded.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = pre.select(
        F.col(id_col).alias("id_a"),
        F.col("__n").alias("__na"),
        F.col("__p").alias("__pa"),
        "__s",
    )
    b = pre.select(
        F.col(id_col).alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("__p").alias("__pb"),
        "__s",
    )
    # α = minimum required overlap for J ≥ τ at these set sizes; the
    # integer bound m satisfies m ≥ ⌈x⌉ ⟺ m ≥ x, so compare the ε-relaxed
    # real directly (no ceil — see FLOAT-BOUNDARY SAFETY above)
    alpha = (
        F.lit(threshold / (1.0 + threshold)) * (F.col("__na") + F.col("__nb"))
        - F.lit(_TAU_EPS)
    )
    cand = (
        a.join(b, "__s")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.col("__na").cast("double")
                >= F.lit(threshold) * F.col("__nb") - F.lit(_TAU_EPS)
            )
            & (
                F.col("__nb").cast("double")
                >= F.lit(threshold) * F.col("__na") - F.lit(_TAU_EPS)
            )
            & (
                F.least(
                    F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
                ).cast("double")
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    out = jaccard_pairs(
        df,
        cand,
        text_col,
        id_col,
        shingle_n,
        threshold,
        shingled=shingled,
        materialize=materialize,
    )
    if materialize:  # out is already checkpointed — the caches are releasable
        shingled.unpersist()
        pre.unpersist()
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, canonical_id) dedup groups from near-dup PAIRS.

    The step every dedup pipeline needs after pair verification: transitive
    closure, canonical = min id of the component, so "drop all docs where
    doc_id != canonical_id" keeps exactly one representative per group.

    Iterative min-label propagation: each round, every node takes the min
    label among itself and its neighbors; stop when a round changes
    nothing.  Rounds = graph diameter — the right trade for DEDUP graphs,
    whose components are near-cliques of mutually-similar docs (diameter
    ~2-3), so this converges in 3-4 joins without the bookkeeping of
    large-star/small-star (Kiveris et al., whose O(log n) bound matters
    only for long-chain graphs that near-dup thresholds don't produce).
    Each round is one equi-join on node id + one groupBy — both shuffle
    only the (node, label) long pairs, never document payloads.  The edge
    list is persisted once and reused every round; per-round labels are
    ``localCheckpoint``-ed — persist alone keeps the full lineage, so the
    logical plan (and its analysis cost) would double every iteration.
    """
    from pyspark import StorageLevel

    types = dict(pairs.dtypes)
    ta, tb = types[id_a], types[id_b]
    if "string" in (ta, tb):
        # string ids are first-class (crawl URLs, content hashes):
        # min-label propagation only needs a total order, which strings
        # have.  The old unconditional cast("long") turned them into
        # nulls (ANSI off) and the closure silently grouped NOTHING.
        if ta != tb:
            raise ValueError(
                f"mixed id types ({id_a}: {ta}, {id_b}: {tb}): casting "
                "numbers to strings would change which id is the min — "
                "align the pair columns to one type first"
            )
        sym = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    else:
        sym = pairs.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
    edges = (
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("__nmin"))
        .select("u", F.least("u", "__nmin").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("__nl")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("__nl").alias("__nmin"))
        )
        # lazy checkpoint: the convergence count below is the action that
        # materializes it — one Spark job per round instead of two
        new = labels.join(nbr, "u", "left").select(
            "u",
            F.least("label", F.coalesce("__nmin", "label")).alias("label"),
        ).localCheckpoint(eager=False)
        changed = (
            new.join(labels.select("u", F.col("label").alias("__old")), "u")
            .where(F.col("label") < F.col("__old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # silent truncation would split one transitive group into
        # several canonicals and callers would KEEP extra duplicates —
        # wrong data, no error.  Dedup graphs are near-cliques
        # (diameter 2-3), so hitting this means the input is a
        # long-chain graph the default budget doesn't cover.
        edges.unpersist()
        raise ValueError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({changed} labels still moving): the pair graph "
            "has diameter > max_iter — raise max_iter (rounds needed "
            "= graph diameter)"
        )
    edges.unpersist()
    return labels.select(
        F.col("u").alias("doc_id"), F.col("label").alias("canonical_id")
    )


# --- SimHash ------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash_family: str = "md5",
) -> DataFrame:
    """Per-doc simhash: bit b set iff Σ_tokens (±1 on token-hash bit b) > 0.

    Pure Catalyst: explode tokens → per-bit conditional sums → reassemble.

    ``hash_family``: "md5" is the oracle-reproducible surface
    (:func:`stable_hash64` has a DuckDB twin); "xxhash64" is the scale path —
    one JVM-native hash per token instead of an md5 string pipeline (~2×
    on the signature stage).  Near-dup semantics are hash-family-agnostic;
    only the md5 form is pinned by the driver oracle.
    """
    from tiledb_vector_search_spark.functions.text import tokens

    spark = df.sparkSession
    df = df.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__w")
    )
    if hash_family == "xxhash64":
        # fold to non-negative so bit b of the Python-visible value matches
        # shiftright semantics for all 0 <= b < bits <= 62
        tok = tok.withColumn(
            "__h", F.abs(F.xxhash64("__w") % F.lit(1 << 62))
        )
    else:
        tok = tok.withColumn("__h", stable_hash64(F.col("__w")))
    # one py4j round-trip per bit (and one for the reassembly) instead
    # of ~12 — identical Catalyst trees, parsed JVM-side; plan
    # construction is pure driver latency (guide §1.2 step 2)
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(`__h`, {b}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS b{b}"
        )
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sim = " + ".join(
        f"(CASE WHEN `b{b}` > 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(bits)
    )
    return agg.select(
        F.col(id_col), F.expr(f"CAST(({sim}) AS BIGINT)").alias("simhash")
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    hash_family: str = "md5",
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ max_hamming.

    Candidates come from the SHARED combination-pigeonhole band-join
    (:mod:`operators.hamming` — the same plan behind the image/audio/
    video near-dup operators): block-PAIR keys bound bucket density far
    better than the classic single-chunk ``max_hamming + 1`` split this
    function used to inline (whose key space collapses as the radius
    grows — and degenerates to chunk_bits=0, a full quadratic
    self-join, once ``max_hamming + 1 > bits``), and the shared path
    carries the shuffle-hash hint Catalyst needs under the ~45× explode.
    Exact ``bit_count(xor)`` verify either way.
    """
    from tiledb_vector_search_spark.operators.hamming import (
        hamming_near_pairs,
    )

    s = simhash(df, text_col, id_col, bits, hash_family=hash_family)
    return hamming_near_pairs(
        s, bits=bits, max_hamming=max_hamming,
        id_col=id_col, hash_col="simhash",
    )


# --- embedding near-dup -------------------------------------------------------

def embedding_near_duplicates(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """(id_a < id_b) pairs with cosine similarity ≥ threshold — ALL-PAIRS.

    O(n²); use only on bounded candidate sets.  This is the within-bucket
    verifier for :func:`embedding_near_duplicates_lsh`, which is the scale
    path.
    """
    from tiledb_vector_search_spark.functions.distance import cosine_similarity

    a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("va", "vb"), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def _centering_mean(df: DataFrame, vector_col: str, seed: int) -> "np.ndarray":
    """Global-mean estimate from a bounded per-partition sample — ONE scan.

    Each task pools up to ~1k rows from its partition's first Arrow
    batches, draws a seeded random subset, and emits only (sum, count) —
    so every partition contributes equally to the estimate (a global
    ``limit()`` would take the first partitions in file order, biasing a
    source/label-sorted corpus), per-task IO is a few Arrow batches
    regardless of corpus size, and the driver collects one tiny row per
    partition.  Replaces the previous ``count()`` + ``sample().collect()``
    two-pass form (VERDICT r3 "what's wrong" #4).
    """
    import pandas as pd

    POOL, TAKE = 1024, 128
    vecs = df.select(F.col(vector_col).cast("array<double>").alias("v"))

    def head_stats(batches):
        pool: list = []
        for pdf in batches:
            pool.extend(pdf["v"].iloc[: POOL - len(pool)])
            if len(pool) >= POOL:
                break  # early stop: unread batches are never decoded
        if not pool:
            return
        arr = np.asarray(list(pool), dtype=np.float64)
        rng_l = np.random.default_rng(seed)
        if len(arr) > TAKE:
            arr = arr[rng_l.choice(len(arr), TAKE, replace=False)]
        yield pd.DataFrame({"s": [arr.sum(axis=0).tolist()], "n": [len(arr)]})

    stats = vecs.mapInPandas(head_stats, "s array<double>, n long").collect()
    if not stats:
        raise ValueError("cannot center an empty vector corpus")
    total = np.sum([np.asarray(r["s"], dtype=np.float64) for r in stats], axis=0)
    return total / float(sum(r["n"] for r in stats))


def _hyperplane_band_keys(
    df: DataFrame,
    vector_col: str,
    id_col: str,
    n_planes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, band, key): sign-bit LSH band keys via an Arrow/BLAS kernel.

    Vectors are centered on a sampled mean before projection — synthetic and
    real embedding corpora alike concentrate in a half-space (positive mean
    component), which would make the raw sign bits heavily correlated and
    the buckets skewed.  Centering restores ~fair coins for unrelated pairs
    while near-identical pairs keep near-identical (centered) directions.
    """
    import pandas as pd

    spark = df.sparkSession
    rows_per_band = n_planes // bands
    mean = _centering_mean(df, vector_col, seed)
    dims = mean.shape[0]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dims))
    bc = spark.sparkContext.broadcast((planes, mean))

    def project(batches):
        planes_l, mean_l = bc.value
        rpb = rows_per_band
        nb = bands
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            x = np.array(list(pdf[vector_col]), dtype=np.float64) - mean_l
            bits = (x @ planes_l.T) > 0  # (n, n_planes)
            weights = 1 << np.arange(rpb, dtype=np.int64)
            out_ids, out_band, out_key = [], [], []
            for b in range(nb):
                chunk = bits[:, b * rpb : (b + 1) * rpb]
                keys = chunk @ weights
                out_ids.append(ids)
                out_band.append(np.full(len(ids), b, dtype=np.int32))
                out_key.append(keys.astype(np.int64))
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_ids),
                    "band": np.concatenate(out_band),
                    "key": np.concatenate(out_key),
                }
            )

    return df.select(
        F.col(id_col), F.col(vector_col).cast("array<double>").alias(vector_col)
    ).mapInPandas(project, schema=f"{id_col} long, band int, key long")


def embedding_near_duplicates_lsh(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 64,
    bands: int = 4,
    seed: int = 7,
    materialize: bool = True,
) -> DataFrame:
    """Scale-path embedding near-dup: random-hyperplane LSH → banded
    equi-join → exact cosine verify on candidates only.

    64 planes / 4 bands / 16 rows: an unrelated (centered-orthogonal) pair
    collides in a band with p = 2⁻¹⁶, so candidates ≈ 4·n²/65536 random hits
    plus the true near-dups; a pair at cosine 0.9999 has per-bit agreement
    p ≈ 0.9955 → miss (1−p¹⁶)⁴ ≈ 2e-5.  Exact verification removes all false
    positives, so at high thresholds output ≡ the all-pairs form (pinned by
    oracle).  Reference analogue: the IVF bucket-restricted comparison; LSH
    replaces trained centroids with data-independent hashes.
    """
    keys = _hyperplane_band_keys(df, vector_col, id_col, n_planes, bands, seed)
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    from tiledb_vector_search_spark.functions.distance import cosine_similarity

    va = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("vb"))
    gated, handle = _gated_pairs(cand)
    verified = (
        va.join(gated, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("va", "vb"), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )
    if materialize:
        return _materialize_and_release(verified, handle)
    return verified


# --- line-level dedup (C4/Dolma-style boilerplate removal) -------------------


def line_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(line, n_docs): how many DISTINCT documents contain each trimmed,
    non-empty line.  The heavy-hitter profile that identifies boilerplate
    (cookie banners, nav menus) in C4/Dolma-style cleaning.

    One explode + one (line, doc) distinct + one count shuffle — linear in
    corpus size; the line key is the natural shuffle key at any scale.
    """
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("__raw"),
    ).select(F.col(id_col), F.trim("__raw").alias("line"))
    return (
        lines.where(F.col("line") != "")
        .distinct()
        .groupBy("line")
        .agg(F.count("*").alias("n_docs"))
    )


def strip_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove lines appearing in ≥ ``min_docs`` documents; reassemble docs.

    posexplode keeps line order stable through the anti-join; the
    boilerplate side is the df ≥ threshold heavy-hitter set — NOT hinted
    broadcast (its size is corpus-dependent; AQE decides).  Returns
    (id, text) with surviving lines re-joined by newline; docs whose every
    line was boilerplate keep an empty text (they remain addressable for a
    downstream length filter, matching the quality-pipeline contract).
    """
    boiler = line_frequencies(df, text_col, id_col).where(
        F.col("n_docs") >= min_docs
    ).select(F.col("line").alias("__bline"))
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "__raw"),
    ).withColumn("__t", F.trim("__raw"))
    kept = lines.join(
        boiler, (F.col("__t") == F.col("__bline")) & (F.col("__t") != ""), "left_anti"
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__raw"))),
                lambda s: s["__raw"],
            ),
            "\n",
        ).alias(text_col)
    )
    # docs whose every line was boilerplate keep an empty text row
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .select(F.col(id_col), F.coalesce(text_col, F.lit("")).alias(text_col))
    )


def jaccard_topk_sparse(
    docs: DataFrame,
    query_ids,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Top-k NONZERO shingle-Jaccard neighbors per query doc, with no
    cross join: the classic inverted-index sparse-similarity plan.

    corpus → (doc, shingle) postings; queries join the postings on the
    SHINGLE key; |A∩B| is an integer count per (query, doc) group, so
    Jaccard is an exact rational — identical regardless of aggregation
    order (oracle-stable).  Shuffles carry (shingle) then (query, doc)
    keys — linear in total postings; pairs sharing no shingle never
    materialize.  ``query_ids``: collection of ids, or a one-column
    DataFrame for query sets too large to inline.
    """
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("__sh")
    ).where(F.size("__sh") > 0)
    posts = sh.select(
        F.col(id_col),
        F.size("__sh").alias("__n"),
        F.explode("__sh").alias("__shingle"),
    )
    if isinstance(query_ids, DataFrame):
        qposts = posts.join(
            query_ids.select(F.col(query_ids.columns[0]).alias(id_col)), id_col
        )
    else:
        qposts = posts.where(F.col(id_col).isin(list(query_ids)))
    qposts = qposts.select(
        F.col(id_col).alias("query_doc"),
        F.col("__n").alias("__nq"),
        "__shingle",
    )
    inter = (
        qposts.join(posts, "__shingle")
        .where(F.col(id_col) != F.col("query_doc"))
        .groupBy("query_doc", F.col(id_col).alias("similar_doc"))
        .agg(
            F.count("*").alias("__i"),
            F.first("__nq").alias("__nq"),
            F.first("__n").alias("__nb"),
        )
    )
    scored = inter.select(
        "query_doc",
        "similar_doc",
        F.round(
            F.col("__i").cast("double")
            / (F.col("__nq") + F.col("__nb") - F.col("__i")).cast("double"),
            6,
        ).alias("jaccard"),
    )
    from tiledb_vector_search_spark.operators.topk import topk_window

    return topk_window(
        scored,
        ["query_doc"],
        [F.col("jaccard").desc(), F.col("similar_doc").asc()],
        k,
    )


# --- exact duplicate-span detection ------------------------------------------


def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """(doc_id, span_start, span_end): maximal token spans whose every
    length-``n`` gram also appears in ≥ ``min_docs`` documents.

    Substring-level exact dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): full-document dedup misses a
    boilerplate paragraph shared across otherwise-distinct pages; this
    flags the shared REGION inside each document, token-positioned, so a
    cleaning pass can excise exactly it (`strip_duplicate_spans`).

    Spark shape (100 TB): tokens materialize once behind the projection;
    the exploded frame carries (id, pos, gram-hash long) — 24 bytes per
    corpus token, never the text.  Cross-corpus frequency is ONE
    hash-aggregate on the 64-bit gram hash; positions of frequent grams
    come back via an un-hinted semi-join (AQE broadcasts when the
    frequent-gram set is small — the normal case); interval merging is a
    per-document window (running-max end, gap-flag cumsum — no UDF).
    Suffix arrays (the paper's tool) need a global sort of every suffix;
    the n-gram postings formulation reaches the same duplicated-span set
    for spans ≥ n with shuffles that are all hash-partitioned.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1; got {n}")
    from tiledb_vector_search_spark.functions.text import (
        stable_hash64,
        tokens,
    )

    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t")
    )
    # spread a source narrower than the cluster (the one-file fixture) so
    # the gram projection below — the pipeline's dominant CPU — runs on
    # every core; the exchange also pins the token regex to one evaluation
    # per row (``_shingle_docs``).  A wide input skips it.
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        toks = toks.repartition(target, "doc_id")
    idx = F.when(
        F.size("__t") >= n, F.sequence(F.lit(1), F.size("__t") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    stable_hash64(
                        F.array_join(F.slice("__t", i, n), " ")
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    if materialize:
        # r11 opt: grams feed TWO consumers (the frequency aggregate and
        # the position semi-join); without a cache each re-runs the
        # tokenize + gram-hash projection — the pipeline's dominant CPU
        # — over the whole corpus.  24 B/token cached (the hash frame,
        # never the text), released after the (small) span result
        # materializes — the session-hygiene contract the other dedup
        # pipelines follow.  materialize=False keeps the lazy
        # recompute-twice plan for plan inspection / caller-managed
        # reuse.
        from pyspark import StorageLevel

        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    dup_hashes = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    if materialize:
        # eager: under one lazy action AQE submits the two consumers'
        # exchange stages CONCURRENTLY (this frequency aggregate and
        # the join-side window exchange); on a cold cache both
        # recompute — or block-lock-serialize on — the tokenize+
        # gram-hash projection (measured: two overlapping jobs each
        # paying the full single-pass CPU).  Materializing the (small)
        # frequent-gram set first populates the grams cache as a side
        # effect, so the main action's stages all read blocks — same
        # pass count as the lazy plan, no duplicated projection.
        dup_hashes = dup_hashes.localCheckpoint(eager=True)
    hits = grams.join(dup_hashes, "h", "left_semi")

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "__new", F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0)
    ).withColumn("__grp", F.sum("__new").over(w))
    res = (
        flagged.groupBy("doc_id", "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
        )
        .drop("__grp")
        .select("doc_id", "span_start", "span_end")
    )
    if materialize:
        return _materialize_and_release(res, grams)
    return res


def strip_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove the flagged token spans from each document's text.

    Token-level reconstruction: documents re-tokenize with the same
    normalizer, tokens covered by any span drop, survivors re-join with
    single spaces.  Documents with no flagged span pass through with
    their NORMALIZED token text (the operation is defined on the token
    stream, not raw bytes — same contract as the boilerplate remover).

    The spans frame's id column is ``duplicate_spans``'s output name
    (``doc_id``) OR ``id_col`` — both are accepted.  Spans may overlap
    (they are interval-merged in-plan first); cost is
    O(tokens + spans·log spans) per document: the sorted, merged spans
    partition [1, |tokens|] into kept gaps and survivors come out as
    array slices — no per-token span membership probe, so a document
    with thousands of flagged spans stays linear.
    """
    from tiledb_vector_search_spark.functions.text import tokens

    span_id = id_col if id_col in spans.columns else "doc_id"
    per_doc = spans.groupBy(F.col(span_id).alias(id_col)).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    # interval-merge overlapping/adjacent spans (sorted by span_start):
    # fold keeps the invariant "accumulator is merged and sorted"
    merged = F.aggregate(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
        lambda acc, sp: F.when(
            (F.size(acc) > 0)
            & (sp["span_start"] <= F.element_at(acc, -1)["span_end"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["span_start"].alias("span_start"),
                        F.greatest(
                            F.element_at(acc, -1)["span_end"], sp["span_end"]
                        ).alias("span_end"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        sp["span_start"].cast("long").alias("span_start"),
                        sp["span_end"].cast("long").alias("span_end"),
                    )
                ),
            )
        ),
    )
    toks = (
        docs.select(F.col(id_col), tokens(text_col).alias("__t"))
        .join(per_doc, id_col, "left")
        .withColumn("__m", F.coalesce(merged, F.array()))
    )
    # kept gaps between consecutive merged spans: starts = 1 ∪ (end_i + 1),
    # ends = (start_i − 1) ∪ |tokens|; empty/negative gaps filter out
    starts = F.concat(
        F.array(F.lit(1).cast("long")),
        F.transform(F.col("__m"), lambda sp: sp["span_end"] + 1),
    )
    ends = F.concat(
        F.transform(F.col("__m"), lambda sp: sp["span_start"] - 1),
        F.array(F.size("__t").cast("long")),
    )
    gaps = F.filter(
        F.zip_with(
            starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
        ),
        lambda g: g["e"] >= g["s"],
    )
    kept = F.flatten(
        F.transform(
            gaps,
            lambda g: F.slice(
                F.col("__t"),
                g["s"].cast("int"),
                (g["e"] - g["s"] + 1).cast("int"),
            ),
        )
    )
    return toks.select(
        F.col(id_col), F.array_join(kept, " ").alias(text_col)
    )


# --- cross-corpus dedup -------------------------------------------------------


def minhash_dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """(new_id, ref_id, jaccard): new documents near-duplicating a
    REFERENCE corpus — the incremental-crawl dedup step ("drop anything
    already in the training set"), which within-corpus ``minhash_dedup``
    cannot express (it would also pair new↔new).

    Same machinery, asymmetric join: both corpora shingle → sign → band
    once; candidates are a (band, bucket) equi-join of NEW band keys
    against REF band keys (shuffle on small md5 keys; bucket-local
    blowup only — the LSH contract), verified by exact shingle-Jaccard.
    At 100 TB the reference side's signatures/bands are computed once
    and reusable across crawl increments (they're a deterministic
    function of the text), so steady-state cost is proportional to the
    NEW increment, not the accumulated corpus.

    Id spaces may overlap freely (the two frames are distinct tables; no
    ``id < id`` ordering is applied).
    """
    from pyspark import StorageLevel

    sh_new = _shingle_docs(new_df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh_ref = _shingle_docs(ref_df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    b_new = _band_keys(
        _affine_minhash_signatures(sh_new, id_col, num_perm), id_col, num_perm, bands
    ).select(F.col(id_col).alias("new_id"), "band", "bucket")
    b_ref = _band_keys(
        _affine_minhash_signatures(sh_ref, id_col, num_perm), id_col, num_perm, bands
    ).select(F.col(id_col).alias("ref_id"), "band", "bucket")
    cand = b_new.join(b_ref, ["band", "bucket"]).select("new_id", "ref_id").distinct()
    gated, handle = _gated_pairs(cand.withColumnRenamed("new_id", "id_a")
                                     .withColumnRenamed("ref_id", "id_b"))
    a = sh_new.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh_ref.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    out = (
        a.join(gated, "id_a")
        .join(b, "id_b")
        .withColumn("__i", inter)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("ref_id"),
            F.round(
                F.col("__i")
                / ((F.size("sh_a") + F.size("sh_b")).cast("double") - F.col("__i")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    if materialize:
        out = _materialize_and_release(out, handle, sh_new, sh_ref)
    return out


def semantic_dedup(
    df: DataFrame,
    num_clusters: int,
    threshold: float = 0.95,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "centroid_far",
    centroids: "np.ndarray | None" = None,
    seed: int = 42,
    vector_dtype: str = "float32",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, arXiv:2303.09540): k-means cluster, then EXACT
    pairwise cosine within each cluster — pairs ≥ ``threshold`` form
    duplicate groups and one representative per group is kept.

    Complements :func:`embedding_near_duplicates_lsh`: the LSH form is
    the sub-quadratic candidate generator for a flat corpus; this is the
    paper's design where ``num_clusters`` BOUNDS the quadratic — within
    a cluster the pairwise product is exact (no hash misses), and the
    cluster size is the knob (pick ``num_clusters ≈ n / 10k`` so a
    cluster's similarity matrix fits one task).  100 TB posture: one
    bounded-sample k-means, one broadcast assign pass (no shuffle), one
    shuffle on cluster id into ``applyInPandas``; per-task memory is
    O(cluster_size²) floats — sized by ``num_clusters``, not the corpus.

    ``keep``: ``centroid_far`` keeps the group member FARTHEST from its
    cluster centroid (the paper's choice — keeps hard examples),
    ``min_id`` keeps the smallest id (fully order-free).  Ties break by
    id either way, so results are deterministic.

    Returns (id, cluster, group_id, keep) — ``group_id`` is the
    smallest id of the duplicate component (own id when unique);
    ``keep`` marks the retained representative.
    """
    import pandas as pd

    from tiledb_vector_search_spark.ml.kmeans import (
        assign_partitions_expr,
        default_training_sample_size,
        train_centroids_ml,
    )

    if keep not in ("centroid_far", "min_id"):
        raise ValueError(f"unknown keep policy: {keep}")
    if vector_dtype not in ("float32", "float64"):
        raise ValueError(f"unsupported vector_dtype: {vector_dtype}")
    # float32 is the vector-pipeline default (half the shuffle bytes);
    # float64 keeps the cosine/centroid decisions bit-comparable to a
    # double-precision oracle (the driver-verified entry uses it)
    sql_t = "array<float>" if vector_dtype == "float32" else "array<double>"
    # string ids are first-class (the other dedup operators' contract):
    # grouping and the min-id canonical need only a total order.  The
    # old unconditional cast("long") nulled string ids silently; a
    # fractional id would truncate-and-merge, so it raises.
    id_type = dict(df.dtypes)[id_col]
    if id_type == "string":
        id_is_str, id_sql = True, "string"
    elif id_type in ("tinyint", "smallint", "int", "bigint"):
        id_is_str, id_sql = False, "long"
    else:
        raise TypeError(
            f"semantic_dedup: id column {id_col!r} has type {id_type}; "
            "expected an integral or string id"
        )
    vecs = df.select(
        (F.col(id_col) if id_is_str else F.col(id_col).cast("long")).alias(
            "__id"
        ),
        F.col(vector_col).cast(sql_t).alias("__v"),
    )
    if centroids is None:
        n = vecs.count()
        k = max(1, min(num_clusters, n))
        cents = train_centroids_ml(
            vecs.withColumnRenamed("__id", "external_id")
            .withColumnRenamed("__v", "vector"),
            k,
            default_training_sample_size(n, k),
            n,
            vector_col="vector",
            seed=seed,
        )
    else:
        cents = np.asarray(centroids, dtype=np.float64)
    assigned = assign_partitions_expr(
        vecs, cents, vector_col="__v", out_col="__cluster",
        vector_dtype=vector_dtype,
    )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cents)
    thr = float(threshold)
    policy = keep

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id", ignore_index=True)
        ids = pdf["__id"].to_numpy(
            dtype=object if id_is_str else np.int64
        )
        x = np.asarray(list(pdf["__v"]), dtype=np.float64)
        cl = int(pdf["__cluster"].iloc[0])
        norms = np.linalg.norm(x, axis=1)
        xn = x / np.maximum(norms, 1e-12)[:, None]
        sims = xn @ xn.T
        m = len(ids)
        # union-find over pairs ≥ threshold (transitive duplicate groups)
        parent = np.arange(m)

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        ii, jj = np.nonzero(np.triu(sims >= thr, k=1))
        for a, b in zip(ii, jj):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = np.array([find(i) for i in range(m)])
        cent = bc.value[cl]
        d_cent = np.linalg.norm(x - cent[None, :], axis=1)
        keep_flag = np.zeros(m, dtype=bool)
        group_id = np.empty(m, dtype=object if id_is_str else np.int64)
        for r in np.unique(roots):
            members = np.nonzero(roots == r)[0]
            # python min: object-dtype string ids have no np reduction
            group_id[members] = min(ids[i] for i in members)
            if policy == "min_id":
                chosen = min(members, key=lambda i: ids[i])
            else:  # centroid_far: farthest from centroid, ties by id
                far = d_cent[members]
                best = members[far == far.max()]
                chosen = min(best, key=lambda i: ids[i])
            keep_flag[chosen] = True
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": cl,
                "group_id": group_id,
                "keep": keep_flag,
            }
        )

    schema = (
        f"{id_col} {id_sql}, cluster int, group_id {id_sql}, keep boolean"
    )
    return (
        assigned.groupBy("__cluster")
        .applyInPandas(dedup_cluster, schema)
        .orderBy(id_col)
    )


class MinHashReference:
    """Persisted reference-corpus MinHash artifact: band keys + shingles
    computed ONCE, reused by every crawl increment — the build-once/
    query-many split :func:`minhash_dedup_against` argues for, made an
    on-disk contract (the BM25Index/ANN-index artifact discipline for
    the dedup family, and the snapshot the streaming twin
    ``streaming/dedup_against.py`` re-resolves per micro-batch).

    Layout under ``uri``:
      - ``bands/``            (doc_id, band, bucket)
      - ``shingles/``         (doc_id, __sh array) — exact-verify side
      - ``bands_batches/batch=N/`` + ``shingles_batches/batch=N/`` —
        ``add_documents`` increments, visible only once the atomic meta
        flip lists the batch id (crash-atomic: an orphan batch dir from
        a crashed add is never read)
      - ``bands_gen<g>/`` + ``shingles_gen<g>/`` — :meth:`consolidate`
        folds, swapped in by generation pointers in meta
      - ``_minhash_ref_meta.json`` — num_perm/bands/shingle_n (so every
        increment and every query signs with the SAME family) + the
        committed batch list + generation dir pointers.
    """

    META_FILE = "_minhash_ref_meta.json"

    def __init__(self, spark: SparkSession, uri: str):
        import json as _json
        import posixpath

        from tiledb_vector_search_spark.storage import HadoopFS

        self.spark = spark
        self.uri = uri.rstrip("/")
        fs = HadoopFS(spark, self.uri)
        self.meta = _json.loads(
            fs.read_text(posixpath.join(self.uri, self.META_FILE))
        )

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        uri: str,
        ref_df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_perm: int = DEFAULT_NUM_PERM,
        bands: int = DEFAULT_BANDS,
        shingle_n: int = 3,
    ) -> "MinHashReference":
        import json as _json
        import posixpath

        from pyspark import StorageLevel

        from tiledb_vector_search_spark.storage import HadoopFS

        uri = uri.rstrip("/")
        sh = _shingle_docs(ref_df, text_col, id_col, shingle_n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            _band_keys(
                _affine_minhash_signatures(sh, id_col, num_perm),
                id_col, num_perm, bands,
            ).write.mode("overwrite").parquet(posixpath.join(uri, "bands"))
            sh.write.mode("overwrite").parquet(
                posixpath.join(uri, "shingles")
            )
        finally:
            sh.unpersist()
        HadoopFS(spark, uri).write_text_atomic(
            posixpath.join(uri, cls.META_FILE),
            _json.dumps(
                {
                    "id_col": id_col,
                    "text_col": text_col,
                    "num_perm": num_perm,
                    "bands": bands,
                    "shingle_n": shingle_n,
                    "batches": [],
                }
            ),
        )
        return cls(spark, uri)

    def _dirs(self, base: str) -> list:
        import posixpath

        # generation pointer: consolidate() repoints "<base>_dir" at a
        # folded "<base>_gen<g>/" dir and empties the batch list in ONE
        # atomic meta flip (the BM25Index discipline)
        dirs = [posixpath.join(self.uri, self.meta.get(f"{base}_dir", base))]
        for b in self.meta.get("batches", []):
            dirs.append(
                posixpath.join(self.uri, f"{base}_batches", f"batch={b}")
            )
        return dirs

    def _read_tree(self, base: str) -> DataFrame:
        """Reader over generation dir + batch dirs for ``base``
        (``bands``/``shingles``), with the resolved reader (listing +
        schema, ~0.1 s of driver round-trips per call with many batch
        dirs) memoized per committed-batch state — a streaming screen
        re-opens the handle every micro-batch against an unchanged
        artifact."""
        from tiledb_vector_search_spark.storage import (
            cached_snapshot_artifact,
        )

        dirs = self._dirs(base)
        key = (
            "mh_tree_df", id(self.spark), self.uri, base, tuple(dirs),
        )
        return cached_snapshot_artifact(
            key, lambda: self.spark.read.parquet(*dirs)
        )

    @property
    def batch_debt(self) -> int:
        """Un-consolidated increment dirs — the signal to run
        :meth:`consolidate`.  META-ONLY (no Spark job): per-batch loops
        like ``streaming/minhash_ingest.py`` read this every
        micro-batch; ``describe()`` adds a corpus-scale row count on
        top and is NOT a per-batch call."""
        return len(self.meta.get("batches", []))

    def describe(self) -> dict:
        """Operational snapshot: the signing family, the committed batch
        debt (the signal to run :meth:`consolidate`), and the artifact
        size.  ``n_docs`` is a parquet-footer row count — no shuffle."""
        return {
            "num_perm": self.meta["num_perm"],
            "bands": self.meta["bands"],
            "shingle_n": self.meta["shingle_n"],
            "generation": int(self.meta.get("generation", 0)),
            "batch_debt": len(self.meta.get("batches", [])),
            "n_docs": self.spark.read.parquet(
                *self._dirs("shingles")
            ).count(),
        }

    @locked_mutation
    def consolidate(self) -> None:
        """Fold every committed ``add_documents`` batch into fresh base
        dirs — the dedup twin of ``BM25Index.consolidate``.

        A crawl pipeline calls ``add_documents`` once per increment
        forever; after hundreds of increments the per-batch layout is a
        small-files problem and every ``match()`` (and every streaming
        micro-batch) unions hundreds of dirs.  The fold restores the
        one-dir steady state: bands repartitioned by (band, bucket) so a
        band join prunes cleanly, shingles by doc id.

        CRASH-SAFE via generation pointers: the folded data lands in
        ``bands_gen<g>/`` + ``shingles_gen<g>/`` which no reader
        resolves, then ONE atomic meta flip repoints ``bands_dir`` /
        ``shingles_dir`` and empties the batch list.  A crash before the
        flip leaves the artifact byte-identical (a retry overwrites the
        orphan gen dirs); after the flip the old dirs are garbage and
        deleted best-effort.  ``match()`` results are BIT-IDENTICAL
        before and after (pinned by test), and the streaming twin
        re-resolves the new generation at its next micro-batch (it
        re-opens the artifact through the meta pointer per batch)."""
        import json as _json
        import posixpath

        from tiledb_vector_search_spark.storage import (
            HadoopFS,
            fenced_meta_flip,
        )

        if not self.meta.get("batches", []):
            return  # zero debt: nothing to fold
        gen = int(self.meta.get("generation", 0)) + 1
        new_bands = f"bands_gen{gen}"
        new_shingles = f"shingles_gen{gen}"
        nparts = self.spark.sparkContext.defaultParallelism
        id_col = self.meta["id_col"]
        self.spark.read.parquet(*self._dirs("bands")).repartition(
            nparts, "band", "bucket"
        ).write.mode("overwrite").parquet(
            posixpath.join(self.uri, new_bands)
        )
        self.spark.read.parquet(*self._dirs("shingles")).repartition(
            nparts, id_col
        ).write.mode("overwrite").parquet(
            posixpath.join(self.uri, new_shingles)
        )
        # the whole *_batches trees go too: post-flip the batch list is
        # empty, so nothing references them (not just their subdirs)
        old_dirs = (
            self._dirs("bands")
            + self._dirs("shingles")
            + [
                posixpath.join(self.uri, "bands_batches"),
                posixpath.join(self.uri, "shingles_batches"),
            ]
        )
        # commit point: one atomic meta flip swaps the generation in and
        # zeroes the batch debt — fenced against concurrent writers
        fs = HadoopFS(self.spark, self.uri)
        self.meta = fenced_meta_flip(
            fs,
            posixpath.join(self.uri, self.META_FILE),
            {
                **self.meta,
                "bands_dir": new_bands,
                "shingles_dir": new_shingles,
                "generation": gen,
                "batches": [],
            },
            int(self.meta.get("meta_version", 0)),
        )
        # post-commit GC: the old generation + batch dirs are no longer
        # referenced by any reader; failure here cannot corrupt the
        # artifact (a crashed GC just leaves unreferenced dirs)
        for d in old_dirs:
            fs.delete(d)

    @locked_mutation
    def add_documents(
        self,
        ref_df: DataFrame,
        idempotency_key: str | None = None,
        precomputed_shingles: DataFrame | None = None,
        precomputed_bands: DataFrame | None = None,
    ) -> None:
        """Grow the reference by an increment (e.g. yesterday's accepted
        crawl) — signs ONLY the new docs with the artifact's own hash
        family; crash-atomic via the staged-batch + meta-flip discipline
        (``BM25Index.add_documents``).

        ``idempotency_key``: recorded in the SAME meta flip that commits
        the batch; a later call with an already-recorded key is a NO-OP
        — the exactly-once handle for at-least-once delivery
        (``streaming/minhash_ingest.py`` keys each micro-batch as
        ``<stream_id>:<batch_id>``).  Bounded tail ledger (1024 keys —
        re-delivery only ever replays a recent window); survives
        ``consolidate()`` (the fold spreads meta).

        A keyed commit also writes the batch's ids to
        ``ids_batches/batch=<bid>`` and maps key → bid in meta
        (``applied_key_batches``), so a replayer can reconstruct
        EXACTLY which documents this key committed with an
        increment-sized read (:meth:`accepted_ids_for_key`) instead of
        scanning the corpus-sized shingle tree — the
        ``stream_crawl_loop`` re-delivery path.  The ids record
        survives ``consolidate()`` (it lives outside the folded trees)
        and is garbage-collected when its key falls off the ledger."""
        import json as _json
        import posixpath

        from pyspark import StorageLevel

        from tiledb_vector_search_spark.storage import (
            HadoopFS,
            fenced_meta_flip,
        )

        if idempotency_key is not None and idempotency_key in self.meta.get(
            "applied_keys", []
        ):
            return  # this increment already committed — re-delivery no-op
        id_col = self.meta["id_col"]
        # the accepted-id set feeds up to three consumers (two semi-join
        # broadcasts + the replay-ids record): evaluate it ONCE and let
        # its count double as the file-sizing row count — previously each
        # consumer re-ran the distinct and a separate count() job sized
        # the files
        ids = ref_df.select(id_col).distinct().persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n_new = ids.count()
        own_sh = precomputed_shingles is None
        if own_sh:
            sh = _shingle_docs(
                ref_df, self.meta["text_col"], id_col, self.meta["shingle_n"]
            ).persist(StorageLevel.MEMORY_AND_DISK)
        else:
            # r11 opt: the crawl loop already shingled the whole batch
            # for the screen — restrict that cached frame to the
            # accepted subset instead of re-tokenizing the text (the
            # ingest side's second full tokenize/shingle pass over the
            # increment goes away; at scale that is a whole extra read
            # of the accepted text).  The caller owns persistence.
            sh = precomputed_shingles.join(
                F.broadcast(ids), id_col, "left_semi"
            )
        committed = self.meta.get("batches", [])
        # ordinal + nonce entry (ints in pre-fence artifacts): the nonce
        # makes the staged dir unique per mutation attempt, so a
        # fenced-off concurrent writer can never have clobbered the
        # winner's committed batch dirs on its way to the failing flip
        ordinal = (
            max([0] + [int(str(e).split("-")[0]) for e in committed]) + 1
        )
        bid = f"{ordinal}-{_uuid.uuid4().hex[:8]}"
        if precomputed_bands is not None:
            # band keys of the accepted subset = the batch-wide band
            # frame restricted by id (band keys are per-doc) — the
            # screen's signature pass is reused, not re-run
            bands_out = precomputed_bands.join(
                F.broadcast(ids), id_col, "left_semi"
            )
        else:
            bands_out = _band_keys(
                _affine_minhash_signatures(
                    sh, id_col, self.meta["num_perm"]
                ),
                id_col, self.meta["num_perm"], self.meta["bands"],
            )
        # r11 opt (guide §6 small files): batch dirs sized by the
        # INCREMENT, not the core count — a small micro-batch previously
        # left defaultParallelism near-empty files per dir, and every
        # later match() scans all batch dirs.  ~100k docs per file;
        # large increments keep full write parallelism.
        parts = max(
            1,
            min(
                self.spark.sparkContext.defaultParallelism,
                n_new // 100_000 + 1,
            ),
        )
        if precomputed_bands is None:
            # a coalesce here would fold into the signature aggregation
            # and serialize its CPU; an increment-sized exchange after
            # the agg is the cheap way to keep sign parallelism AND the
            # small file count
            bands_out = bands_out.repartition(parts)
        else:
            bands_out = bands_out.coalesce(parts)
        # the batch writes are independent small jobs on disjoint output
        # dirs — submit them from driver threads so the second job's
        # tasks back-fill the first's tail (guide §2.6) instead of
        # paying two full job latencies back to back
        from concurrent.futures import ThreadPoolExecutor

        def _w_bands():
            bands_out.write.mode("overwrite").parquet(
                posixpath.join(self.uri, "bands_batches", f"batch={bid}")
            )

        def _w_sh():
            sh.coalesce(parts).write.mode("overwrite").parquet(
                posixpath.join(self.uri, "shingles_batches", f"batch={bid}")
            )

        writes = [_w_bands, _w_sh]
        if idempotency_key is not None:
            # increment-sized replay record: the exact ids this key
            # commits, readable later without touching the shingle tree
            def _w_ids():
                ids.coalesce(1).write.mode("overwrite").parquet(
                    posixpath.join(self.uri, "ids_batches", f"batch={bid}")
                )

            writes.append(_w_ids)
        try:
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                for _ in pool.map(lambda w: w(), writes):
                    pass
        finally:
            if own_sh:
                sh.unpersist()
            ids.unpersist()
        # commit point: fenced atomic meta flip (a zombie writer raises
        # instead of silently dropping a committed batch)
        new_meta = {**self.meta, "batches": list(committed) + [bid]}
        dropped_ids_dirs: list[str] = []
        if idempotency_key is not None:
            # (the ids record itself was written above, concurrently
            # with the bands/shingles batch dirs)
            new_meta["applied_keys"] = (
                list(self.meta.get("applied_keys", [])) + [idempotency_key]
            )[-1024:]
            key_batches = dict(self.meta.get("applied_key_batches", {}))
            key_batches[idempotency_key] = bid
            kept = set(new_meta["applied_keys"])
            dropped_ids_dirs = [
                posixpath.join(self.uri, "ids_batches", f"batch={v}")
                for k, v in key_batches.items()
                if k not in kept
            ]
            new_meta["applied_key_batches"] = {
                k: v for k, v in key_batches.items() if k in kept
            }
        self.meta = fenced_meta_flip(
            HadoopFS(self.spark, self.uri),
            posixpath.join(self.uri, self.META_FILE),
            new_meta,
            int(self.meta.get("meta_version", 0)),
        )
        # post-commit GC: ids records whose keys fell off the bounded
        # ledger are unreferenced; a crash here leaves orphan dirs only
        fs = HadoopFS(self.spark, self.uri)
        for d in dropped_ids_dirs:
            fs.delete(d)

    def accepted_ids_for_key(self, idempotency_key: str):
        """The exact id set a keyed :meth:`add_documents` committed, as
        a one-column DataFrame — or ``None`` when the key is unknown
        (never committed, fell off the bounded ledger, or a pre-record
        artifact).  An INCREMENT-SIZED read: one tiny parquet file per
        batch, regardless of corpus size — the ``stream_crawl_loop``
        replay path uses this instead of semi-joining the corpus-sized
        shingle tree."""
        import posixpath

        from tiledb_vector_search_spark.storage import HadoopFS

        bid = self.meta.get("applied_key_batches", {}).get(idempotency_key)
        if bid is None:
            return None
        path = posixpath.join(self.uri, "ids_batches", f"batch={bid}")
        if not HadoopFS(self.spark, self.uri).exists(path):
            return None
        return self.spark.read.parquet(path)

    @locked_mutation
    def vacuum_orphans(self) -> list:
        """Delete staged batch dirs no committed meta references —
        leftovers of crashed mutations and of fenced-off concurrent
        writers (the fence abandons the loser's staged dirs).  Readers
        resolve dirs only through meta, so orphans are invisible by
        construction; this reclaims the bytes.  The per-key replay
        records (``ids_batches``) referenced by the idempotency ledger
        stay.  The writer lease serializes it against live mutations —
        unserialized, a vacuum racing an in-flight add would reclaim
        the add's staged dirs moments before their commit.  Returns
        the deleted paths."""
        import posixpath

        from tiledb_vector_search_spark.storage import HadoopFS

        fs = HadoopFS(self.spark, self.uri)
        live = {f"batch={b}" for b in self.meta.get("batches", [])}
        live |= {
            f"batch={b}"
            for b in self.meta.get("applied_key_batches", {}).values()
        }
        deleted = []
        for tree in ("bands_batches", "shingles_batches", "ids_batches"):
            root = posixpath.join(self.uri, tree)
            for name in fs.listdir(root):
                if name.startswith("batch=") and name not in live:
                    path = posixpath.join(root, name)
                    if fs.delete(path):
                        deleted.append(path)
        return deleted

    def match(
        self,
        new_df: DataFrame,
        threshold: float = 0.8,
        text_col: str | None = None,
        id_col: str | None = None,
        materialize: bool = True,
        precomputed_shingles: DataFrame | None = None,
        precomputed_bands: DataFrame | None = None,
    ) -> DataFrame:
        """(new_id, ref_id, jaccard): new docs near-duplicating the
        reference — :func:`minhash_dedup_against` with the reference
        side read from the artifact instead of recomputed.  Cost ∝ the
        NEW increment plus the band-matched slice of the artifact.

        ``precomputed_shingles`` / ``precomputed_bands``: the
        ``_shingle_docs`` / ``_band_keys`` frames of EXACTLY ``new_df``
        (caller-persisted, caller-released, signed with the artifact's
        own family) — the crawl loop shares one shingle pass and one
        signature pass between screen and ingest."""
        from pyspark import StorageLevel

        rid = self.meta["id_col"]
        id_col = id_col or rid
        text_col = text_col or self.meta["text_col"]
        own_sh = precomputed_shingles is None
        if own_sh:
            sh_new = _shingle_docs(
                new_df, text_col, id_col, self.meta["shingle_n"]
            ).persist(StorageLevel.MEMORY_AND_DISK)
        else:
            sh_new = precomputed_shingles
        if precomputed_bands is not None:
            b_new = precomputed_bands.select(
                F.col(id_col).alias("new_id"), "band", "bucket"
            )
        else:
            b_new = _band_keys(
                _affine_minhash_signatures(
                    sh_new, id_col, self.meta["num_perm"]
                ),
                id_col, self.meta["num_perm"], self.meta["bands"],
            ).select(F.col(id_col).alias("new_id"), "band", "bucket")
        b_ref = self._read_tree("bands").select(
            F.col(rid).alias("ref_id"), "band", "bucket"
        )
        cand = (
            b_new.join(b_ref, ["band", "bucket"])
            .select("new_id", "ref_id")
            .distinct()
        )
        gated, handle = _gated_pairs(
            cand.withColumnRenamed("new_id", "id_a").withColumnRenamed(
                "ref_id", "id_b"
            )
        )
        a = sh_new.select(
            F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a")
        )
        b = self._read_tree("shingles").select(
            F.col(rid).alias("id_b"), F.col("__sh").alias("sh_b")
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        out = (
            a.join(gated, "id_a")
            .join(b, "id_b")
            .withColumn("__i", inter)
            .select(
                F.col("id_a").alias("new_id"),
                F.col("id_b").alias("ref_id"),
                F.round(
                    F.col("__i")
                    / (
                        (F.size("sh_a") + F.size("sh_b")).cast("double")
                        - F.col("__i")
                    ),
                    6,
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        if materialize:
            handles = (handle, sh_new) if own_sh else (handle,)
            out = _materialize_and_release(out, *handles)
        return out
