"""Exact n-gram Jaccard dedup via an inverted shingle index (pure DataFrame).

The fully-deterministic, oracle-checkable near-dup path: no hashing, no
sampling — documents pair iff they SHARE at least one n-gram (inverted-index
self-join), and survive iff exact Jaccard over distinct n-gram sets clears
tau. Complements the MinHash path (cpdd_spark.signatures/lsh): same
verification semantics (tier-3 of the reference,
/root/reference/src/cpdd/matching.c:77-83), different candidate generator —
complete but O(postings^2 per shingle), so it's the small/medium-corpus and
ground-truth tool, while MinHash+LSH is the 10^12-turn path.

Everything is `pyspark.sql.functions` (codegen'd, shuffles on shingle then
on pair); the identical computation is expressible in ANSI SQL, which is
exactly how the driver's DuckDB oracle cross-checks it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpdd_spark.textfuncs import ws_tokens


def ngram_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """``(id, shingle)`` distinct word n-grams per document, plus per-doc
    distinct counts. Docs shorter than n tokens contribute nothing.

    Tokenization is the canonical whitespace split
    (:func:`cpdd_spark.textfuncs.ws_tokens` — the JVM twin of the signature
    kernel's pandas ``str.split()``: same character class, empties dropped),
    so n-gram Jaccard and MinHash-verified Jaccard are the same quantity on
    ANY document, not just single-space corpora.

    The tokenization is PROJECTED into its own column before the gram
    transform references it. Inlining ``ws_tokens(text)`` directly inside
    the ``transform`` lambda re-evaluates the regex split of the WHOLE
    document once per gram index — Catalyst does not common-subexpression
    a non-trivial expression into a higher-order function's loop — which
    measured O(tokens^2 * doc_len): 500-token documents took ~0.5 s EACH
    to shingle (470 s for 1k docs; the round-5 scale rehearsal caught it
    as a 390x superlinear stage). With the split bound to a column first,
    codegen evaluates it once per row and the same 1k docs shingle in
    under a second."""
    toks = F.col("__toks")
    # Guard sub-n-token docs: F.sequence(0, size-n) counts DOWN when
    # size < n (e.g. [0,-1]) and F.slice at a negative start throws
    # INVALID_PARAMETER_VALUE.START — so short docs must short-circuit to an
    # empty gram set (they carry no n-grams by definition; the exact tier
    # owns sub-shingle docs, same convention as the LSH screen).
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Three more measured plan hazards, each its own line of defense:
    # - NO pre-gram row filter at all: sub-n-token docs already emit an
    #   empty gram array (the CASE guard above) and the non-outer explode
    #   drops them — identical output. The previous explicit
    #   ``filter(size(__toks) >= n)`` was pushed below the tokenizing
    #   Project by predicate pushdown, re-inlining the full split into the
    #   Filter node: every row paid the tokenization TWICE (seen in the
    #   r8 plan audit as a duplicated split() under Filter(3)/Project(4));
    # - n_grams is computed as a scalar BELOW the explode's Generate: a
    #   Project referencing both size(g) and explode(g) above the Generate
    #   makes every exploded row carry the full gram array (O(doc^2)
    #   bytes per document — measured 40x);
    # - session.get_spark excludes InferFiltersFromGenerate, which would
    #   re-derive the generator expression as a pushed predicate with the
    #   tokenization re-inlined per gram (measured 27x).
    return (
        df.select(
            F.col(id_col).alias("id"), ws_tokens(F.col(text_col)).alias("__toks")
        )
        .select("id", grams.alias("grams"))
        .select("id", F.size("grams").alias("n_grams"), F.col("grams"))
        .select("id", "n_grams", F.explode("grams").alias("shingle"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    tau: float = 0.7,
    max_doc_freq: int | None = None,
    store: Callable[[str, Callable[[], DataFrame]], DataFrame] | None = None,
) -> DataFrame:
    """``(a, b, jaccard)`` for all pairs with exact n-gram Jaccard >= tau.

    Plan: explode distinct n-grams -> self-join on shingle (the inverted
    index; Catalyst shuffles once on the shingle key) -> per-pair
    intersection counts -> Jaccard from inclusion-exclusion.

    ``max_doc_freq`` is the skew/scale valve: the self-join is
    O(sum_s df(s)^2) over shingle document frequencies, so ONE boilerplate
    shingle shared by 10^6 docs is 10^12 join rows. With a cap L, postings
    of shingles with df > L are dropped from the index (both join sides)
    BEFORE the self-join, bounding any shingle's contribution to L^2 rows.
    Consequences, both deliberate:

    - Jaccard denominators (na, nb) keep the FULL distinct-gram counts, so
      surviving pairs report their true Jaccard — the cap only UNDERcounts
      intersections, i.e. recall loss, never false positives;
    - a pair whose every shared shingle is ultra-common (pure boilerplate
      overlap) is missed — at scale those docs are either byte-identical
      (exact tier's jurisdiction) or caught by the MinHash/LSH path, which
      has no df blind spot.

    ``max_doc_freq=None`` keeps exact semantics (the DuckDB oracle twin).

    ``store`` (a :data:`cpdd_spark.pipeline.Store`, e.g. a
    ``session_cache()``) keeps the index and the result stays lazy, so it
    can join the caller's job. Without one, the pairs are checkpointed and
    the index released before returning.
    """
    # the self-join reads the index twice
    if store:
        sets = store("ngram_sets", lambda: ngram_sets(df, id_col, text_col, n))
    else:
        sets = ngram_sets(df, id_col, text_col, n).persist()
    postings = sets
    if max_doc_freq is not None:
        # df-cap via a WINDOW over the shingle key (r8): the previous
        # aggregate + broadcast-anti-join shape paid one extra full pass
        # over the postings (the df count exchange) before the self-join's
        # own shingle exchanges; the window computes df on the SAME
        # shingle partitioning the join needs, so the filter rides the
        # exchange the join pays anyway (A/B at sf1.0: 4.1 -> 2.7 s warm).
        # Postings kept are identical: df(s) <= cap.
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        postings = (
            sets.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    left = postings.select(
        F.col("id").alias("a"), F.col("n_grams").alias("na"), "shingle"
    )
    right = postings.select(
        F.col("id").alias("b"), F.col("n_grams").alias("nb"), "shingle"
    )
    inter = (
        left.join(right, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    result = (
        inter.withColumn(
            "jaccard",
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c")).cast("double"),
        )
        .filter(F.col("jaccard") >= tau)
        .select("a", "b", "jaccard")
    )
    if store:
        return result
    # pairs are O(duplicates), tiny next to the index: materialize them so
    # repeated calls in one session accumulate no cached blocks
    result = result.localCheckpoint(eager=True)
    sets.unpersist()
    return result


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str,
    text_col: str,
    probe_id_col: str | None = None,
    probe_text_col: str | None = None,
    n: int = 5,
    min_overlap: int = 1,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Test-set decontamination: mark every document that shares at least
    ``min_overlap`` distinct word ``n``-grams with ANY probe document —
    the standard held-out-benchmark overlap screen a training-data
    pipeline runs before a corpus ships. Returns
    ``(<id_col>, n_hits, contaminated)`` for EVERY input document
    (``n_hits`` = distinct n-grams shared with the probe set's union;
    docs shorter than ``n`` tokens carry no n-grams and report 0, the
    same convention as the pair screens — the exact tier owns them).

    Plan, sized for a 100 TB corpus vs a benchmark-sized probe set:
    the probe side collapses to its DISTINCT n-gram union (tiny: a few
    thousand eval documents), which is broadcast — so the corpus-side
    scan is one explode + a MAP-SIDE hash semi-join with no shuffle of
    corpus text, followed by a partial-aggregated count per id (the
    only shuffled rows are the hits, O(contamination), not O(corpus)).
    ``broadcast_probes=False`` falls back to a shuffle join for
    probe-gram sets too large for the driver — semantics identical.
    Tokenization and gram construction are :func:`ngram_sets`, so
    "n-gram" means exactly what the dedup screens mean by it.

    The returned table is the SCORING view (one row per input doc,
    which costs one id-join over the corpus). The at-scale FILTER step
    should instead anti-join the corpus against the hit ids above
    threshold — that set is O(contamination), normally tiny and
    broadcastable, so the ship-the-clean-corpus pass stays shuffle-free
    on the corpus side.

    Reference analogue: the probe union is cpdd's reference index
    (matching.c:255-318) with n-grams in place of whole files — probe
    membership decides disposition, first-match short-circuit replaced
    by an overlap count (the verify tier of this screen).
    """
    probe_grams = (
        ngram_sets(
            probes, probe_id_col or id_col, probe_text_col or text_col, n
        )
        .select("shingle")
        .distinct()
    )
    if broadcast_probes:
        probe_grams = F.broadcast(probe_grams)
    hits = (
        ngram_sets(docs, id_col, text_col, n)
        # grams are distinct per doc (ngram_sets), so count == distinct
        .join(probe_grams, "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col))
        .join(hits.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )
