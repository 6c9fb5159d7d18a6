"""Text-analysis operators for training-data pipelines.

Beyond the reference's scope (its only scalar "string function" is
format_bytes, /root/reference/src/cpdd/copy.c:131-160) but first-class for a
100 TB corpus engine: token counting, quality scoring, language-ID and
document fingerprinting — all pure ``pyspark.sql.functions`` column
expressions (JVM-side, whole-stage codegen, zero Python), deliberately
built from constructs with exact ANSI-SQL equivalents so every one of them
is oracle-checkable against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cpdd_spark.session import spread

# ---------------------------------------------------------------------------
# canonical whitespace tokenizer (ONE definition, three engines)
# ---------------------------------------------------------------------------
# Every shingle-bearing path — the text kernel
# (signatures.window_hashes -> str.split()), the JVM n-gram index
# (ngram.ngram_sets -> ws_tokens), and the DuckDB oracle SQL
# (__spark_entry__.WS_SQL) — tokenizes on the SAME character set: Python's
# ``str.split()`` whitespace, i.e. Unicode White_Space ∪ {U+001C..U+001F}.
# Neither engine's ``\s`` can express it: Java's ``\s`` is ASCII-only and
# includes \x0B, RE2's ``\s`` is ASCII-only and excludes \x0B, and both
# keep the empty token a leading separator produces — so the class is
# spelled out EXPLICITLY and empties are dropped on every path. This is
# what makes "LSH-verified Jaccard == inverted-index Jaccard == oracle
# Jaccard" hold on arbitrary corpora (whitespace-wise; 64-bit shingle-hash
# collisions remain the one disclosed divergence of the hashed paths).
_WS_CODEPOINTS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
# Java regex class (literal codepoints travel fine through py4j)
WS_JAVA = "[" + _WS_CODEPOINTS + "]"
# RE2 (DuckDB regexp_*) class — escaped form, since SQL strings are easier
# to audit without raw control characters embedded
WS_RE2 = (
    r"[\t\n\x0B\x0C\r\x1C-\x1F \x{85}\x{A0}\x{1680}"
    r"\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]"
)


def ws_tokens(text: "Column | str") -> "Column":
    """JVM-side twin of pandas ``str.split()``: split on the canonical
    whitespace class, drop empty tokens (leading/trailing separators).

    ``array_remove(arr, '')`` == ``filter(arr, t -> t != '')`` for split
    output (order-preserving removal of every empty token; split never
    yields nulls) — but array_remove is a plain codegen'd expression while
    the lambda filter is an interpreted HigherOrderFunction evaluated per
    token."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(c, WS_JAVA + "+"), "")


# tiny pinned stopword list — the lang-ID/quality heuristics key off it;
# pinned here so Spark and oracle SQL provably use the same list
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

PUNCT_CHARS = [".", ",", "!", "?"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokens; '' -> empty array (split would yield [''])."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
        F.split(c, " ")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def stopword_count(text: Column | str) -> Column:
    toks = tokens(text)
    return F.size(
        F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS))
    ).cast("long")


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    # count punctuation chars by length difference after strip — exactly
    # expressible in SQL as length(x) - length(translate(x, '.,!?', ''))
    return (F.length(c) - F.length(F.translate(c, "".join(PUNCT_CHARS), ""))).cast(
        "long"
    )


def quality_from_counts(n_chars, n_toks, sw, punct) -> Column:
    """Heuristic [0,1] quality over ALREADY-COMPUTED count columns
    (characters, :func:`token_count`, :func:`stopword_count`,
    :func:`punct_count`): rewards mid-length docs, real word lengths, some
    stopword mass; penalizes punctuation soup. Built from engine-portable
    arithmetic only => bit-identical in DuckDB.

    Taking counts lets a single-pass caller bind the tokenization once and
    reuse it across every output column: an expression that derived the
    counts itself would re-evaluate the split and the stopword filter
    several times per row (Catalyst does not common-subexpression across
    independent projection columns)."""
    n_chars = n_chars.cast("double")
    n_toks = n_toks.cast("double")
    sw = sw.cast("double")
    punct = punct.cast("double")
    avg_tok = F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0))
    len_term = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    tok_term = F.when((avg_tok >= 3) & (avg_tok <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_term = F.least(F.lit(1.0), F.when(n_toks > 0, sw * 10.0 / n_toks).otherwise(F.lit(0.0)))
    punct_term = F.when(n_chars > 0, F.lit(1.0) - F.least(punct * 5.0 / n_chars, F.lit(1.0))).otherwise(F.lit(0.0))
    return (len_term * 0.4 + tok_term * 0.2 + sw_term * 0.2 + punct_term * 0.2).alias(
        "quality"
    )


def lang_id(text: Column | str) -> Column:
    """N-gram-free heuristic language ID: English iff stopword density
    clears a threshold; 'short' for sub-5-token docs (undecidable)."""
    n_toks = token_count(text)
    sw = stopword_count(text)
    return (
        F.when(n_toks < 5, F.lit("short"))
        .when(sw.cast("double") / n_toks.cast("double") >= 0.03, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def fingerprint(text: Column | str) -> Column:
    """128-bit content fingerprint (hex). MD5 keeps the reference's exact
    grouping semantics (R9) and is engine-portable; the winnowed
    substring fingerprints are the text kernel's ``fps`` column
    (cpdd_spark.signatures)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def human_bytes(col: Column | str) -> Column:
    """Human-readable byte counts — the reporting formatter of cpdd's
    ``format_bytes`` (/root/reference/src/cpdd/copy.c:131-160: B/KB/MB/GB
    ladder, one decimal) as a pure JVM expression for stats tables."""
    c = F.col(col) if isinstance(col, str) else col
    b = c.cast("double")

    def fmt(div: int, unit: str) -> Column:
        return F.concat(
            F.format_number(b / F.lit(float(div)), 1), F.lit(f" {unit}")
        )

    return (
        F.when(b >= float(1 << 40), fmt(1 << 40, "TiB"))
        .when(b >= float(1 << 30), fmt(1 << 30, "GiB"))
        .when(b >= float(1 << 20), fmt(1 << 20, "MiB"))
        .when(b >= float(1 << 10), fmt(1 << 10, "KiB"))
        .otherwise(F.concat(c.cast("long").cast("string"), F.lit(" B")))
    )


# GPT-2-style pre-tokenizer pattern, restricted to constructs RE2 (DuckDB)
# and java.util.regex (Spark) treat identically: contractions, space-prefixed
# letter runs, digit runs, symbol runs, residual whitespace. Whitespace is an
# EXPLICIT class, never \s — Java's \s includes vertical tab (\x0B), RE2's
# does not, and a VT in a document would shift the count between engines.
_WS = r" \t\n\f\r\x0B"
BPE_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+"
    rf"| ?[^{_WS}A-Za-z0-9]+|[{_WS}]+"
)


def bpe_token_count(text: Column | str) -> Column:
    """Token count under a BPE-ish pre-tokenization regex — the byte-pair
    family's word-splitting stage (letters/digits/punctuation/contraction
    chunks), the usual 'how many tokens is this corpus' estimator when no
    model vocabulary is loaded. JVM-side via regexp_extract_all; the
    whitespace-token count lives in :func:`token_count`."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)
    # whitespace runs match (so the scan is total) but don't count as tokens
    return F.size(
        F.filter(toks, lambda t: ~t.rlike(rf"^[{_WS}]+$"))
    ).cast("long")


def token_frequencies(df, text_col: str = "text", top_k: int | None = None):
    """Corpus token-frequency table ``(token, n)`` under the canonical
    whitespace tokenization — the counting pass tokenizer/vocabulary
    training starts from (and the input to frequency-based quality
    screens). Plan: explode -> hash-aggregate on token (map-side partial
    aggregation collapses each partition to its distinct tokens before
    the shuffle, so shuffled volume is O(vocabulary), not O(corpus));
    with ``top_k`` the ordered take compiles to TakeOrderedAndProject —
    per-partition top-k heaps, no global sort. Ties break on the token
    string so the cut is deterministic cross-engine."""
    # spread: the tokenize+explode+partial-agg map side otherwise runs on
    # one core over a single-row-group scan
    inp = spread(df.select(F.col(text_col)))
    toks = inp.select(F.explode(ws_tokens(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    if top_k is not None:
        counts = counts.orderBy(
            F.col("n").desc(), F.col("token").asc()
        ).limit(top_k)
    return counts


def repetition_profile(df, id_col: str = "doc_id", text_col: str = "text"):
    """``(id_col, bigram_rep, trigram_rep)`` for every document: the
    duplicate-``n``-gram fraction ``1 - distinct/total`` over the doc's
    n-gram multiset for n=2 and n=3 (0.0 when the doc has no n-grams) —
    the Gopher-style within-document repetition signal (line-level lives
    in the line-dedup op).

    A vectorized Arrow kernel: a JVM column form builds every n-gram as a
    string through interpreted higher-order functions (``transform`` +
    ``array_join`` + ``array_distinct`` are HigherOrderFunction nodes,
    never codegen'd), measured as the whole cost of the screen. This kernel
    tokenizes once per doc with the canonical whitespace split (pandas
    ``str.split()``, the pinned twin of :func:`ws_tokens` —
    tests/test_tokenizer.py), factorizes tokens to integer codes, and
    counts distinct n-grams as distinct base-V code combinations via
    ``np.unique`` — exact integer counts and one IEEE division, so the
    doubles match the DuckDB oracle's. Token tuples <-> joined-gram strings
    is a bijection (tokens cannot contain whitespace), so "distinct grams"
    is the same set either way.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    id_dtype = df.schema[id_col].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            bi = np.zeros(n, dtype=np.float64)
            tri = np.zeros(n, dtype=np.float64)
            tok_lists = pdf[text_col].str.split()
            for i in range(n):
                t = tok_lists.iat[i]
                m = len(t)
                if m < 2:
                    continue
                c = pd.factorize(np.asarray(t, dtype=object))[0]
                v = np.int64(c.max() + 1)
                bg = c[:-1] * v + c[1:]
                total2 = m - 1
                bi[i] = (total2 - len(np.unique(bg))) / total2
                if m < 3:
                    continue
                if m * m * m < (1 << 62):  # v <= m: base-V trigram fits int64
                    tg = (c[:-2] * v + c[1:-1]) * v + c[2:]
                    n_tri = len(np.unique(tg))
                else:  # degenerate multi-million-token doc: exact set form
                    n_tri = len(set(zip(t, t[1:], t[2:])))
                total3 = m - 2
                tri[i] = (total3 - n_tri) / total3
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "bigram_rep": bi,
                    "trigram_rep": tri,
                }
            )

    # spread: a single-row-group scan is otherwise a one-task kernel
    inp = spread(df.select(id_col, text_col))
    return inp.mapInPandas(
        kernel,
        schema=f"{id_col} {id_dtype}, bigram_rep double, trigram_rep double",
    )
