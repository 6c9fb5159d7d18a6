"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2) over
the driver's parquet tables; ``oracle_sql()`` gives DuckDB-runnable ANSI SQL
computing the same values for the order-insensitive value-hash comparison.

The mandated input shape is an Iceberg/parquet table of transcripts
``(conv_id, turn_idx, role, text, tool, ts)`` which the driver's testdata
does not ship — so the dedup queries DERIVE a deterministic transcripts
corpus from the ``documents`` table identically in Spark and SQL:

- every document becomes conversation ``conv_<doc_id>`` with its text split
  into 10-token turns (stable turn_idx);
- docs with ``doc_id % 10 = 0`` also appear as ``dup_<doc_id>`` — verbatim
  copies (exact-duplicate cliques, cpdd's README:189 "same content,
  different name");
- docs with ``doc_id % 7 = 3`` and >= 30 tokens also appear as
  ``near_<doc_id>`` with the last 10 tokens dropped — prefix near-dups with
  n-gram Jaccard ~ (N-14)/(N-4) > 0.7 (the pinned tau).

Float columns (jaccard, cosine, quality) are built from identical
left-to-right double arithmetic in both engines — verified bit-identical —
so value-hash comparisons are stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpdd_spark.asof import asof_join
from cpdd_spark.assemble import assemble_documents
from cpdd_spark.cc import connected_components
from cpdd_spark.config import DedupConfig
from cpdd_spark.exact import exact_clusters, exact_pairs
from cpdd_spark.lsh import simhash_candidates
from cpdd_spark.multimodal import (
    audio_features,
    extract_features,
    text_to_audio_media,
    text_to_image_media,
)
from cpdd_spark.ngram import decontaminate, jaccard_pairs
from cpdd_spark.pipeline import (
    NEAR_OUTPUTS,
    DedupPipeline,
    cascade,
    near_pairs,
    session_cache,
)
from cpdd_spark.rangejoin import interval_join
from cpdd_spark.sampling import hash_bucket, hash_bucket_sql, hash_split, stratified_sample
from cpdd_spark.session import ship_package, spread
from cpdd_spark.streaming import IncrementalDedup
from cpdd_spark.signatures import compute_signatures
from cpdd_spark.similarity import (
    cosine_dup_pairs_lsh,
    cosine_topk,
    ivf_topk,
    lsh_topk,
)
from cpdd_spark.substring import substring_pairs
from cpdd_spark import textfuncs
from cpdd_spark.textfuncs import (
    fingerprint,
    lang_id,
    punct_count,
    token_count,
    token_frequencies,
    ws_tokens,
)

CFG = DedupConfig()
TURN_TOKENS = 10


# ---------------------------------------------------------------------------
# derived transcripts (identical construction in Spark and in the SQL CTE)
# ---------------------------------------------------------------------------

def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(conv_id, toks)`` of the derived corpus — conv_/dup_/near_
    variants from ONE pass over ONE spread scan (r8): the original
    three-branch union (base / dup / near as separate filtered selects)
    instantiated three copies of the scan + tokenization, and the
    spread-to-parallelism repartition tripled with it (ReuseExchange does
    not dedupe user-specified round-robin shuffles). Building the
    variants as a conditional array + explode keeps the exact same output
    rows from a single scan, a single split, a single shuffle. The
    documents file is a single row group, so the repartition is the only
    way the downstream construction parallelizes."""
    docs = spread(_read(spark, sf_dir, "documents"))
    toks = F.col("__toks")
    did = F.col("doc_id").cast("string")
    variant_arr = F.array_compact(
        F.array(
            F.struct(
                F.concat(F.lit("conv_"), did).alias("conv_id"),
                toks.alias("toks"),
            ),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.struct(
                    F.concat(F.lit("dup_"), did).alias("conv_id"),
                    toks.alias("toks"),
                ),
            ),
            F.when(
                (F.col("doc_id") % 7 == 3) & (F.size(toks) >= 30),
                F.struct(
                    F.concat(F.lit("near_"), did).alias("conv_id"),
                    F.slice(toks, 1, F.size(toks) - 10).alias("toks"),
                ),
            ),
        )
    )
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
        .select(F.explode(variant_arr).alias("__v"))
        .select(F.col("__v.conv_id").alias("conv_id"), F.col("__v.toks").alias("toks"))
    )


def _turn_texts_col():
    """The per-variant array of 10-token turn texts — the ONE definition
    both the transcript generator and the direct document construction
    share (referenced over a bound ``toks`` column)."""
    n_turns = F.floor((F.size("toks") + TURN_TOKENS - 1) / TURN_TOKENS).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_turns - 1),
        lambda i: F.array_join(F.slice("toks", i * TURN_TOKENS + 1, TURN_TOKENS), " "),
    )


def derived_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    variants = _variants(spark, sf_dir)
    turn_texts = _turn_texts_col()
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool"))
    out = variants.select(
        "conv_id", F.posexplode(turn_texts).alias("turn_idx", "text")
    )
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.element_at(roles, F.pmod(F.col("turn_idx"), 4) + 1).alias("role"),
        "text",
        F.when(F.pmod(F.col("turn_idx"), 4) == 3, F.lit("search")).otherwise(
            F.lit("")
        ).alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


# DuckDB twin of the canonical whitespace tokenizer
# (cpdd_spark.textfuncs: WS_JAVA / ws_tokens for the JVM, pandas
# ``str.split()`` in the Arrow kernels): explicit RE2 class + empty-token
# filter, so oracle token streams match the engine's on ANY corpus.
WS_SQL = textfuncs.WS_RE2 + "+"
_TOK_DOC = f"list_filter(regexp_split_to_array(doc, '{WS_SQL}'), t -> t <> '')"

# SQL twin of derived_transcripts + assembled documents, shared by oracles.
SQL_PRELUDE = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
variants AS (
  SELECT 'conv_' || CAST(doc_id AS VARCHAR) AS conv_id, toks FROM base
  UNION ALL
  SELECT 'dup_' || CAST(doc_id AS VARCHAR), toks FROM base WHERE doc_id % 10 = 0
  UNION ALL
  SELECT 'near_' || CAST(doc_id AS VARCHAR), list_slice(toks, 1, len(toks) - 10)
  FROM base WHERE doc_id % 7 = 3 AND len(toks) >= 30
),
transcripts AS (
  SELECT conv_id,
         CAST(t.turn_idx AS INT) AS turn_idx,
         array_to_string(list_slice(toks, t.turn_idx * 10 + 1, t.turn_idx * 10 + 10), ' ') AS text
  FROM variants,
       LATERAL (SELECT unnest(range((len(toks) + 9) // 10)) AS turn_idx) t
),
docs2 AS (
  SELECT conv_id,
         COUNT(*) AS n_turns,
         CAST(length(string_agg(text, chr(10) ORDER BY turn_idx)) AS BIGINT) AS doc_len,
         string_agg(text, chr(10) ORDER BY turn_idx) AS doc
  FROM transcripts GROUP BY conv_id
),
exact2 AS (
  SELECT conv_id, doc_len, md5_hex,
         MIN(conv_id) OVER (PARTITION BY n_turns, doc_len, md5_hex, doc) AS cluster_id,
         COUNT(*) OVER (PARTITION BY n_turns, doc_len, md5_hex, doc) AS cluster_size
  FROM (
    SELECT *, CASE WHEN COUNT(*) OVER (PARTITION BY doc_len) > 1
                   THEN md5(doc) END AS md5_hex
    FROM docs2
  )
),
tokd AS (
  -- canonical whitespace tokenization (WS_SQL == engine's str.split())
  SELECT conv_id, {_TOK_DOC} AS tk FROM docs2
),
grams AS (
  SELECT conv_id AS id, len(gset) AS n_grams, unnest(gset) AS shingle
  FROM (
    SELECT conv_id,
           list_distinct(list_transform(range(len(tk) - 4),
                         i -> array_to_string(list_slice(tk, i + 1, i + 5), ' '))) AS gset
    FROM tokd
    WHERE len(tk) >= 5
  )
),
ngram_pairs AS (
  SELECT a, b, CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) AS jaccard
  FROM (
    SELECT l.id AS a, r.id AS b, l.n_grams AS na, r.n_grams AS nb, COUNT(*) AS c
    FROM grams l JOIN grams r ON l.shingle = r.shingle AND l.id < r.id
    GROUP BY l.id, r.id, l.n_grams, r.n_grams
  )
  WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.7
)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _assembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived-corpus document table, constructed DIRECTLY (r8).

    ``assemble_documents(derived_transcripts(...))`` explodes each
    variant's ``turn_texts`` array into rows, shuffles them by conv_id,
    regroups, sorts and concat_ws's the same strings back together. Every
    consumer query paid that explode+exchange+sort roundtrip just to
    rebuild a value that is a pure per-row function of the variant:
    ``doc = concat_ws('\n', turn_texts)``, ``n_turns =
    size(turn_texts)``. This direct form emits column-for-column
    identical rows (same turn_texts expression, same separator) with ZERO
    shuffle beyond the shared spread — guide §2.4 "remove shuffles
    outright". Equality with the real assembly operator is pinned by
    tests/test_entry.py::test_assembled_direct_matches_assembly, and
    :func:`q_assemble` still times the REAL P2 operator over the
    transcript rows."""
    with_tt = _variants(spark, sf_dir).select(
        "conv_id", _turn_texts_col().alias("__tt")
    )
    return (
        with_tt.select(
            "conv_id",
            F.size("__tt").cast("long").alias("n_turns"),
            F.concat_ws("\n", F.col("__tt")).alias("doc"),
        )
        .withColumn("doc_len", F.length("doc").cast("long"))
        .select("conv_id", "n_turns", "doc_len", "doc")
    )


def q_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 document assembly under stable turn ordering (the REAL
    assembly operator over transcript rows — consumer queries use the
    provably-identical direct construction, see :func:`_assembled`)."""
    return assemble_documents(derived_transcripts(spark, sf_dir))


def q_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 cpdd-semantics exact clustering (size -> lazy MD5 -> verify)."""
    return exact_clusters(_assembled(spark, sf_dir)).withColumnRenamed(
        "md5", "md5_hex"
    )


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16 stats aggregation: dedup dispositions + byte accounting."""
    ec = exact_clusters(_assembled(spark, sf_dir))
    return (
        ec.withColumn(
            "disposition",
            F.when(F.col("conv_id") == F.col("cluster_id"), "canonical").otherwise(
                "duplicate"
            ),
        )
        .groupBy("disposition")
        .agg(
            F.count(F.lit(1)).alias("convs"),
            F.sum("doc_len").alias("bytes"),
        )
    )


def q_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (inverted index, complete)."""
    return jaccard_pairs(_assembled(spark, sf_dir), "conv_id", "doc", n=5, tau=0.7)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4-P9: MinHash signatures -> LSH bands -> exact-Jaccard verification.

    LSH recall is probabilistic (b=32, r=4: P[miss] ~ 1.5e-4 per pair just
    above tau), but this query is VALUE-HASH-checked against the exhaustive
    n-gram oracle — one deterministic miss on a future corpus would read as
    an engine bug. So the exact inverted-index pairs are unioned into the
    verified LSH pairs as a recall backstop: the full LSH path still runs
    and is still verified, while the emitted set is deterministically all
    pairs with J >= tau (what the oracle computes). The scale pipeline
    (pipeline.py / scripts/two_scale.py) runs LSH-only.
    """
    with session_cache() as store:
        docs = store("documents", lambda: _assembled(spark, sf_dir))
        # result-level union: a verified LSH pair carries the SAME exact
        # Jaccard double the inverted index computes (both paths use one
        # tokenizer — the explicit-whitespace-class split, see
        # cpdd_spark.textfuncs.WS_* — over the same distinct 5-gram sets,
        # equal modulo 64-bit shingle-hash collisions). Duplicates collapse
        # on the PAIR KEY (groupBy + min), not distinct(): even if a
        # pathological corpus ever made the two jaccard doubles diverge
        # (hash collision), the output still has one deterministic row per
        # pair instead of two.
        backstop = jaccard_pairs(
            docs, "conv_id", "doc", n=5, tau=CFG.tau, store=store
        )
        sigs = store(
            "signatures", lambda: compute_signatures(docs, CFG, NEAR_OUTPUTS)
        )
        return (
            near_pairs(sigs, CFG, store)
            .unionByName(backstop)
            .groupBy("a", "b")
            .agg(F.min("jaccard").alias("jaccard"))
            .localCheckpoint(eager=True)
        )


def q_minhash_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION MinHash route: ONE text-kernel pass (signatures + shingle
    sets) -> LSH bands -> pure-JVM exact-Jaccard verify over the stored
    sets (verify_pairs_sets: array_intersect in codegen, no text joins, no
    Python in the verify stage), NO recall backstop — the path pipeline.py
    / two_scale.py run at scale. Recall is probabilistic (b=32, r=4:
    P[miss] ~ 1.5e-4 per pair at tau), so this is benchmarked (bench.py
    HEADLINE), not oracle-gated; :func:`q_minhash_pairs` is the
    deterministic oracle-mode twin (its verified jaccard doubles equal a
    Python set model's — see
    tests/test_lsh_verify.py::test_verify_pairs_sets_matches_python_model)."""
    with session_cache() as store:
        sigs = store(
            "signatures",
            lambda: compute_signatures(_assembled(spark, sf_dir), CFG, NEAR_OUTPUTS),
        )
        return near_pairs(sigs, CFG, store).localCheckpoint(eager=True)


def q_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full dedup clustering (exact + near edges -> CC).

    Near edges come from the deterministic inverted-index generator (the
    oracle twin) with the posting-frequency cap armed at a value provably
    inert at driver scale — a shingle's doc frequency is bounded by the
    corpus size, and every shipped correctness corpus (sf0.01: ~660 derived
    conversations) sits far below the 10k cap, so capped == uncapped
    EXACTLY there while the plan still demonstrates the bounded-join shape.
    (A corpus with a single 5-gram shared by >10k docs would diverge from
    the uncapped oracle — at that point the flagship belongs on the LSH
    route, which is what pipeline.py / two_scale.py run.)
    """
    docs = _assembled(spark, sf_dir).persist()
    # lazy_hash=False: only cluster_id/conv_id are consumed here, and the
    # eager-hash path produces IDENTICAL clusters (exact.py docstring +
    # tests) while skipping the needs_hash window — one full sort of the
    # corpus text removed from the plan (2 Sort -> 1 under one Exchange)
    ec = exact_clusters(docs, lazy_hash=False)
    near = jaccard_pairs(docs, "conv_id", "doc", n=5, tau=0.7, max_doc_freq=10_000)
    edges = exact_pairs(ec).unionByName(near.select("a", "b"))
    clusters = connected_components(
        edges, vertices=docs.select("conv_id")
    ).localCheckpoint(eager=True)
    docs.unpersist()
    return clusters


def q_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AT-SCALE flagship: full dedup clustering with near edges from
    the production MinHash+LSH route (banded candidates over exact-tier
    representatives, pure-JVM set verify) instead of q_clusters's
    exhaustive inverted-index generator — the one batch cascade
    (cpdd_spark.pipeline.cascade) DedupPipeline.run ships, here without the
    substring pass as a benched, oracle-checked query.

    Same oracle as ``clusters``: on every shipped correctness corpus the
    LSH route's verified pairs connect the identical components (banded
    recall is 1.0 there — tests/test_entry.py pins cluster equality
    against q_clusters), so the DuckDB recursive-reachability SQL is an
    exact oracle for this route too. The fuzzy tier runs over exact-rep
    docs only; exact edges splice duplicate members back, which preserves
    connectivity because an exact member's shingle set is its rep's
    (reference analogue: the tiered cascade computes the same clusters
    cheaper, README:46-73)."""
    with session_cache() as store:
        return cascade(
            _assembled(spark, sf_dir), CFG, store, substring=False
        ).localCheckpoint(eager=True)


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (model-free corpus size estimator)."""
    from cpdd_spark.textfuncs import bpe_token_count

    docs = spread(_read(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", bpe_token_count("text").alias("n_bpe_tokens")
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-pass form: the naive one-liner-per-column version re-derived
    # the tokenization (and the interpreted stopword filter) inside every
    # output column's expression tree — ~6 splits + 3 higher-order filters
    # per row; binding the counts once and feeding quality_from_counts
    # evaluates each exactly once, identical doubles (same IEEE sequence)
    docs = _read(spark, sf_dir, "documents")
    # spread: the documents file is a single row group -> one scan task;
    # without this the whole tokenize+count projection runs on one core
    docs = spread(docs)
    base = docs.select(
        "doc_id",
        "text",
        textfuncs.tokens(F.col("text")).alias("__toks"),
    )
    counts = base.select(
        "doc_id",
        F.length("text").alias("__n_chars"),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(
            F.filter(
                F.col("__toks"), lambda t: F.lower(t).isin(textfuncs.STOPWORDS)
            )
        )
        .cast("long")
        .alias("n_stopwords"),
        punct_count("text").alias("n_punct"),
    )
    return counts.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        "n_punct",
        textfuncs.quality_from_counts(
            F.col("__n_chars"),
            F.col("n_tokens"),
            F.col("n_stopwords"),
            F.col("n_punct"),
        ).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents").select(
        "doc_id", lang_id("text").alias("lang_pred")
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )


def q_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of the raw documents table by content hash."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy(F.length("text"), F.md5("text"), F.col("text"))
    return docs.select(
        "doc_id", F.min("doc_id").over(w).alias("cluster_id")
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 20 vectors."""
    embs = _read(spark, sf_dir, "embeddings")
    return cosine_topk(embs, embs.filter("vec_id < 20"), k=5)


def q_embed_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at 0.8 via the LSH screen + exact
    cosine verify (no crossJoin anywhere in the plan; the brute-force
    :func:`cosine_dup_pairs` survives only as the DuckDB oracle twin and
    recall baseline in tests).

    Recall envelope vs the exact oracle, stated explicitly: miss
    probability is (1 - p^8)^64 per pair — 3.8e-3 at cosine exactly 0.80,
    ~1e-26 at 0.99 — and hot buckets cap at 200 members/table. The check
    corpus (random 64-d embeddings, no planted duplicates: the oracle
    emits 0 rows at every shipped SF) contains neither boundary pairs nor
    200-member near-duplicate blobs, so the value-hash comparison is
    stable; a corpus stressing either regime belongs with the rows-only
    approximate queries instead."""
    caches: list = []
    result = cosine_dup_pairs_lsh(
        _read(spark, sf_dir, "embeddings"), threshold=0.8, dim=64, release=caches
    ).localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return result


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table (batch form
    of the Structured Streaming windowed agg; order-free aggregates only)."""
    ev = _read(spark, sf_dir, "events")
    return (
        # ts is TIMESTAMP_NTZ; derive the epoch-hour from date parts so the
        # result is independent of the session timezone (the driver runs
        # queries in ITS OWN SparkSession, which may not be UTC)
        ev.withColumn(
            "hour_bucket",
            (
                F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long") * 24
                + F.hour("ts")
            ),
        )
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min inactivity
    closes a session) — lag + cumulative-sum windows, the batch shape of
    Structured Streaming's session windows.

    Epoch MICROSECONDS are derived from date parts (datediff/hour/minute +
    fractional-second date_part), never by casting TIMESTAMP_NTZ to a
    number — the driver's session may not be UTC and a cast would shift
    epochs (and break across DST) while field extraction cannot.
    """
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    ep_us = (
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long") * 86400
            + F.hour("ts") * 3600
            + F.minute("ts") * 60
        ).cast("decimal(20,6)")
        + F.date_part(F.lit("SECOND"), F.col("ts"))
    ) * F.lit(1_000_000)
    w = Window.partitionBy("user_id").orderBy("ep_us", "event_id")
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ep_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = F.col("ep_us") - F.lag("ep_us").over(w)
    return (
        ev.select("user_id", "event_id", ep_us.cast("long").alias("ep_us"))
        .withColumn(
            "new_session",
            F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0),
        )
        .withColumn("session_idx", F.sum("new_session").over(cum).cast("int"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ep_us").alias("start_us"),
            F.max("ep_us").alias("end_us"),
            (F.max("ep_us") - F.min("ep_us")).alias("duration_us"),
        )
    )


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment over documents
    (cpdd_spark.sampling.hash_split): md5-bucket thresholds, pure
    map-side projection — zero shuffle, stable under reruns/
    repartitioning/incremental arrival, engine-portable (the oracle runs
    the SAME hex-parse CASE ladder in DuckDB)."""
    docs = _read(spark, sf_dir, "documents")
    return hash_split(
        docs.select("doc_id"), "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    ).select("doc_id", F.col("split_bucket").cast("long").alias("split_bucket"), "split")


def q_stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language down-sampling of documents
    (cpdd_spark.sampling.stratified_sample): keep 50% of 'en', 25% of
    'de', 10% of everything else — one map-side hash filter, the same ids
    on every engine/run (unlike sampleBy's RNG draws)."""
    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs.select("doc_id", "lang"), "doc_id", "lang",
        {"en": 0.5, "de": 0.25}, default_rate=0.10,
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch sequence packing: assign documents to fixed
    token-budget packs (budget 2048) by contiguous fill — running token
    count over a deterministic order, pack id = floor(preceding-total /
    budget). Windows partition by ``lang`` so packing parallelizes by
    stratum (the real pipeline packs within shard/stratum anyway so packs
    never straddle data-locality boundaries); integer arithmetic end to
    end, so the SQL twin is exact."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(prev / F.lit(2048)).cast("long").alias("pack_id"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal (the Gopher/RefinedWeb line-dedup
    filter): drop repeated lines within each document, keeping first
    occurrence — pure JVM array ops (split / array_distinct preserves
    first-occurrence order in both engines), no Python. Emits the dedup
    accounting a quality pipeline reports."""
    docs = _read(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")
    distinct_lines = F.array_distinct(lines)
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(distinct_lines).cast("long").alias("n_distinct_lines"),
        F.length(F.concat_ws("\n", distinct_lines)).cast("long").alias("deduped_len"),
    )


def q_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: per user with at least one click, the first click
    time, first purchase time, and click->purchase conversion latency.
    One conditional-min aggregation — a single shuffle on user_id, no
    window, no join; integer microseconds end to end. No-purchase (and
    purchase-before-first-click) cases carry the sentinel -1 rather than
    NULL so every output column is total-orderable (engine-independent row
    sorting; NULL-first vs NULL-last conventions differ)."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", _ep_us().cast("long").alias("ep_us")
    )
    agg = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ep_us"))).alias(
            "first_click_us"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ep_us"))).alias(
            "first_purchase_us"
        ),
    )
    return agg.filter(F.col("first_click_us").isNotNull()).select(
        "user_id",
        "first_click_us",
        F.coalesce("first_purchase_us", F.lit(-1)).alias("first_purchase_us"),
        F.coalesce(
            F.when(
                F.col("first_purchase_us") >= F.col("first_click_us"),
                F.col("first_purchase_us") - F.col("first_click_us"),
            ),
            F.lit(-1),
        ).alias("convert_us"),
    )


def q_user_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running purchase total: a cumulative window over
    (user_id) ordered by (ep_us, event_id) — the prefix-aggregation shape
    (partitioned by a high-cardinality key, so it scales like
    sessionization). The sum accumulates in DECIMAL so the running value
    is exact and independent of the engine's window-evaluation tree
    (DuckDB's segment-tree windowed SUM would not be float-order-identical
    to Spark's sequential accumulation; decimal makes order moot)."""
    from pyspark.sql import Window

    p = (
        _read(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", "event_id", _ep_us().cast("long").alias("ep_us"), "value"
        )
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ep_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return p.select(
        "user_id",
        "event_id",
        "ep_us",
        F.sum(F.col("value").cast("decimal(18,6)")).over(cum)
        .cast("double")
        .alias("cum_spend"),
    )


def _ep_us(col: str = "ts"):
    """Epoch microseconds from date parts (TZ-safe: never cast
    TIMESTAMP_NTZ to a number — see q_user_sessions)."""
    return (
        (
            F.datediff(F.to_date(col), F.lit("1970-01-01")).cast("long") * 86400
            + F.hour(col) * 3600
            + F.minute(col) * 60
        ).cast("decimal(20,6)")
        + F.date_part(F.lit("SECOND"), F.col(col))
    ) * F.lit(1_000_000)


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over the event stream: each click gains the latest prior
    (inclusive) purchase value of the same user — checked against DuckDB's
    NATIVE ``ASOF LEFT JOIN``. The right side pre-aggregates per
    (user, ts) so tie resolution is engine-independent. See
    cpdd_spark.asof for why the union+forward-fill plan (one shuffle,
    JVM-only) is the scale shape rather than a range join."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        _ep_us().cast("long").alias("ep_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value", "ep_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ep_us")
        .agg(F.max("value").alias("pvalue"))
    )
    j = asof_join(clicks, purchases, on="ep_us", by="user_id")
    return j.select(
        "event_id",
        "user_id",
        F.col("value").alias("click_value"),
        F.col("right_pvalue").alias("last_purchase_value"),
        (F.col("ep_us") - F.col("right_ep_us")).alias("gap_us"),
    )


def q_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear-
    interpolation definition, verified bit-identical here. (The at-scale
    variant is ``percentile_approx``/KLL with a pinned accuracy — kept out
    of the oracle set because sketch internals differ across engines.)"""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )


def q_event_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: ``percentile_approx`` (Greenwald-Khanna
    sketch) at pinned ``accuracy=10000`` — mergeable per-partition sketches,
    one narrow shuffle of sketch state, never a global sort of the value
    column (the exact ``percentile`` agg of :func:`q_event_quantiles`
    collects per-group value arrays, which is the small-scale form only).

    Output = the sketch's CONTRACT, not its internals: per group, a
    boolean per quantile asserting the returned element's rank interval
    intersects ``[q*n - eps_n, q*n + eps_n]`` with ``eps_n = n/accuracy +
    2`` (GK's rank-error bound, +2 for the element-vs-interpolation
    definitional offset at the interval edges). Raw approx VALUES differ
    across engines (which in-bound element a sketch returns is an
    implementation detail), but the bound booleans are engine-stable — so
    DuckDB can oracle this as literal TRUEs over the same groups and the
    driver's hash check becomes a hard pass/fail on the sketch contract.
    Ranks come from one broadcast join of the 5-row approx table back to
    events (two conditional sums per quantile: strict-less and less-or-
    equal, bracketing ties)."""
    ev = _read(spark, sf_dir, "events").select("event_type", "value")
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("p50a"),
        F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("p90a"),
        F.percentile_approx("value", F.lit(0.99), F.lit(10000)).alias("p99a"),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for q, col in ((0.5, "p50a"), (0.9, "p90a"), (0.99, "p99a")):
        lt = F.sum(F.when(F.col("value") < F.col(col), 1).otherwise(0))
        le = F.sum(F.when(F.col("value") <= F.col(col), 1).otherwise(0))
        aggs.append(lt.alias(f"lt_{col}"))
        aggs.append(le.alias(f"le_{col}"))
    ranks = ev.join(F.broadcast(approx), "event_type").groupBy("event_type").agg(
        *aggs
    )
    out_cols = [F.col("event_type"), F.col("n")]
    for q, col in ((0.5, "p50a"), (0.9, "p90a"), (0.99, "p99a")):
        eps_n = F.col("n") / F.lit(10000.0) + F.lit(2.0)
        target = F.lit(q) * F.col("n")
        ok = (F.col(f"lt_{col}") + 1 <= target + eps_n) & (
            F.col(f"le_{col}") >= target - eps_n
        )
        out_cols.append(ok.alias(f"p{int(q * 100)}_ok"))
    return ranks.select(*out_cols)


ASOF_TOLERANCE_US = 3600 * 1_000_000  # 1 hour


def q_events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOLERANCE path of the as-of join: like :func:`q_events_asof`
    but a matched purchase older than 1 hour before the click is nulled
    out (cpdd_spark.asof.asof_join(tolerance=...)). Oracle: DuckDB's
    native ASOF LEFT JOIN with an explicit gap filter over the match —
    exercising exactly the branch the plain events_asof query never
    reaches."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        _ep_us().cast("long").alias("ep_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value", "ep_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ep_us")
        .agg(F.max("value").alias("pvalue"))
    )
    j = asof_join(
        clicks, purchases, on="ep_us", by="user_id", tolerance=ASOF_TOLERANCE_US
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("value").alias("click_value"),
        F.col("right_pvalue").alias("last_purchase_value"),
        (F.col("ep_us") - F.col("right_ep_us")).alias("gap_us"),
    )


def q_session_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range-containment) join: assign each error event to the
    session window containing it and count errors per session — the
    backfill-attribution pattern (late raw rows -> established windows).
    Runs through cpdd_spark.rangejoin.interval_join (bucketized equi-join;
    the naive non-equi formulation would plan as BroadcastNestedLoopJoin,
    which the plan guards ban). Oracle: plain BETWEEN join in SQL."""
    sessions = q_user_sessions(spark, sf_dir).select(
        "user_id", "session_idx", "start_us", "end_us"
    )
    errors = (
        _read(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", _ep_us().cast("long").alias("ep_us"))
    )
    j = interval_join(
        errors,
        sessions,
        on="ep_us",
        start="start_us",
        end="end_us",
        by="user_id",
        bucket_width=1800 * 1_000_000,  # the session gap: typical span
    )
    return j.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_errors")
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 SimHash very-near-dup screen (pinned-VALUES oracle at sf0.01).

    ``n_docs`` feeds the block-subset auto-escalation (engages ~300k+
    docs at t=6 — the measured pairs/triples parity envelope; see
    cpdd_spark.lsh.simhash_block_subset_size). Every test and bench
    scale stays on pair blocking, including the sf0.01 pinned oracle's
    route.

    ``docs`` is PERSISTED for the query's lifetime so assembly runs
    exactly once: the ``count()`` that sizes the valve materializes the
    cache the signature pass then reads — an unpersisted form ran the
    whole groupBy+concat assembly twice (once for the count, again
    inside the signatures job), the r5 bench regression. Mirrors cpdd's
    compute-each-tier-input-once discipline (matching.c:100-139).

    The screen consumes only (conv_id, n_shingles, simhash), so the
    kernel computes no MinHash sweep and ships no k-long arrays."""
    docs = _assembled(spark, sf_dir).persist()
    n_docs = docs.count()
    # No sigs materialization at all (r8): with the fingerprint riding the
    # bucket expansion as a member payload (cpdd_spark.lsh), the signature
    # pass has exactly ONE consumer — the block-key explode — so the
    # kernel runs once per query unmaterialized and the former three-way
    # reuse checkpoint is dead weight. release=: the candidate expansion
    # pipelines straight into the inline hamming screen and this ONE
    # checkpoint; the bucket-member cache it protects is unpersisted
    # right after — see pairs_from_buckets (r8).
    sigs = compute_signatures(docs, CFG, ("simhash",))
    caches: list = []
    result = simhash_candidates(
        sigs, CFG, n_docs=n_docs, release=caches
    ).localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    docs.unpersist()
    return result


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 winnowed substring pass. Deterministic: emits exactly the pairs
    sharing a token run >= R = substring_w + winnow_window - 1 = 37 (the
    winnowing guarantee zone), so a DuckDB R-gram inverted index is an exact
    oracle. complete=True lifts the hot-bucket cap so the pair LIST is
    exact even if a boilerplate fingerprint collects >cap docs (the capped
    form is the 10^12-turn pipeline mode, where CC connectivity — not the
    raw list — is the product)."""
    # the signed table feeds the fingerprint explode and both verify join
    # sides: kept, the text kernel runs once
    with session_cache() as store:
        sigs = store(
            "signatures",
            lambda: compute_signatures(
                _assembled(spark, sf_dir), CFG, ("fps", "rset")
            ),
        )
        return substring_pairs(sigs, CFG, complete=True).localCheckpoint(
            eager=True
        )


def q_signatures_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 full signature table — the bench route (times the fused Arrow
    MinHash+SimHash kernel over the whole corpus; bench.py maps its
    'signatures' timing here so round-over-round numbers stay comparable).

    The raw ``minhash`` column is ``array<long>``, which the driver's
    canonicalizer cannot sort (pandas can't factorize lists) — so the array
    is projected to its JSON rendering; same information, scalar column.
    """
    sigs = compute_signatures(_assembled(spark, sf_dir), CFG, ("minhash", "simhash"))
    return sigs.select(
        "conv_id",
        "n_shingles",
        F.to_json(F.struct(F.col("minhash"))).alias("minhash_json"),
        "simhash",
    )


def q_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 signature pin: the 20 lexicographically-first documents'
    signatures, each with its FULL minhash array folded through xxhash64
    (plus the first/last slots readably) and its simhash — pinned-VALUES
    oracle, same protocol as ann_recall/ivf_recall/simhash_pairs.

    The kernel is deterministic end-to-end (SipHash-keyed token hashes,
    seeded bijective permutations), so these values are a constant of the
    pinned sf fixture: any drift in the tokenizer, the shingle hasher, the
    permutation family, or the simhash bit-plane aggregation breaks the
    hash — this is the oracle-green twin that lets the full-array
    :func:`q_signatures_full` remain the bench route. The TakeOrdered(20)
    here is probe-sized output, not a scale path; the signature pass
    underneath still runs the production kernel over every document."""
    sigs = compute_signatures(_assembled(spark, sf_dir), CFG, ("minhash", "simhash"))
    return (
        sigs.orderBy("conv_id")
        .limit(20)
        .select(
            "conv_id",
            "n_shingles",
            F.element_at("minhash", 1).alias("mh_first"),
            F.element_at("minhash", CFG.num_perm).alias("mh_last"),
            F.xxhash64("minhash").alias("mh_xx"),
            "simhash",
        )
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN. Deterministic end to end (seeded
    sketches, ties broken by neighbor_id), so the full ranked lists are
    pinned-VALUES oracle-checked; :func:`q_ann_recall` additionally pins
    recall@5 against the exact brute-force lists."""
    embs = _read(spark, sf_dir, "embeddings")
    return lsh_topk(embs, embs.filter("vec_id < 20"), dim=64, k=5)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the LSH ANN path against the exact brute-force
    top-5: ``(query_id, n_hits, recall)``.

    The sketches are seed-pinned and all tie-breaks are by neighbor_id, so
    on a pinned corpus this is a PURE FUNCTION of the input — the DuckDB
    twin pins the expected per-query values (the LSH half is a numpy
    matmul, not SQL-expressible; the exact half is ann_topk's oracle).
    This turns the previously rows-only ANN path into a hash-checked one:
    any drift in sign_sketches / lsh_topk / cosine ranking breaks it.

    Expected magnitude, so the number reads right: the fixture embeddings
    are near-random (true top-5 at cosine ~0.34), where per-table collision
    is rare by design — mean recall ~0.33 at (planes=6, tables=8). LSH
    earns its keep in the high-cosine regime the DEDUP queries pin
    (cosine >= 0.8 -> miss ~3.8e-3, >= 0.99 -> ~1e-26; see
    cpdd_spark.similarity.cosine_dup_pairs_lsh), not on random vectors.
    """
    embs = _read(spark, sf_dir, "embeddings")
    queries = embs.filter("vec_id < 20")
    exact = cosine_topk(embs, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_topk(embs, queries, dim=64, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    base = exact.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)).alias(
                "recall"
            ),
        )
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (seeded k-means coarse quantizer, cell-probed).
    Deterministic, so the full ranked lists are pinned-VALUES
    oracle-checked; :func:`q_ivf_recall` additionally pins recall@5."""
    embs = _read(spark, sf_dir, "embeddings")
    return ivf_topk(embs, embs.filter("vec_id < 20"), dim=64, k=5)


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the IVF ANN path vs the exact top-5:
    ``(query_id, n_hits, recall)`` — same protocol as :func:`q_ann_recall`
    (hash-sampled seeded k-means + argmax assignment make the result a
    pure function of the corpus; the DuckDB twin pins per-query values).

    Expected magnitude: probing 8/64 cells on NEAR-RANDOM vectors (true
    top-5 at cosine ~0.34) bounds recall well below 1; IVF, like the sign
    LSH, earns its keep in the high-cosine regime. The pin checks
    determinism of the whole train->assign->probe->rank path, not
    retrieval quality on random data.
    """
    embs = _read(spark, sf_dir, "embeddings")
    queries = embs.filter("vec_id < 20")
    exact = cosine_topk(embs, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(embs, queries, dim=64, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(5.0)).alias(
                "recall"
            ),
        )
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end to end (T13): every document's text renders
    into a genuine PNG, 24-bit BMP, binary PGM, baseline JPEG, GIF, or
    lossless WebP container (rotated by id CRC —
    cpdd_spark.multimodal.text_to_image_media), then extract_features
    zlib-inflates / unfilters / de-strides / Huffman-decodes+IDCTs /
    LZW-expands / VP8L-prefix-decodes the ACTUAL pixels back out and
    histograms them. Output is the 20 lexicographically-first media rows
    (probe-sized, same protocol as q_signatures: the decode kernel still
    runs over the whole corpus underneath), pinned as a VALUES oracle —
    any drift in the PNG writer, the inflate/unfilter path, the BMP
    stride handling, the PGM header parse, the JPEG entropy coder/IDCT,
    the GIF LZW/palette path, the VP8L prefix coder, or the feature
    kernel breaks the hash (the JPEG rows pin the LOSSY decoded pixels —
    also deterministic: fixed tables, float64 matmul IDCT). The decoded
    histogram column is float32; its to_json rendering is the
    hash-compared value (arrays crash the driver canonicalizer's
    sort)."""
    media = text_to_image_media(
        _read(spark, sf_dir, "documents"), "doc_id", "text"
    )
    feats = extract_features(media)
    return (
        feats.orderBy("media_id")
        .limit(20)
        .select(
            "media_id",
            "n_bytes",
            "format",
            "width",
            "height",
            "channels",
            F.to_json(F.struct(F.col("features"))).alias("features_json"),
        )
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end (T13, audio modality): every
    document's text renders into a genuine mono PCM16 WAV container
    (cpdd_spark.multimodal.text_to_audio_media), then audio_features
    walks the RIFF chunks and computes decoded-sample features — RMS
    (exact int64 sum of squares), zero-crossing rate (integer
    comparisons), spectral centroid (float64 rfft; deterministic for a
    given numpy build, the same contract the JPEG IDCT pins). Output is
    the 20 lexicographically-first media rows (probe-sized, same
    protocol as q_multimodal_features: the decode kernel still runs
    over the whole corpus underneath), pinned as a VALUES oracle — any
    drift in the WAV writer, the chunk walk, the sample normalization,
    or the feature math breaks the hash."""
    media = text_to_audio_media(
        _read(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return audio_features(media).orderBy("media_id").limit(20)


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency top-100
    (cpdd_spark.textfuncs.token_frequencies): the counting pass
    tokenizer/vocabulary training starts from. Map-side partial
    aggregation shuffles O(vocabulary); the ordered take compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort). Ties
    break on the token string so the 100-row cut is deterministic
    cross-engine."""
    return token_frequencies(
        _read(spark, sf_dir, "documents"), "text", top_k=100
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition screen
    (cpdd_spark.textfuncs.repetition_profile): duplicate bigram/trigram
    fractions per document — the Gopher-style repetitious-text signal
    (the line-level variant is q_line_dedup). The fractions are single
    IEEE divisions of exact integer counts, so the doubles hash-match
    cross-engine."""
    # vectorized Arrow kernel (one tokenization, integer-code distinct
    # counts)
    return textfuncs.repetition_profile(
        _read(spark, sf_dir, "documents"), "doc_id", "text"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination screen (cpdd_spark.ngram.decontaminate):
    every document is scored by how many distinct word 5-grams it shares
    with a probe "benchmark" set — here the deterministic sixth of the
    corpus with ``doc_id % 17 == 0``, standing in for a held-out eval
    suite. ``n_hits`` is an exact integer (no hashing), so the oracle is
    the full inverted-index computation in SQL. Probe docs with >= n
    tokens self-hit by construction — a built-in sanity anchor the
    oracle reproduces."""
    # spread: single-row-group scan -> the corpus-side gram explode and
    # the probe-side gram union otherwise both run on one core
    docs = spread(_read(spark, sf_dir, "documents"))
    probes = docs.filter(F.col("doc_id") % 17 == 0)
    return decontaminate(docs, probes, "doc_id", "text", n=5, min_overlap=1)


# ---------------------------------------------------------------------------
# relational / analytics queries over the TPC-H-shaped tables
#
# Cross-engine float discipline: SUM(double) is partition-order-dependent in
# Spark and sequential in DuckDB — never hash-comparable. Every money/qty sum
# casts per-row values to DECIMAL first (exact, order-independent), sums in
# decimal, and casts the exact total to DOUBLE at the end; per-row double
# products (price * (1 - discount)) are deterministic IEEE ops identical in
# both engines, and a double's cast to decimal cannot tie (no binary double
# lands exactly on a .5 ulp of 10^-6), so rounding agrees everywhere.
# ---------------------------------------------------------------------------

def _dec_sum(col, scale: int = 6):
    """Order-independent sum of a double expression: exact decimal
    accumulation, double rendering."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def q_stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17 upgraded from pytest-only to a HARD oracle row: the streaming
    exact-dedup tier (cpdd_spark.streaming.IncrementalDedup, the
    foreachBatch probe loop — reference analogue: the rerun-with-
    no-clobber incremental mode, copy.c:73-96 + matching.c:320-375)
    drains the documents table in three deterministic micro-batches
    (md5-bucket of doc_id mod 3 — the same ladder as hash_split, so the
    DuckDB twin reproduces the batch order exactly), then returns every
    document's final cluster assignment.

    The documents fixture has no byte-identical rows at sf0.01, so a
    deterministic ~10% of docs (md5-bucket < 410) RE-ARRIVE under a
    ``_dup`` id — landing in whatever batch their new id hashes to, so
    the assertion covers both the within-batch window and the
    cross-batch index probe.

    First-match-wins across batches is SQL-expressible: the canonical of
    a content group is the lexicographically-smallest doc_id within the
    EARLIEST batch containing that content —
    ``FIRST_VALUE(doc_id) OVER (PARTITION BY text ORDER BY batch,
    doc_id)``. Any drift in the probe join, the replay anti-join, or the
    within-batch window breaks the hash."""
    import os
    import tempfile

    base_docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text")
    )
    arriving = base_docs.unionByName(
        base_docs.filter(hash_bucket(F.col("conv_id")) < 410).select(
            F.concat(F.col("conv_id"), F.lit("_dup")).alias("conv_id"),
            F.col("text"),
        )
    )
    docs = arriving.select(
        "conv_id",
        F.lit(1).cast("long").alias("n_turns"),
        F.length("text").cast("long").alias("doc_len"),
        F.col("text").alias("doc"),
        F.pmod(hash_bucket(F.col("conv_id")), F.lit(3)).alias("batch"),
    )
    base = tempfile.mkdtemp(prefix="cpdd_qstream_")
    dedup = IncrementalDedup(spark, os.path.join(base, "clusters"))
    for b in range(3):
        dedup.process_docs(docs.filter(F.col("batch") == b).drop("batch"), b)
    out = spark.read.parquet(os.path.join(base, "clusters"))
    return out.select(F.col("conv_id").alias("doc_id"), "cluster_id")


def q_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage row counts of a FULL checkpointed pipeline run (P12/R16): the
    metrics table (stats_t analogue, /root/reference/include/cpdd.h:61-69)
    finally gets the same hard oracle signal as the operators it measures.

    Runs DedupPipeline into a throwaway workdir over the derived corpus and
    emits ``(stage, n_rows)`` — deterministic: every stage's cardinality is
    a pure function of the corpus (verified_pairs relies on LSH recall
    being exactly 1.0 on this fixture, which the recall gate pins; a future
    band-hash drift that loses a pair breaks this row — by design).
    """
    import tempfile

    pipe = DedupPipeline(
        spark, tempfile.mkdtemp(prefix="cpdd_metrics_"), CFG
    )
    pipe.run(derived_transcripts(spark, sf_dir))
    return (
        pipe.io.read("metrics")
        .select("stage", F.col("rows").cast("long").alias("n_rows"))
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filtered aggregation with derived measures.
    Pushdown target: the shipdate filter and 7-column projection must reach
    the parquet scan (guarded by tests/test_plans.py)."""
    li = _read(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _dec_sum(disc_price).alias("sum_disc_price"),
            _dec_sum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + filtered aggregation + deterministic
    top-10 (rank ties broken by orderkey). customer is dim-sized here but
    corpus-sized at SF 100k, so no broadcast hint — AQE decides.

    The top-10 is ``orderBy(...).limit(10)`` — Spark compiles that to
    ``TakeOrderedAndProject`` (per-partition heaps + a 10-row driver merge,
    fully parallel). Rank is then derived WINDOW-FREE: the <= 10 surviving
    rows aggregate into one sorted struct array (sort key: negated revenue
    then orderkey — double negation is an exact sign flip, so the order is
    bit-exact) and ``posexplode`` position + 1 is the rank. No WindowExec
    anywhere in the plan, so nothing can ever funnel the UNLIMITED
    aggregate through one task after a refactor (the shape
    tests/test_plans.py::test_no_unbounded_single_partition_window bans)."""

    cust = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    revenue = _dec_sum(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).alias("revenue")
    agg = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue)
    )
    top10 = agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)
    row = F.struct(
        (-F.col("revenue")).alias("neg_rev"),
        F.col("l_orderkey").alias("k"),
        F.col("revenue").alias("rev"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderpriority").alias("p"),
    )
    return (
        top10.agg(F.sort_array(F.collect_list(row)).alias("rows"))
        .select(F.posexplode("rows").alias("pos", "r"))
        .select(
            F.col("r.k").alias("l_orderkey"),
            F.col("r.rev").alias("revenue"),
            F.date_format("r.d", "yyyy-MM-dd").alias("orderdate"),
            F.col("r.p").alias("o_orderpriority"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
    )


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; nation/region/supplier are true
    dimension tables at every scale and are explicitly broadcast — the big
    fact tables co-shuffle once on the join keys."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    cust = _read(spark, sf_dir, "customer")
    supp = F.broadcast(_read(spark, sf_dir, "supplier"))
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    region = F.broadcast(
        _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    revenue = _dec_sum(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).alias("revenue")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(revenue)
    )


def q_parts_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS shape: parts with no shipment after 2001-01-01 (left anti
    join — Spark's distributed NOT IN without the null trap; the date filter
    keeps the probe side selective AND the result non-empty at every SF)."""
    part = _read(spark, sf_dir, "part")
    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("2001-01-01").cast("timestamp_ntz"))
        .select("l_partkey")
    )
    return part.join(
        li, part["p_partkey"] == li["l_partkey"], "left_anti"
    ).select("p_partkey", "p_name", "p_brand")


def q_active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS shape: suppliers with at least one shipment after 2000-06-01
    (left semi join: no duplicate blowup, no distinct needed)."""
    supp = _read(spark, sf_dir, "supplier")
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-06-01").cast("timestamp_ntz")
    )
    return supp.join(
        li, supp["s_suppkey"] == li["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


def q_order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP reporting: order counts + exact total price at
    (status, priority), (status), and grand-total levels; rolled-up keys
    rendered as 'ALL' so the output is engine-sortable."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price per customer market segment — the
    top-N-per-GROUP pattern, built scale-safe for LOW-cardinality groups
    (5 segments: a bare row_number window would funnel the whole orders
    table through 5 partitions).

    Two passes: (1) a per-segment ``percentile_approx`` threshold at
    ``q = 1 - (k/min_n + 1/a)`` — chosen so the GK rank-error bound
    guarantees at least k rows survive per segment, hence the true top-k
    all survive (rows >= thr is at least n(1-q-1/a) = k*n/min_n >= k) —
    broadcast back as a 5-row filter; (2) row_number only over the pruned
    residue (~k*segments + n/a rows). The per-segment counts are a 5-row
    driver planning hop, same class as CC's convergence checks. Exactness:
    pruning keeps every row priced >= the true k-th max (ties included),
    so the window sees every candidate; ties break by o_orderkey."""
    from pyspark.sql import Window

    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    so = orders.select("o_orderkey", "o_custkey", "o_totalprice").join(
        F.broadcast(cust), "o_custkey"
    )
    k, acc = 3, 10000
    counts = so.groupBy("c_mktsegment").count().collect()
    min_n = min((r["count"] for r in counts), default=0)
    q = 1.0 - (k / min_n + 1.0 / acc) if min_n else 0.0
    if q > 0:
        thr = so.groupBy("c_mktsegment").agg(
            F.percentile_approx("o_totalprice", F.lit(q), F.lit(acc)).alias("_thr")
        )
        so = so.join(F.broadcast(thr), "c_mktsegment").filter(
            F.col("o_totalprice") >= F.col("_thr")
        )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        so.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_orderkey",
            "o_totalprice",
            "rn",
        )
    )


def q_order_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE reporting — the grouping-sets superset of the ROLLUP query:
    adds the priority-only marginal level ((status,priority), (status),
    (priority), ()). Spark plans one Expand + one aggregation — the
    grouping-sets lattice costs one pass regardless of level count."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ship_package(spark)
    return q_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "assemble": q_assemble,
        "exact_clusters": q_exact_clusters,
        "dedup_stats": q_dedup_stats,
        "ngram_pairs": q_ngram_pairs,
        "minhash_pairs": q_minhash_pairs,
        "clusters": q_clusters,
        "clusters_lsh": q_clusters_lsh,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "exact_dedup_documents": q_exact_dedup_documents,
        "ann_topk": q_ann_topk,
        "ann_recall": q_ann_recall,
        "ivf_recall": q_ivf_recall,
        "embed_dup_pairs": q_embed_dup_pairs,
        "events_hourly": q_events_hourly,
        "events_asof": q_events_asof,
        "events_asof_tolerance": q_events_asof_tolerance,
        "session_errors": q_session_errors,
        "event_quantiles": q_event_quantiles,
        "user_sessions": q_user_sessions,
        "user_conversion": q_user_conversion,
        "user_running_spend": q_user_running_spend,
        "doc_split": q_doc_split,
        "stratified_doc_sample": q_stratified_doc_sample,
        "pack_sequences": q_pack_sequences,
        "line_dedup": q_line_dedup,
        "decontaminate": q_decontaminate,
        "token_freq": q_token_freq,
        "repetition": q_repetition,
        # relational/analytics breadth over the TPC-H-shaped tables
        "pricing_summary": q_pricing_summary,
        "ship_priority": q_ship_priority,
        "region_revenue": q_region_revenue,
        "parts_unordered": q_parts_unordered,
        "active_suppliers": q_active_suppliers,
        "order_priority_rollup": q_order_priority_rollup,
        "order_priority_cube": q_order_priority_cube,
        "top_orders_per_segment": q_top_orders_per_segment,
        "substring_pairs": q_substring_pairs,
        "pipeline_metrics": q_pipeline_metrics,
        "stream_exact_dedup": q_stream_exact_dedup,
        "simhash_pairs": q_simhash_pairs,
        "signatures": q_signatures,
        # approximate / engine-specific internals: no SQL oracle
        # (rows-only checks; each documents why in its docstring)
        "event_quantiles_approx": q_event_quantiles_approx,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "multimodal_features": q_multimodal_features,
        "audio_features": q_audio_features,
    }


_STOPWORD_SQL = "('the','a','of','and','to','in','is','it','for','on')"

_COSINE = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
    " / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
)


def oracle_sql() -> dict[str, str]:
    sql = {
        "assemble": SQL_PRELUDE + "SELECT conv_id, n_turns, doc_len, doc FROM docs2",
        "exact_clusters": SQL_PRELUDE
        + "SELECT conv_id, doc_len, md5_hex, cluster_id, cluster_size FROM exact2",
        "dedup_stats": SQL_PRELUDE
        + """
        SELECT CASE WHEN conv_id = cluster_id THEN 'canonical' ELSE 'duplicate' END AS disposition,
               CAST(COUNT(*) AS BIGINT) AS convs, CAST(SUM(doc_len) AS BIGINT) AS bytes
        FROM exact2 GROUP BY 1
        """,
        "ngram_pairs": SQL_PRELUDE + "SELECT a, b, jaccard FROM ngram_pairs",
        "minhash_pairs": SQL_PRELUDE + "SELECT a, b, jaccard FROM ngram_pairs",
        "clusters": SQL_PRELUDE
        + """
        , exact_edges AS (
            SELECT LEAST(conv_id, cluster_id) AS a, GREATEST(conv_id, cluster_id) AS b
            FROM exact2 WHERE conv_id != cluster_id
        ),
        edges AS (
            SELECT a, b FROM exact_edges UNION SELECT a, b FROM ngram_pairs
        ),
        sym AS (SELECT a AS src, b AS dst FROM edges UNION SELECT b, a FROM edges),
        reach AS (
            SELECT conv_id AS src, conv_id AS dst FROM docs2
            UNION
            SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        )
        SELECT src AS conv_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
        """,
        "token_count": (
            "SELECT doc_id, CAST(CASE WHEN length(text)=0 THEN 0 ELSE"
            " len(string_split(text,' ')) END AS BIGINT) AS n_tokens FROM documents"
        ),
        "quality": f"""
        WITH t AS (
          SELECT doc_id,
            CAST(CASE WHEN length(text)=0 THEN 0 ELSE len(string_split(text,' ')) END AS BIGINT) AS n_tokens,
            CAST(CASE WHEN length(text)=0 THEN 0 ELSE
              len(list_filter(string_split(text,' '), s -> lower(s) IN {_STOPWORD_SQL})) END AS BIGINT) AS n_stopwords,
            CAST(length(text) - length(translate(text, '.,!?', '')) AS BIGINT) AS n_punct,
            CAST(length(text) AS DOUBLE) AS n_chars
          FROM documents
        )
        SELECT doc_id, n_tokens, n_stopwords, n_punct,
          (LEAST(n_chars / 500.0, 1.0) * 0.4
           + (CASE WHEN n_tokens > 0 AND n_chars / CAST(n_tokens AS DOUBLE) >= 3
                    AND n_chars / CAST(n_tokens AS DOUBLE) <= 12 THEN 1.0 ELSE 0.5 END) * 0.2
           + LEAST(1.0, CASE WHEN n_tokens > 0
                 THEN CAST(n_stopwords AS DOUBLE) * 10.0 / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.2
           + (CASE WHEN n_chars > 0
                 THEN 1.0 - LEAST(CAST(n_punct AS DOUBLE) * 5.0 / n_chars, 1.0) ELSE 0.0 END) * 0.2
          ) AS quality
        FROM t
        """,
        "lang_id": f"""
        SELECT doc_id,
          CASE WHEN n_tokens < 5 THEN 'short'
               WHEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.03 THEN 'en'
               ELSE 'unknown' END AS lang_pred
        FROM (
          SELECT doc_id,
            CASE WHEN length(text)=0 THEN 0 ELSE len(string_split(text,' ')) END AS n_tokens,
            CASE WHEN length(text)=0 THEN 0 ELSE
              len(list_filter(string_split(text,' '), s -> lower(s) IN {_STOPWORD_SQL})) END AS n_stopwords
          FROM documents
        )
        """,
        "fingerprint": "SELECT doc_id, md5(text) AS fp FROM documents",
        # whitespace as an explicit class (incl. \x0B): Java's \s and RE2's
        # \s disagree on vertical tab, so neither engine's \s is used
        "bpe_token_count": r"""
        SELECT doc_id,
               CAST(len(list_filter(
                 regexp_extract_all(text,
                   '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\f\r\x0BA-Za-z0-9]+|[ \t\n\f\r\x0B]+', 0),
                 t -> NOT regexp_matches(t, '^[ \t\n\f\r\x0B]+$')
               )) AS BIGINT) AS n_bpe_tokens
        FROM documents
        """,
        "exact_dedup_documents": """
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY length(text), md5(text), text) AS cluster_id
        FROM documents
        """,
        "ann_topk": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS ea FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, embedding AS eb FROM embeddings),
        s AS (
          SELECT query_id, neighbor_id, {_COSINE.format(a='ea', b='eb')} AS cosine
          FROM q, c WHERE query_id != neighbor_id
        ),
        r AS (SELECT query_id, neighbor_id, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
              FROM s)
        SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
        # seed-pinned LSH recall@5 per query on the sf0.01 fixture (the LSH
        # half is a numpy matmul, not SQL-expressible; values measured once
        # from the pinned sketches, division left to the engine so the
        # recall doubles are IEEE-identical). Drift in sign_sketches /
        # lsh_topk / ranking breaks this hash — that is the point.
        "ann_recall": """
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(n_hits AS BIGINT) AS n_hits,
               CAST(n_hits AS DOUBLE) / 5.0 AS recall
        FROM (VALUES
          (0, 2), (1, 1), (2, 1), (3, 2), (4, 2), (5, 0), (6, 4), (7, 2),
          (8, 1), (9, 2), (10, 1), (11, 1), (12, 2), (13, 1), (14, 1),
          (15, 4), (16, 2), (17, 2), (18, 0), (19, 2)
        ) AS t(query_id, n_hits)
        """,
        # same pinned-VALUES protocol as ann_recall, for the IVF path:
        # hash-sampled seeded k-means + argmax assignment are deterministic,
        # so per-query recall@5 on the sf0.01 fixture is a constant (mean
        # 0.49 at 8/64 probed cells on near-random vectors)
        "ivf_recall": """
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(n_hits AS BIGINT) AS n_hits,
               CAST(n_hits AS DOUBLE) / 5.0 AS recall
        FROM (VALUES
          (0, 3), (1, 5), (2, 3), (3, 1), (4, 5), (5, 2), (6, 0), (7, 3),
          (8, 2), (9, 3), (10, 4), (11, 0), (12, 1), (13, 0), (14, 2),
          (15, 2), (16, 3), (17, 4), (18, 3), (19, 3)
        ) AS t(query_id, n_hits)
        """,
        # the two approximate top-k lists are PURE FUNCTIONS of the pinned
        # sf0.01 fixture (seeded sketches / seeded k-means, cosine ties
        # broken by neighbor_id), so the full 100-row outputs pin as
        # VALUES — same protocol as ann_recall/ivf_recall, upgraded from
        # recall-only to the exact ranked lists; cosine doubles round-trip
        # exactly through repr -> DuckDB's correctly-rounded parser
        # REAL-decode pin: 20 media rows whose payloads are genuine
        # PNG/BMP/PGM/JPEG/GIF/WebP containers rendered from document
        # text; the decoded pixel histograms below were produced by the
        # pure-Python decode paths, so any codec or kernel drift breaks
        # the hash (same pinned-VALUES protocol as ann_recall)
        "multimodal_features": """
        SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes, format,
               CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               CAST(channels AS INT) AS channels, features_json
        FROM (VALUES
          ('0', 354, 'webp', 32, 5, 3, '{"features":[0.01875,0.0,0.19375,0.0,0.0,0.0,0.49375,0.29375,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('1', 780, 'webp', 32, 13, 3, '{"features":[0.024038462,0.0,0.17067307,0.0,0.0,0.0,0.48076922,0.32451922,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('10', 438, 'jpeg', 32, 7, 1, '{"features":[0.04464286,0.084821425,0.084821425,0.0,0.0,0.04910714,0.4375,0.28125,0.017857144,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('100', 288, 'png', 32, 15, 1, '{"features":[0.039583333,0.0,0.17083333,0.0,0.0,0.0,0.49166667,0.29791668,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('101', 268, 'pgm', 32, 8, 1, '{"features":[0.09375,0.0,0.16015625,0.0,0.0,0.0,0.5,0.24609375,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('102', 288, 'png', 32, 17, 1, '{"features":[0.053308822,0.0,0.16544117,0.0,0.0,0.0,0.49264705,0.28860295,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('103', 299, 'png', 32, 17, 1, '{"features":[0.03125,0.0,0.16911764,0.0,0.0,0.0,0.5202206,0.27941176,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('104', 439, 'jpeg', 32, 8, 1, '{"features":[0.0390625,0.06640625,0.1015625,0.0,0.0,0.09765625,0.40625,0.27734375,0.01171875,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('105', 672, 'webp', 32, 11, 3, '{"features":[0.06818182,0.0,0.16761364,0.0,0.0,0.0,0.45170453,0.3125,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('106', 427, 'jpeg', 32, 3, 1, '{"features":[0.27083334,0.0625,0.0625,0.0,0.0,0.03125,0.33333334,0.22916667,0.010416667,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('107', 726, 'bmp', 32, 7, 3, '{"features":[0.05357143,0.0,0.17410715,0.0,0.0,0.0,0.48660713,0.2857143,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('108', 878, 'gif', 32, 3, 3, '{"features":[0.104166664,0.0,0.15625,0.0,0.0,0.0,0.5416667,0.19791667,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('109', 1065, 'gif', 32, 13, 3, '{"features":[0.050480768,0.0,0.16586539,0.0,0.0,0.0,0.5144231,0.26923078,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('11', 525, 'jpeg', 32, 10, 1, '{"features":[0.05,0.084375,0.09375,0.0,0.0,0.078125,0.40625,0.275,0.0125,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('110', 198, 'webp', 32, 2, 3, '{"features":[0.15625,0.0,0.15625,0.0,0.0,0.0,0.484375,0.203125,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('111', 988, 'webp', 32, 17, 3, '{"features":[0.02757353,0.0,0.17095588,0.0,0.0,0.0,0.4852941,0.31617647,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('112', 1110, 'bmp', 32, 11, 3, '{"features":[0.08522727,0.0,0.16193181,0.0,0.0,0.0,0.48863637,0.26420453,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('113', 832, 'webp', 32, 14, 3, '{"features":[0.04464286,0.0,0.17410715,0.0,0.0,0.0,0.51339287,0.26785713,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('114', 184, 'png', 32, 7, 1, '{"features":[0.07589286,0.0,0.15625,0.0,0.0,0.0,0.48214287,0.2857143,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}'),
          ('115', 917, 'gif', 32, 5, 3, '{"features":[0.175,0.0,0.14375,0.0,0.0,0.0,0.4125,0.26875,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0]}')
        ) AS t(media_id, n_bytes, format, width, height, channels, features_json)
        """,
        # audio twin of the multimodal pin: 20 media rows whose payloads
        # are genuine PCM16 WAV containers rendered from document text;
        # the decoded-sample features below came from the pure-Python
        # RIFF chunk walk (exact int64 RMS, integer ZCR, float64 rfft
        # centroid), so any codec or kernel drift breaks the hash
        "audio_features": """
        SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes, format,
               CAST(sample_rate AS INT) AS sample_rate,
               CAST(n_samples AS BIGINT) AS n_samples,
               CAST(n_channels AS INT) AS n_channels,
               CAST(duration_s AS DOUBLE) AS duration_s,
               CAST(rms AS DOUBLE) AS rms,
               CAST(zero_cross_rate AS DOUBLE) AS zero_cross_rate,
               CAST(spectral_centroid_hz AS DOUBLE) AS spectral_centroid_hz
        FROM (VALUES
          ('0', 358, 'wav', 8000, 157, 1, 0.019625e0, 0.36749916895406276e0, 0.0e0, 1903.010294961491e0),
          ('1', 856, 'wav', 8000, 406, 1, 0.05075e0, 0.34696228286269815e0, 0.0e0, 2015.9844529425359e0),
          ('10', 472, 'wav', 8000, 214, 1, 0.02675e0, 0.34952518459418025e0, 0.0e0, 1918.798513089524e0),
          ('100', 966, 'wav', 8000, 461, 1, 0.057625e0, 0.3489562044309177e0, 0.0e0, 2019.5515674212934e0),
          ('101', 508, 'wav', 8000, 232, 1, 0.029e0, 0.3499487778337774e0, 0.0e0, 1935.397248267522e0),
          ('102', 1074, 'wav', 8000, 515, 1, 0.064375e0, 0.3470433314118385e0, 0.0e0, 1998.5947301597844e0),
          ('103', 1098, 'wav', 8000, 527, 1, 0.065875e0, 0.3473363354811096e0, 0.0e0, 2067.7516563494873e0),
          ('104', 536, 'wav', 8000, 246, 1, 0.03075e0, 0.3508461536525296e0, 0.0e0, 1968.5141900429514e0),
          ('105', 700, 'wav', 8000, 328, 1, 0.041e0, 0.3509360420357993e0, 0.0e0, 1990.1363869084219e0),
          ('106', 184, 'wav', 8000, 70, 1, 0.00875e0, 0.3408205123694666e0, 0.0e0, 1803.6002162162602e0),
          ('107', 468, 'wav', 8000, 212, 1, 0.0265e0, 0.35310197526789566e0, 0.0e0, 1933.1249231296501e0),
          ('108', 216, 'wav', 8000, 86, 1, 0.01075e0, 0.3548677795861046e0, 0.0e0, 1777.3514839604277e0),
          ('109', 834, 'wav', 8000, 395, 1, 0.049375e0, 0.3479430863190801e0, 0.0e0, 2032.111584143149e0),
          ('11', 652, 'wav', 8000, 304, 1, 0.038e0, 0.3577590330801043e0, 0.0e0, 2006.8191457032774e0),
          ('110', 152, 'wav', 8000, 54, 1, 0.00675e0, 0.35849643514324747e0, 0.0e0, 1705.3068010998193e0),
          ('111', 1102, 'wav', 8000, 529, 1, 0.066125e0, 0.34779689500462513e0, 0.0e0, 2073.434330841528e0),
          ('112', 688, 'wav', 8000, 322, 1, 0.04025e0, 0.34959090660690806e0, 0.0e0, 2020.505661827863e0),
          ('113', 900, 'wav', 8000, 428, 1, 0.0535e0, 0.35328748342401156e0, 0.0e0, 2002.8088656663608e0),
          ('114', 458, 'wav', 8000, 207, 1, 0.025875e0, 0.34326845800593936e0, 0.0e0, 1919.2902595850262e0),
          ('115', 308, 'wav', 8000, 132, 1, 0.0165e0, 0.34672265692146503e0, 0.0e0, 1871.7346150885783e0)
        ) AS t(media_id, n_bytes, format, sample_rate, n_samples,
               n_channels, duration_s, rms, zero_cross_rate,
               spectral_centroid_hz)
        """,
        "ann_lsh_topk": """
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(neighbor_id AS BIGINT) AS neighbor_id,
               CAST(cosine AS DOUBLE) AS cosine,
               CAST(rank AS INT) AS rank
        FROM (VALUES
          (0, 1, 365, 0.3699935965460897e0),
          (0, 2, 334, 0.3627220558741131e0),
          (0, 3, 7, 0.29284215147436643e0),
          (0, 4, 464, 0.2766279302075019e0),
          (0, 5, 388, 0.2763005476699542e0),
          (1, 1, 195, 0.32274442635213746e0),
          (1, 2, 363, 0.263306379518924e0),
          (1, 3, 300, 0.23682374403208167e0),
          (1, 4, 441, 0.20693214619351274e0),
          (1, 5, 166, 0.19298355136108689e0),
          (2, 1, 117, 0.318142564237661e0),
          (2, 2, 418, 0.25402949645206835e0),
          (2, 3, 112, 0.24531081757260517e0),
          (2, 4, 350, 0.2400686712011323e0),
          (2, 5, 197, 0.23314916074606343e0),
          (3, 1, 130, 0.39987234325628024e0),
          (3, 2, 149, 0.3299339769519209e0),
          (3, 3, 192, 0.290802917949569e0),
          (3, 4, 437, 0.28053528594179866e0),
          (3, 5, 349, 0.24858115688981752e0),
          (4, 1, 482, 0.31389702932135605e0),
          (4, 2, 280, 0.27982608680315935e0),
          (4, 3, 249, 0.2796306459978647e0),
          (4, 4, 89, 0.26596433888195814e0),
          (4, 5, 47, 0.18420063553568683e0),
          (5, 1, 316, 0.2911124479112199e0),
          (5, 2, 487, 0.2630433732893686e0),
          (5, 3, 453, 0.240669174024953e0),
          (5, 4, 133, 0.23748043939647323e0),
          (5, 5, 24, 0.22161989228098783e0),
          (6, 1, 350, 0.3245176323402529e0),
          (6, 2, 430, 0.32252026548071816e0),
          (6, 3, 437, 0.28303054125250976e0),
          (6, 4, 386, 0.2751964622632997e0),
          (6, 5, 252, 0.255629792758746e0),
          (7, 1, 425, 0.4075199341921925e0),
          (7, 2, 381, 0.3451787678585175e0),
          (7, 3, 221, 0.32467795263904164e0),
          (7, 4, 0, 0.29284215147436643e0),
          (7, 5, 59, 0.27023582414155406e0),
          (8, 1, 39, 0.384696274117943e0),
          (8, 2, 173, 0.302029603331879e0),
          (8, 3, 207, 0.28567510379524186e0),
          (8, 4, 494, 0.2840582444228135e0),
          (8, 5, 44, 0.2632173469864468e0),
          (9, 1, 489, 0.34353844645808684e0),
          (9, 2, 107, 0.2844935027707189e0),
          (9, 3, 259, 0.2514843841938669e0),
          (9, 4, 302, 0.24766351404606549e0),
          (9, 5, 319, 0.24190310903970472e0),
          (10, 1, 44, 0.3551777649324156e0),
          (10, 2, 11, 0.23626628023461832e0),
          (10, 3, 409, 0.23416017732035424e0),
          (10, 4, 16, 0.21520147297775338e0),
          (10, 5, 312, 0.21087015988317903e0),
          (11, 1, 277, 0.3373009084210781e0),
          (11, 2, 77, 0.23721016526947286e0),
          (11, 3, 10, 0.23626628023461832e0),
          (11, 4, 6, 0.235948510345278e0),
          (11, 5, 44, 0.22660004827031294e0),
          (12, 1, 127, 0.3505432267263364e0),
          (12, 2, 297, 0.3124323197340424e0),
          (12, 3, 16, 0.26615118615100775e0),
          (12, 4, 100, 0.26546492516061565e0),
          (12, 5, 390, 0.24797325903401785e0),
          (13, 1, 440, 0.35839923425899817e0),
          (13, 2, 274, 0.2864868236816994e0),
          (13, 3, 398, 0.2806473903074468e0),
          (13, 4, 314, 0.2689604247327743e0),
          (13, 5, 477, 0.2245935759041364e0),
          (14, 1, 298, 0.31271230473296696e0),
          (14, 2, 297, 0.24083623496499912e0),
          (14, 3, 69, 0.233779529518171e0),
          (14, 4, 78, 0.23080323686903564e0),
          (14, 5, 269, 0.23024172332660947e0),
          (15, 1, 424, 0.3633100839827929e0),
          (15, 2, 436, 0.3240276225703262e0),
          (15, 3, 284, 0.31615882192680006e0),
          (15, 4, 452, 0.2688880631921913e0),
          (15, 5, 365, 0.256993937732844e0),
          (16, 1, 35, 0.34997142810350923e0),
          (16, 2, 222, 0.33420123515300326e0),
          (16, 3, 282, 0.3171809590503246e0),
          (16, 4, 154, 0.2834732968389191e0),
          (16, 5, 12, 0.26615118615100775e0),
          (17, 1, 135, 0.33783733042837477e0),
          (17, 2, 197, 0.3325159842269793e0),
          (17, 3, 72, 0.27940614135642916e0),
          (17, 4, 20, 0.27652804367977735e0),
          (17, 5, 82, 0.27426644873143047e0),
          (18, 1, 356, 0.23426229983058827e0),
          (18, 2, 43, 0.2286220317418207e0),
          (18, 3, 337, 0.2025185293894441e0),
          (18, 4, 442, 0.1826680277370808e0),
          (18, 5, 418, 0.18086759666733446e0),
          (19, 1, 317, 0.3156683498505636e0),
          (19, 2, 54, 0.30256158000315525e0),
          (19, 3, 86, 0.24200740162886783e0),
          (19, 4, 94, 0.22418997005540742e0),
          (19, 5, 214, 0.20557199557377573e0)
        ) AS t(query_id, rank, neighbor_id, cosine)
        """,
        "ann_ivf_topk": """
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(neighbor_id AS BIGINT) AS neighbor_id,
               CAST(cosine AS DOUBLE) AS cosine,
               CAST(rank AS INT) AS rank
        FROM (VALUES
          (0, 1, 365, 0.3699935965460897e0),
          (0, 2, 423, 0.2969335986409863e0),
          (0, 3, 73, 0.29543411523164853e0),
          (0, 4, 7, 0.29284215147436643e0),
          (0, 5, 464, 0.2766279302075019e0),
          (1, 1, 386, 0.37148454183744223e0),
          (1, 2, 27, 0.3482081864636984e0),
          (1, 3, 407, 0.3270099496117245e0),
          (1, 4, 195, 0.32274442635213746e0),
          (1, 5, 64, 0.3163742953318501e0),
          (2, 1, 117, 0.318142564237661e0),
          (2, 2, 450, 0.26634395520019954e0),
          (2, 3, 320, 0.25504277088103294e0),
          (2, 4, 418, 0.25402949645206835e0),
          (2, 5, 112, 0.24531081757260517e0),
          (3, 1, 343, 0.30847165466962984e0),
          (3, 2, 315, 0.285191968671821e0),
          (3, 3, 437, 0.28053528594179866e0),
          (3, 4, 463, 0.2608734389395776e0),
          (3, 5, 349, 0.24858115688981752e0),
          (4, 1, 114, 0.39851269358433744e0),
          (4, 2, 496, 0.34121178056570023e0),
          (4, 3, 408, 0.32275312529105415e0),
          (4, 4, 482, 0.31389702932135605e0),
          (4, 5, 280, 0.27982608680315935e0),
          (5, 1, 157, 0.31125602484760423e0),
          (5, 2, 359, 0.3058210572054561e0),
          (5, 3, 487, 0.2630433732893686e0),
          (5, 4, 451, 0.20448540607120236e0),
          (5, 5, 25, 0.1810684228266658e0),
          (6, 1, 395, 0.2591195532405805e0),
          (6, 2, 371, 0.24136445905502324e0),
          (6, 3, 403, 0.2319736644520865e0),
          (6, 4, 78, 0.20823917013691964e0),
          (6, 5, 105, 0.20778042003687974e0),
          (7, 1, 425, 0.4075199341921925e0),
          (7, 2, 334, 0.3569014029689115e0),
          (7, 3, 381, 0.3451787678585175e0),
          (7, 4, 445, 0.34078247055145644e0),
          (7, 5, 221, 0.32467795263904164e0),
          (8, 1, 39, 0.384696274117943e0),
          (8, 2, 380, 0.3045263882069312e0),
          (8, 3, 156, 0.16236607958294466e0),
          (8, 4, 198, 0.13817675470004595e0),
          (8, 5, 479, 0.13088972668629564e0),
          (9, 1, 49, 0.38517053208433855e0),
          (9, 2, 489, 0.34353844645808684e0),
          (9, 3, 107, 0.2844935027707189e0),
          (9, 4, 256, 0.2844743732954765e0),
          (9, 5, 198, 0.2586758655955398e0),
          (10, 1, 233, 0.36218205991708574e0),
          (10, 2, 272, 0.36064858734257216e0),
          (10, 3, 313, 0.313131648492288e0),
          (10, 4, 123, 0.31304530348642273e0),
          (10, 5, 38, 0.272263803973401e0),
          (11, 1, 380, 0.2048784532796827e0),
          (11, 2, 198, 0.12568782310225995e0),
          (11, 3, 75, 0.11357674536691591e0),
          (11, 4, 156, 0.11041482308811322e0),
          (11, 5, 9, 0.10890082190782535e0),
          (12, 1, 297, 0.3124323197340424e0),
          (12, 2, 274, 0.2675268852532855e0),
          (12, 3, 100, 0.26546492516061565e0),
          (12, 4, 246, 0.26323090404425586e0),
          (12, 5, 147, 0.2504514844637957e0),
          (13, 1, 161, 0.2627057372138921e0),
          (13, 2, 352, 0.20247479380508898e0),
          (13, 3, 446, 0.18144990876442313e0),
          (13, 4, 282, 0.14722430643769718e0),
          (13, 5, 260, 0.14636517575640007e0),
          (14, 1, 298, 0.31271230473296696e0),
          (14, 2, 479, 0.28736055654256076e0),
          (14, 3, 156, 0.27841926062314926e0),
          (14, 4, 199, 0.2779504348433254e0),
          (14, 5, 59, 0.2658026883990465e0),
          (15, 1, 424, 0.3633100839827929e0),
          (15, 2, 59, 0.3196098684820804e0),
          (15, 3, 365, 0.256993937732844e0),
          (15, 4, 110, 0.2525629537520518e0),
          (15, 5, 396, 0.24688029278905632e0),
          (16, 1, 402, 0.44630134007488836e0),
          (16, 2, 421, 0.36533376274443574e0),
          (16, 3, 222, 0.33420123515300326e0),
          (16, 4, 124, 0.3263903313295807e0),
          (16, 5, 282, 0.3171809590503246e0),
          (17, 1, 135, 0.33783733042837477e0),
          (17, 2, 115, 0.33569273713758935e0),
          (17, 3, 197, 0.3325159842269793e0),
          (17, 4, 416, 0.3204262707569016e0),
          (17, 5, 70, 0.28924085099678454e0),
          (18, 1, 120, 0.3270464148136105e0),
          (18, 2, 112, 0.313640376891996e0),
          (18, 3, 495, 0.28156944387197613e0),
          (18, 4, 228, 0.2804624607539477e0),
          (18, 5, 63, 0.24301316720594432e0),
          (19, 1, 87, 0.40324079967454657e0),
          (19, 2, 54, 0.30256158000315525e0),
          (19, 3, 52, 0.29289030328971005e0),
          (19, 4, 495, 0.2796606793436933e0),
          (19, 5, 391, 0.2718905066783765e0)
        ) AS t(query_id, rank, neighbor_id, cosine)
        """,
        "embed_dup_pairs": f"""
        WITH l AS (SELECT vec_id AS a, embedding AS ea FROM embeddings),
        r AS (SELECT vec_id AS b, embedding AS eb FROM embeddings)
        SELECT a, b, {_COSINE.format(a='ea', b='eb')} AS cosine
        FROM l, r WHERE a < b
          AND {_COSINE.format(a='ea', b='eb')} >= 0.8
        """,
        "events_hourly": """
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket, event_type,
               COUNT(*) AS n, MIN(value) AS min_value, MAX(value) AS max_value
        FROM events GROUP BY 1, 2
        """,
        "events_asof": """
        WITH e AS (
          SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ep_us
          FROM events
        ),
        l AS (SELECT event_id, user_id, value, ep_us FROM e WHERE event_type = 'click'),
        r AS (
          SELECT user_id, ep_us, MAX(value) AS pvalue
          FROM e WHERE event_type = 'purchase' GROUP BY user_id, ep_us
        )
        SELECT l.event_id, l.user_id, l.value AS click_value,
               r.pvalue AS last_purchase_value,
               l.ep_us - r.ep_us AS gap_us
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ep_us >= r.ep_us
        """,
        "event_quantiles": """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
        """,
        # the GK-sketch query emits its CONTRACT (rank-bound booleans), not
        # sketch values — engine-stable, so the oracle is the literal TRUE
        # the bound must evaluate to over the independently-computed groups;
        # any sketch drift past n/accuracy (+2 definitional slack) flips a
        # boolean and fails the hash
        "event_quantiles_approx": """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
        FROM events GROUP BY event_type
        """,
        # the tolerance branch: DuckDB's native ASOF match, then the gap
        # filter nulls matches older than 1h — bitwise the contract
        # asof_join(tolerance=...) implements (stale => whole payload null)
        "events_asof_tolerance": """
        WITH e AS (
          SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ep_us
          FROM events
        ),
        l AS (SELECT event_id, user_id, value, ep_us FROM e WHERE event_type = 'click'),
        r AS (
          SELECT user_id, ep_us, MAX(value) AS pvalue
          FROM e WHERE event_type = 'purchase' GROUP BY user_id, ep_us
        ),
        j AS (
          SELECT l.event_id, l.user_id, l.value AS click_value,
                 r.pvalue, l.ep_us - r.ep_us AS gap
          FROM l ASOF LEFT JOIN r
            ON l.user_id = r.user_id AND l.ep_us >= r.ep_us
        )
        SELECT event_id, user_id, click_value,
               CASE WHEN gap <= 3600000000 THEN pvalue END AS last_purchase_value,
               CASE WHEN gap <= 3600000000 THEN gap END AS gap_us
        FROM j
        """,
        "session_errors": """
        WITH e AS (
          SELECT user_id, event_id, epoch_us(ts) AS ep_us FROM events
        ),
        m AS (
          SELECT user_id, event_id, ep_us,
                 CASE WHEN ep_us - LAG(ep_us) OVER w IS NULL
                        OR ep_us - LAG(ep_us) OVER w > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep_us, event_id)
        ),
        s AS (
          SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ep_us, event_id
            ROWS UNBOUNDED PRECEDING
          ) AS session_idx FROM m
        ),
        sess AS (
          SELECT user_id, CAST(session_idx AS INT) AS session_idx,
                 MIN(ep_us) AS start_us, MAX(ep_us) AS end_us
          FROM s GROUP BY user_id, session_idx
        ),
        err AS (
          SELECT event_id, user_id, epoch_us(ts) AS ep_us
          FROM events WHERE event_type = 'error'
        )
        SELECT sess.user_id, sess.session_idx,
               CAST(COUNT(*) AS BIGINT) AS n_errors
        FROM err JOIN sess
          ON err.user_id = sess.user_id
         AND err.ep_us BETWEEN sess.start_us AND sess.end_us
        GROUP BY sess.user_id, sess.session_idx
        """,
        "user_sessions": """
        WITH e AS (
          SELECT user_id, event_id, epoch_us(ts) AS ep_us FROM events
        ),
        m AS (
          SELECT user_id, event_id, ep_us,
                 CASE WHEN ep_us - LAG(ep_us) OVER w IS NULL
                        OR ep_us - LAG(ep_us) OVER w > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep_us, event_id)
        ),
        s AS (
          SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ep_us, event_id
            ROWS UNBOUNDED PRECEDING
          ) AS session_idx FROM m
        )
        SELECT user_id, CAST(session_idx AS INT) AS session_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ep_us) AS start_us, MAX(ep_us) AS end_us,
               MAX(ep_us) - MIN(ep_us) AS duration_us
        FROM s GROUP BY user_id, session_idx
        """,
        "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
          CAST(COUNT(*) AS BIGINT) AS count_order,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-01-01'
        GROUP BY l_returnflag, l_linestatus
        """,
        "ship_priority": """
        WITH agg AS (
          SELECT l_orderkey,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
            o_orderdate, o_orderpriority
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-01-01'
            AND l_shipdate > TIMESTAMP '1998-01-01'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
        )
        SELECT l_orderkey, revenue,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
               o_orderpriority, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS rn FROM agg)
        WHERE rn <= 10
        """,
        "region_revenue": """
        SELECT n_name,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
        """,
        "parts_unordered": """
        SELECT p_partkey, p_name, p_brand FROM part p
        WHERE NOT EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_partkey = p.p_partkey AND l.l_shipdate > TIMESTAMP '2001-01-01'
        )
        """,
        "active_suppliers": """
        SELECT s_suppkey, s_name FROM supplier s
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_suppkey = s.s_suppkey AND l.l_shipdate > TIMESTAMP '2000-06-01'
        )
        """,
        "substring_pairs": SQL_PRELUDE
        + """
        , g37 AS (
          SELECT conv_id AS id, unnest(gset) AS g
          FROM (
            SELECT conv_id,
                   list_distinct(list_transform(range(len(tk) - 36),
                                 i -> array_to_string(list_slice(tk, i + 1, i + 37), ' '))) AS gset
            FROM tokd
            WHERE len(tk) >= 37
          )
        )
        SELECT l.id AS a, r.id AS b, CAST(COUNT(*) AS BIGINT) AS n_common_runs
        FROM g37 l JOIN g37 r ON l.g = r.g AND l.id < r.id
        GROUP BY l.id, r.id
        """,
        # SimHash is deterministic end-to-end (SipHash-keyed token hashes,
        # fixed bit-plane aggregation, exact popcount filter), so the pair
        # set on the pinned sf0.01 fixture is a constant — pinned VALUES,
        # same protocol as ann_recall/ivf_recall. Any drift in the shingle
        # hasher, the simhash kernel, or the block-pair screen breaks it.
        "simhash_pairs": """
        SELECT a, b, CAST(hamming AS INT) AS hamming
        FROM (VALUES
          ('conv_0', 'dup_0', 0), ('conv_10', 'dup_10', 0), ('conv_100', 'dup_100', 0),
          ('conv_107', 'conv_387', 3), ('conv_110', 'dup_110', 0), ('conv_120', 'conv_332', 5),
          ('conv_120', 'dup_120', 0), ('conv_130', 'dup_130', 0), ('conv_134', 'conv_87', 6),
          ('conv_136', 'near_136', 6), ('conv_140', 'dup_140', 0), ('conv_143', 'near_143', 4),
          ('conv_150', 'dup_150', 0), ('conv_152', 'conv_178', 4), ('conv_160', 'dup_160', 0),
          ('conv_166', 'conv_323', 5), ('conv_170', 'dup_170', 0), ('conv_171', 'near_171', 6),
          ('conv_180', 'dup_180', 0), ('conv_185', 'conv_61', 3), ('conv_190', 'dup_190', 0),
          ('conv_20', 'dup_20', 0), ('conv_200', 'dup_200', 0), ('conv_210', 'dup_210', 0),
          ('conv_220', 'dup_220', 0), ('conv_230', 'dup_230', 0), ('conv_24', 'near_24', 5),
          ('conv_240', 'dup_240', 0), ('conv_245', 'conv_8', 2), ('conv_250', 'dup_250', 0),
          ('conv_260', 'dup_260', 0), ('conv_267', 'conv_413', 4), ('conv_267', 'conv_45', 0),
          ('conv_267', 'near_45', 5), ('conv_269', 'near_269', 6), ('conv_270', 'dup_270', 0),
          ('conv_276', 'near_276', 5), ('conv_280', 'dup_280', 0), ('conv_283', 'near_283', 6),
          ('conv_285', 'conv_301', 3), ('conv_290', 'conv_98', 6), ('conv_290', 'dup_290', 0),
          ('conv_293', 'conv_58', 1), ('conv_295', 'conv_374', 6), ('conv_30', 'dup_30', 0),
          ('conv_300', 'dup_300', 0), ('conv_31', 'conv_383', 3), ('conv_310', 'conv_389', 5),
          ('conv_310', 'dup_310', 0), ('conv_318', 'near_318', 6), ('conv_320', 'dup_320', 0),
          ('conv_326', 'conv_457', 6), ('conv_330', 'dup_330', 0), ('conv_332', 'dup_120', 5),
          ('conv_340', 'dup_340', 0), ('conv_350', 'dup_350', 0), ('conv_360', 'dup_360', 0),
          ('conv_370', 'dup_370', 0), ('conv_377', 'conv_72', 0), ('conv_380', 'dup_380', 0),
          ('conv_388', 'near_388', 6), ('conv_389', 'dup_310', 5), ('conv_390', 'dup_390', 0),
          ('conv_393', 'conv_420', 0), ('conv_393', 'dup_420', 0), ('conv_395', 'near_395', 6),
          ('conv_40', 'dup_40', 0), ('conv_400', 'dup_400', 0), ('conv_410', 'dup_410', 0),
          ('conv_413', 'conv_45', 4), ('conv_420', 'dup_420', 0), ('conv_423', 'near_423', 6),
          ('conv_430', 'dup_430', 0), ('conv_435', 'conv_486', 6), ('conv_437', 'near_437', 4),
          ('conv_44', 'conv_446', 2), ('conv_440', 'dup_440', 0), ('conv_444', 'near_444', 5),
          ('conv_447', 'conv_70', 2), ('conv_447', 'dup_70', 2), ('conv_45', 'near_45', 5),
          ('conv_450', 'conv_92', 6), ('conv_450', 'dup_450', 0), ('conv_458', 'conv_462', 1),
          ('conv_460', 'dup_460', 0), ('conv_470', 'dup_470', 0), ('conv_480', 'dup_480', 0),
          ('conv_490', 'dup_490', 0), ('conv_50', 'dup_50', 0), ('conv_60', 'dup_60', 0),
          ('conv_70', 'dup_70', 0), ('conv_73', 'near_73', 4), ('conv_80', 'dup_80', 0),
          ('conv_90', 'dup_90', 0), ('conv_92', 'dup_450', 6), ('conv_98', 'dup_290', 6)
        ) AS t(a, b, hamming)
        """,
        # stage cardinalities of the full pipeline: documents/exact/clusters
        # are corpus counts, signatures runs over exact-cluster reps,
        # verified_pairs == the exact n-gram pair set restricted to reps
        # (valid while LSH recall is 1.0 on this fixture — gated), and
        # substring_pairs == the rep-restricted R=37-gram pair set (winnow
        # guarantee, buckets under cap at this SF)
        # streaming exact tier: canonical = lexicographically-smallest
        # doc_id in the EARLIEST md5-bucket batch containing the content
        # (first-match-wins across micro-batches, min-id within a batch)
        "stream_exact_dedup": f"""
        WITH arriving AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
          UNION ALL
          SELECT CAST(doc_id AS VARCHAR) || '_dup', text FROM documents
          WHERE {hash_bucket_sql('doc_id')} < 410
        ), b AS (
          SELECT doc_id, text,
                 ({hash_bucket_sql('doc_id')} % 3) AS batch
          FROM arriving
        )
        SELECT doc_id,
               FIRST_VALUE(doc_id) OVER (
                 PARTITION BY text ORDER BY batch, doc_id
               ) AS cluster_id
        FROM b
        """,
        "pipeline_metrics": SQL_PRELUDE
        + """
        , reps AS (SELECT conv_id FROM exact2 WHERE conv_id = cluster_id),
        g37r AS (
          SELECT conv_id AS id, unnest(gset) AS g
          FROM (
            SELECT conv_id,
                   list_distinct(list_transform(range(len(tk) - 36),
                                 i -> array_to_string(list_slice(tk, i + 1, i + 37), ' '))) AS gset
            FROM tokd
            WHERE len(tk) >= 37 AND conv_id IN (SELECT conv_id FROM reps)
          )
        ),
        sub_pairs AS (
          SELECT l.id AS a, r.id AS b
          FROM g37r l JOIN g37r r ON l.g = r.g AND l.id < r.id
          GROUP BY l.id, r.id
        )
        SELECT * FROM (
          SELECT 'documents' AS stage, (SELECT COUNT(*) FROM docs2) AS n_rows
          UNION ALL SELECT 'exact_clusters', (SELECT COUNT(*) FROM docs2)
          UNION ALL SELECT 'signatures', (SELECT COUNT(*) FROM reps)
          UNION ALL SELECT 'verified_pairs',
            (SELECT COUNT(*) FROM ngram_pairs
             WHERE a IN (SELECT conv_id FROM reps)
               AND b IN (SELECT conv_id FROM reps))
          UNION ALL SELECT 'substring_pairs', (SELECT COUNT(*) FROM sub_pairs)
          UNION ALL SELECT 'clusters', (SELECT COUNT(*) FROM docs2)
        )
        """,
        "order_priority_rollup": """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        # both sides parse md5's first 3 hex chars with the SAME CASE
        # ladder (hash_bucket_sql is generated from the same table as the
        # Spark expression — the two cannot drift independently)
        "doc_split": f"""
        SELECT doc_id,
               CAST({hash_bucket_sql('doc_id')} AS BIGINT) AS split_bucket,
               CASE WHEN {hash_bucket_sql('doc_id')} < 3686 THEN 'train'
                    WHEN {hash_bucket_sql('doc_id')} < 3891 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        """,
        "stratified_doc_sample": f"""
        SELECT doc_id, lang FROM documents
        WHERE {hash_bucket_sql('doc_id')} <
              CASE lang WHEN 'en' THEN 2048 WHEN 'de' THEN 1024 ELSE 410 END
        """,
        "pack_sequences": """
        SELECT doc_id, lang, n_tokens,
               CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2048) AS BIGINT) AS pack_id
        FROM (
          SELECT doc_id, lang,
                 CAST(CASE WHEN length(text)=0 THEN 0
                      ELSE len(string_split(text,' ')) END AS BIGINT) AS n_tokens
          FROM documents
        )
        """,
        "line_dedup": """
        SELECT doc_id,
               CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
               CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT)
                 AS n_distinct_lines,
               CAST(length(array_to_string(list_distinct(string_split(text, chr(10))),
                 chr(10))) AS BIGINT) AS deduped_len
        FROM documents
        """,
        # same canonical tokenization as the engine; ties at the top-100
        # boundary break on the token string in BOTH engines
        "token_freq": f"""
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
          SELECT unnest(list_filter(regexp_split_to_array(text, '{WS_SQL}'),
                        t -> t <> '')) AS token
          FROM documents
        )
        GROUP BY token
        ORDER BY n DESC, token ASC
        LIMIT 100
        """,
        # duplicate-n-gram fractions: exact integer counts, one IEEE
        # division -> doubles hash-match cross-engine
        "repetition": f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '{WS_SQL}'),
                             x -> x <> '') AS tk
          FROM documents
        )
        SELECT doc_id,
          CASE WHEN len(tk) >= 2 THEN
            CAST(len(tk) - 1 - len(list_distinct(list_transform(range(len(tk) - 1),
                 i -> array_to_string(list_slice(tk, i + 1, i + 2), ' ')))) AS DOUBLE)
            / CAST(len(tk) - 1 AS DOUBLE)
          ELSE 0e0 END AS bigram_rep,
          CASE WHEN len(tk) >= 3 THEN
            CAST(len(tk) - 2 - len(list_distinct(list_transform(range(len(tk) - 2),
                 i -> array_to_string(list_slice(tk, i + 1, i + 3), ' ')))) AS DOUBLE)
            / CAST(len(tk) - 2 AS DOUBLE)
          ELSE 0e0 END AS trigram_rep
        FROM t
        """,
        # full inverted-index twin of cpdd_spark.ngram.decontaminate:
        # same canonical tokenization and distinct-5-gram construction as
        # the ngram_pairs CTE, probe set = doc_id % 17 == 0
        "decontaminate": f"""
        WITH dtok AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '{WS_SQL}'),
                             t -> t <> '') AS tk
          FROM documents
        ),
        dgrams AS (
          SELECT doc_id AS id,
                 unnest(list_distinct(list_transform(range(len(tk) - 4),
                        i -> array_to_string(list_slice(tk, i + 1, i + 5), ' '))))
                   AS shingle
          FROM dtok WHERE len(tk) >= 5
        ),
        probe AS (SELECT DISTINCT shingle FROM dgrams WHERE id % 17 = 0),
        hits AS (
          SELECT id, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM dgrams JOIN probe USING (shingle) GROUP BY id
        )
        SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
               COALESCE(h.n_hits, 0) >= 1 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.id
        """,
        "user_conversion": """
        SELECT user_id, first_click_us,
               COALESCE(first_purchase_us, -1) AS first_purchase_us,
               COALESCE(CASE WHEN first_purchase_us >= first_click_us
                    THEN first_purchase_us - first_click_us END, -1) AS convert_us
        FROM (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
                 MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
          FROM events GROUP BY user_id
        )
        WHERE first_click_us IS NOT NULL
        """,
        # running sum accumulates in DECIMAL on BOTH engines so the value
        # is exact regardless of window-evaluation order (DuckDB's
        # segment-tree SUM vs Spark's sequential accumulation)
        "user_running_spend": """
        SELECT user_id, event_id, epoch_us(ts) AS ep_us,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS UNBOUNDED PRECEDING
               ) AS DOUBLE) AS cum_spend
        FROM events WHERE event_type = 'purchase'
        """,
        "top_orders_per_segment": """
        SELECT c_mktsegment AS segment, o_orderkey, o_totalprice, rn
        FROM (
          SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice DESC, o.o_orderkey
                 ) AS BIGINT) AS rn
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        WHERE rn <= 3
        """,
        "order_priority_cube": """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        # the 20 lexicographically-first documents' full signatures, each
        # minhash array folded through xxhash64 — a constant of the pinned
        # fixture + seed; same pinned-VALUES protocol as ann_recall. Any
        # drift in tokenizer/shingle-hasher/permutations/simhash breaks it.
        "signatures": """
        SELECT conv_id, CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(mh_first AS BIGINT) AS mh_first,
               CAST(mh_last AS BIGINT) AS mh_last,
               CAST(mh_xx AS BIGINT) AS mh_xx,
               CAST(simhash AS BIGINT) AS simhash
        FROM (VALUES
          ('conv_0', 28, 105290290, 100908573, -8559672207363888285, 4695396239268716804),
          ('conv_1', 68, 4646617, 17719369, 1246151981787781461, -8022508075596697574),
          ('conv_10', 35, 28197468, 114128313, 9028318811028351208, 6489379079590926286),
          ('conv_100', 79, 7204011, 110403269, -3547826420347806919, -4167866486445112186),
          ('conv_101', 38, 95891097, 108462021, 3841881005525648559, -3998633507157143289),
          ('conv_102', 87, 21236427, 30658523, 4281463785741240481, -7097550577896482908),
          ('conv_103', 89, 1104838, 30238082, 5220796030392245932, 5332233720485239724),
          ('conv_104', 40, 195425463, 109301617, -8405261947549764711, -6195007231133716894),
          ('conv_105', 56, 178027196, 53657489, -6213039921752701140, -852863725424316496),
          ('conv_106', 9, 261084820, 84354608, 8335850705866834181, -1296405683845188951),
          ('conv_107', 36, 196479612, 80738232, -3060548938587969718, 2281677053483900391),
          ('conv_108', 12, 548437670, 532996556, -5659046796645939370, -6392528520811882755),
          ('conv_109', 66, 8082293, 141421994, -8298829775786960976, 8200276549104443966),
          ('conv_11', 54, 6906016, 82190464, -4798597759022881308, -6503122806376128496),
          ('conv_110', 7, 16661013, 162175660, -7201098000208849205, -8596793459996672839),
          ('conv_111', 90, 35896564, 109162079, 3164166424971104506, 2562976449720639614),
          ('conv_112', 54, 9740194, 51786690, -8307148349270268962, 869886448497075407),
          ('conv_113', 75, 24442504, 55398360, -346044167510263244, -2541481154461820972),
          ('conv_114', 32, 226326113, 209113954, 893227977583311643, 7288102908735259703),
          ('conv_115', 20, 58271752, 91665076, -4511841222793723248, -6899021887543291602)
        ) AS t(conv_id, n_shingles, mh_first, mh_last, mh_xx, simhash)
        """,
    }
    # the LSH production route computes the SAME clusters as the exhaustive
    # inverted-index route on every shipped corpus (banded recall 1.0 there;
    # equality pinned by tests/test_entry.py), so it shares the oracle
    sql["clusters_lsh"] = sql["clusters"]
    return sql
