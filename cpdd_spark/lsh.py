"""LSH band bucketing + skew-aware candidate-pair generation (P7, P8).

The reference's tier-1 "size buckets" (binary search on size,
/root/reference/src/cpdd/matching.c:337-354) generalize to hash buckets:
slice the k-slot MinHash signature into b bands of r rows; documents
colliding on any band's hash become candidate pairs, verified later by exact
Jaccard (the same never-trust-the-hash discipline as matching.c:77-83).

Skew is THE scale hazard here (BASELINE.json: "salted repartitioning to
defuse hot LSH bands at 10^12-turn scale"). Defenses, layered:

1. **Dedupe before LSH**: the batch cascade signs exact-cluster
   representatives only (cpdd_spark.pipeline.cascade), so a million
   byte-identical boilerplate transcripts collapse to ONE row before any
   band hashing (the reference's layering: cheap exact tier first).
2. **Bounded expansion**: :func:`pairs_from_buckets` collects each bucket's
   sorted members once and pairs member i with its next ``max_band_bucket``
   neighbours. Small buckets emit all C(n,2) pairs; hot buckets emit
   O(n * cap) pairs and stay chained, so a true-duplicate blob remains one
   component through CC. Degenerate buckets are pre-salted into shards of
   ~``SHARD_TARGET`` members whose representatives are chained.
3. **AQE**: partition coalescing and skew-join splitting absorb the
   residual imbalance at runtime (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpdd_spark.config import DedupConfig


def band_buckets(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """``signatures`` -> ``(conv_id, band_id, band_hash)``.

    Docs with no shingles (< w tokens) are screened out — they cannot meet a
    Jaccard threshold and the exact tier already handles identical shorts.
    ``F.hash`` (Murmur3) over the band slice runs JVM-side inside codegen.
    """
    r = cfg.lsh_rows
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda j: F.hash(F.slice("minhash", j * r + 1, r)),
    )
    return (
        signatures.filter(F.col("n_shingles") > 0)
        .select("conv_id", F.posexplode(bands).alias("band_id", "band_hash"))
    )


# bound on members collected per (bucket, shard) group: keeps any single
# aggregation row small even for degenerate million-member buckets
SHARD_TARGET = 10_000


def pairs_from_buckets(
    buckets: DataFrame,
    key_cols: list[str],
    cfg: DedupConfig,
    eager: bool = True,
    id_col: str = "conv_id",
    distinct: bool = True,
    payload_cols: list[str] | None = None,
    release: list | None = None,
) -> DataFrame:
    """Skew-aware pair generation from ``(key_cols..., id_col)`` bucket rows.

    ``id_col`` may be any orderable type (string conv_ids, long vector
    ids, ...): members sort, pair, and chain in the column's NATIVE order —
    callers with numeric ids keep 8-byte shuffle keys instead of paying two
    casts and string comparisons on the candidate path.

    ``payload_cols`` names small per-member columns to CARRY THROUGH the
    bucket machinery (guide §2.3 "shuffle keys and metadata instead of
    payloads" — inverted: when the downstream verify needs only a few
    bytes per member, riding them through the collect beats joining them
    back onto the candidate list afterwards). Members become structs of
    ``(id, *payloads)``; since ``id_col`` is unique per bucket member, the
    struct sort order equals the id order and the emitted pair set is
    identical. Output columns become ``a, b, <p>_a, <p>_b`` per payload
    ``p``. Only for fixed-width scalar payloads (a simhash long, a size) —
    arrays belong on a post-expansion join.

    Shared by LSH band buckets, substring fingerprint buckets, and the
    embedding sign-LSH buckets. ONE
    aggregation collects each bucket's (sorted) members, then pairs expand
    JVM-side with a BANDED window: member i pairs with its next
    min(cap, n-i-1) sorted neighbors. Consequences:

    - buckets with n <= cap+1 emit exactly all C(n,2) pairs;
    - hot buckets emit O(n*cap) pairs, and consecutive members chain, so a
      true-duplicate blob stays one connected component through CC — the
      salting/star design collapsed into a single rule (no self-join, no
      branch plumbing: measured 5x fewer shuffle stages than the
      join-based formulation);
    - degenerate buckets (n > SHARD_TARGET) are pre-salted into shards of
      ~SHARD_TARGET members to bound the collect_list row, and shard
      representatives are chained to keep the bucket connected.
    """
    cap = cfg.max_band_bucket
    # bucket size as a WINDOW over the bucket key (r8): the previous
    # aggregate + self-join shape evaluated the bucket-key generator
    # (band explode / block-combo explode) TWICE — once per join side —
    # and paid a second exchange + sort-merge join for the size lookup.
    # The window computes the count on the ONE exchange the downstream
    # (key, salt) groupBy needs anyway (hash partitioning on the key
    # columns satisfies the superset grouping's clustering), so the plan
    # drops one Generate, one Exchange and the SMJ per call — same
    # shape win as ngram.jaccard_pairs' df-cap window (guide §2.4).
    from pyspark.sql import Window

    keyed = buckets.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    )
    n_shards = F.ceil(F.col("bucket_n") / F.lit(SHARD_TARGET)).cast("int")
    # shard salt: crc32 for string ids (pinned by the independent Python
    # model test against zlib.crc32), xxhash64 for every other id type
    # (crc32 only accepts string/binary; pmod absorbs the signed range)
    id_type = dict(buckets.dtypes)[id_col]
    salt_hash = (
        F.crc32(F.col(id_col))
        if id_type in ("string", "binary")
        else F.xxhash64(F.col(id_col))
    )
    salted = keyed.withColumn(
        "salt", F.pmod(salt_hash, F.greatest(n_shards, F.lit(1)))
    )
    # persist: `grouped` feeds both the pair expansion and the shard-rep
    # chain; without persistence each consumer replays the two bucket-table
    # shuffles above (measured 2-3x the stage wall). Singleton groups stay —
    # a 1-member shard of a pre-salted hot bucket still needs its chain edge.
    # With payloads, members are (id, *payload) structs: id is the FIRST
    # struct field and unique per bucket, so struct order == id order and
    # the banded expansion/chaining below is unchanged semantically.
    member = (
        F.struct(
            F.col(id_col).alias("__id"),
            *[F.col(c) for c in payload_cols],
        )
        if payload_cols
        else F.col(id_col)
    )
    grouped = (
        salted.groupBy(*key_cols, "salt")
        .agg(F.sort_array(F.collect_list(member)).alias("members"))
        .persist()
    )

    # two-step expansion — posexplode the member index FIRST, then explode
    # each member's banded slice: the largest value any single row carries
    # is min(cap, n) member ids (~cap x id-width, a few KB), instead of the
    # one-shot flatten whose single aggregation-output row held ALL
    # O(shard x cap) pair structs (~tens of MB for a degenerate
    # SHARD_TARGET x cap shard). Emitted pairs are identical: member i
    # still pairs with its next min(cap, n-i-1) sorted neighbors.
    sz = F.size("members")
    pairs = (
        grouped.filter(sz >= 2)
        .select("members", F.posexplode("members").alias("_i", "a"))
        .select(
            "a",
            F.explode(
                F.slice(
                    "members",
                    F.col("_i") + 2,
                    F.greatest(
                        F.least(F.lit(cap), sz - F.col("_i") - 1), F.lit(0)
                    ),
                )
            ).alias("b"),
        )
    )

    # chain shard representatives of pre-salted degenerate buckets
    shard_reps = grouped.select(
        *key_cols, "salt", F.element_at("members", 1).alias("rep")
    )
    multi = (
        shard_reps.groupBy(*key_cols)
        .agg(F.min("rep").alias("bucket_rep"), F.count(F.lit(1)).alias("n_shards"))
        .filter(F.col("n_shards") > 1)
    )
    chain_pairs = (
        shard_reps.join(multi, key_cols)
        .filter(F.col("rep") != F.col("bucket_rep"))
        .select(
            F.least("rep", "bucket_rep").alias("a"),
            F.greatest("rep", "bucket_rep").alias("b"),
        )
    )

    # ``distinct=False`` skips the cross-table pair dedup — right when the
    # caller's verify stage is a deterministic map-side computation whose
    # PASSING rows are deduped afterwards instead: the post-threshold
    # survivor set is usually orders of magnitude smaller than the
    # candidate set, so deduping after verification deletes a full
    # candidate-sized exchange + multi-million-group hash aggregate from
    # the plan while the emitted pair set stays identical (duplicate
    # candidates produce bit-identical verified rows).
    result = pairs.unionByName(chain_pairs)
    if payload_cols:
        # unpack the member structs: (a, b, <p>_a, <p>_b). Projection
        # before the dedup is equivalence-preserving — id is unique, so
        # the payload is a function of it and distinct over the unpacked
        # row set equals distinct over the struct pairs.
        result = result.select(
            F.col("a.__id").alias("a"),
            F.col("b.__id").alias("b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
        )
    if distinct:
        result = result.distinct()
    if eager:
        # materialize the (small, O(candidates)) result now so `grouped`'s
        # cache can be released right away — leaked persists across a
        # multi-query session otherwise accumulate until storage eviction
        # pressure builds. The default because the driver's correctness
        # session runs ~25 queries in one JVM.
        result = result.localCheckpoint(eager=True)
        grouped.unpersist()
        return result
    # eager=False: single-job sessions (the two-scale benchmark, one
    # pipeline stage per table write) skip the materialization barrier —
    # the pair expansion pipelines straight into the verify join and the
    # persisted `grouped` dies with the short-lived session/stage. This is
    # measured SERIAL time: the barrier job costs ~10-15 s on the 6.7M-turn
    # fixture at every cluster size, pure Amdahl loss.
    # `release`: long-lived multi-query sessions (the driver's) get the
    # same pipelining WITHOUT the cache leak — the persisted `grouped` is
    # appended for the caller to unpersist once its own final result is
    # materialized (r8: deletes one candidate-list-sized materialization
    # job per query while keeping the session-hygiene contract).
    if release is not None:
        release.append(grouped)
    return result


def candidate_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Distinct candidate ``(a, b)`` pairs with a < b from band collisions,
    checkpointed (the bucket-member cache is released before returning)."""
    return pairs_from_buckets(
        band_buckets(signatures, cfg), ["band_id", "band_hash"], cfg
    )


def simhash_block_subset_size(cfg: DedupConfig, n_docs: int | None) -> int:
    """Choose the block-subset size k for SimHash blocking: 2 (pairs, the
    default) or 3 (triples) — escalating automatically once the EXPECTED
    RANDOM-COLLISION candidate load of pair blocking exceeds
    ``cfg.simhash_escalate_at`` candidates per document. For uniform
    64-bit fingerprints, a document collides with ``n * sum_{i<j}
    2^-(w_i + w_j)`` others by chance (w = block bit-widths) — candidate
    volume, not bucket population, is the term that grows quadratically.
    Warm min-of-2 A/B on this host (t=6) puts the crossover HIGH: pairs
    beat triples at 6k docs (3.1 s vs 7.3 s) and 40k (4.8 vs 8.3) and
    hold parity at 280k (29.4 vs 32.7) — triples pay 3x the index rows
    (C(9,3)=84 vs C(8,2)=28 per doc) while the capped banded expansion
    absorbs pair collisions cheaply — so the default threshold opens the
    valve only past the measured envelope (~300k docs at t=6).
    Deterministic in (cfg, n_docs): the same corpus always blocks the
    same way, so pinned oracles below the threshold are untouched by the
    escalation machinery."""
    if n_docs is None:
        return 2
    t = cfg.simhash_hamming_max
    m = t + 2
    bounds = [64 * i // m for i in range(m + 1)]
    widths = [bounds[i + 1] - bounds[i] for i in range(m)]
    exp_cands_per_doc = n_docs * sum(
        2.0 ** -(widths[i] + widths[j])
        for i in range(m)
        for j in range(i + 1, m)
    )
    return 3 if exp_cands_per_doc > cfg.simhash_escalate_at else 2


def simhash_candidates(
    signatures: DataFrame,
    cfg: DedupConfig,
    n_docs: int | None = None,
    release: list | None = None,
) -> DataFrame:
    """Near-dup screen over SimHash: pairs with Hamming(a, b) <= t.

    Blocking key = k-SUBSETS of bit-blocks (Manku/Jain/Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW'07 §3): split the 64-bit
    fingerprint into ``m = t + k`` blocks — a pair within Hamming t
    has differing bits in at most t blocks, so at least ``m - t = k``
    blocks are clean on both sides, so it collides on at least one of
    the C(m, k) block-subset value keys (pigeonhole; m = t + k is the
    minimal block count that guarantees a full clean k-subset, and the
    fewest blocks means the WIDEST keys for a fixed 64 bits). Then
    filter exactly on popcount — the screen-then-verify discipline of
    matching.c:77-83.

    Why k=2 and not the t+1 single blocks: single-block keys carry only
    64/(t+1) bits (t=6: 9 bits -> 512 distinct values), so bucket
    populations grow LINEARLY with corpus size past ~512 docs and the
    candidate volume quadratically — measured 8M+ candidate pairs on the
    35k-doc bench corpus. Block-pair keys carry ~2x the bits (t=6: 16
    -> 65k values) for C(8,2)/C(7,1) = 4x the index rows: buckets shrink
    ~128x and the screen stays collision-driven at every tested corpus
    size.

    The same argument saturates again once n_docs outgrows the pair-key
    space, so blocking AUTO-ESCALATES to k=3 (triples, ~2^22 keys at
    t=6) past ``cfg.simhash_escalate_at`` expected members per pair
    bucket — pass ``n_docs`` when the caller already knows the corpus
    size (pipelines do); when omitted, blocking stays at k=2 (recall is
    complete either way; escalation only changes the SCREEN's cost
    curve, and any capped hot buckets shift from population-driven to
    collision-driven).
    """
    t = cfg.simhash_hamming_max
    k = simhash_block_subset_size(cfg, n_docs)
    m = t + k
    # m near-even block widths covering all 64 bits (uneven tails keep the
    # pigeonhole argument: any disjoint partition works)
    bounds = [64 * i // m for i in range(m + 1)]
    sigs = signatures.filter(F.col("n_shingles") > 0)

    def block(i: int):
        lo, hi = bounds[i], bounds[i + 1]
        return F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1)
        )

    from itertools import combinations

    if k == 2:
        # pair packing (i << 32 | j): each block is <= 8 bits at m = 8,
        # far under a 32-bit lane. Bucket values are screen-internal —
        # the exact popcount filter makes the FINAL pairs independent of
        # the packing, which is what the pinned oracles check.
        combo_cols = [
            F.shiftleft(block(i), 32).bitwiseOR(block(j))
            for i, j in combinations(range(m), 2)
        ]
    else:
        # triples pack into 21-bit lanes (block widths are <= 64/m + 1
        # <= 9 bits, far under a lane)
        combo_cols = [
            F.shiftleft(block(i), 42)
            .bitwiseOR(F.shiftleft(block(j), 21))
            .bitwiseOR(block(l))
            for i, j, l in combinations(range(m), 3)
        ]
    keyed = sigs.select(
        "conv_id",
        "simhash",
        F.posexplode(F.array(*combo_cols)).alias("block_id", "block_val"),
    )
    # the fingerprint RIDES THROUGH the bucket machinery as an 8-byte
    # member payload, so the exact popcount verify is an inline expression
    # over the expanded pairs — the two id-keyed attach joins (which
    # re-shuffled the whole candidate list twice just to fetch one long
    # per side) are gone from the plan (guide §2.4/§2.3). Pair set and
    # hamming values are identical: the payload is a function of the id.
    # with the fingerprint riding as a payload, the expansion's only
    # consumer is the inline popcount filter below — when the caller
    # passes `release`, the intermediate candidate checkpoint is skipped
    # and the whole screen pipelines into one job
    cand = pairs_from_buckets(
        keyed,
        ["block_id", "block_val"],
        cfg,
        payload_cols=["simhash"],
        eager=release is None,
        release=release,
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("a", "b", "hamming")
    )
