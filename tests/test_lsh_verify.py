"""LSH candidate generation + exact-Jaccard verification: recall vs the
brute-force oracle at the pinned config (BASELINE.json recall >= 0.99)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.config import DedupConfig
from cpdd_spark.exact import exact_clusters
from cpdd_spark.lsh import candidate_pairs, simhash_candidates
from cpdd_spark.signatures import compute_signatures, exact_jaccard_sets
from cpdd_spark.verify import verify_pairs_sets

CFG = DedupConfig()
# everything a candidate screen and its verify read
SIGNED = ("minhash", "simhash", "shingles")


def _verify(pairs, sigs, cfg=CFG):
    return verify_pairs_sets(pairs, sigs.select("conv_id", "shingles"), cfg)


@pytest.fixture(scope="module")
def docs_df(spark, turns_df):
    return assemble_documents(turns_df).cache()


@pytest.fixture(scope="module")
def reps_df(docs_df):
    """Exact-cluster representatives — the LSH input (skew defense #1)."""
    cl = exact_clusters(docs_df)
    return docs_df.join(
        cl.filter(F.col("conv_id") == F.col("cluster_id")).select("conv_id"),
        "conv_id",
    ).cache()


@pytest.fixture(scope="module")
def oracle_pairs(reps_df):
    """Brute-force: all representative pairs with exact Jaccard >= tau."""
    rows = reps_df.select("conv_id", "doc").collect()
    out = set()
    for (ca, da), (cb, db) in itertools.combinations(
        sorted((r["conv_id"], r["doc"]) for r in rows), 2
    ):
        if exact_jaccard_sets(da, db, CFG.shingle_w) >= CFG.tau:
            out.add((ca, cb))
    return out


def test_lsh_recall_and_verify_precision(spark, reps_df, oracle_pairs):
    sigs = compute_signatures(reps_df, CFG, SIGNED).cache()
    cands = candidate_pairs(sigs, CFG)
    verified = _verify(cands, sigs)
    got = {(r["a"], r["b"]) for r in verified.collect()}

    assert len(oracle_pairs) > 0, "fixture must plant near-dup pairs above tau"
    missed = oracle_pairs - got
    recall = 1 - len(missed) / len(oracle_pairs)
    assert recall >= 0.99, f"recall {recall}: missed {missed}"
    # verification makes precision exact: nothing below tau survives
    assert got <= oracle_pairs, f"false positives: {got - oracle_pairs}"


def test_verified_jaccard_matches_bruteforce(spark, reps_df):
    sigs = compute_signatures(reps_df, CFG, SIGNED).cache()
    cands = candidate_pairs(sigs, CFG)
    # tau 0 keeps every candidate with its jaccard
    verified = _verify(cands, sigs, DedupConfig(tau=0.0)).collect()
    assert len(verified) == cands.count()
    docs = {r["conv_id"]: r["doc"] for r in reps_df.select("conv_id", "doc").collect()}
    for r in verified:
        exact = exact_jaccard_sets(docs[r["a"]], docs[r["b"]], CFG.shingle_w)
        assert abs(r["jaccard"] - exact) < 1e-12, (r["a"], r["b"])


def test_near_dup_truth_found(spark, docs_df, truth_pdf):
    """Every planted near_dup must pair with its source (mutation rates are
    chosen to keep J >= tau)."""
    sigs = compute_signatures(docs_df, CFG, SIGNED).cache()
    verified = _verify(candidate_pairs(sigs, CFG), sigs)
    got = {(r["a"], r["b"]) for r in verified.collect()}
    for _, row in truth_pdf[truth_pdf["kind"] == "near_dup"].iterrows():
        pair = tuple(sorted([row["conv_id"], row["source_conv"]]))
        assert pair in got, pair


def test_hot_bucket_capped(spark):
    """Skew fixture: one band bucket with every doc identical-ish must not
    produce O(n^2) pairs, yet must stay connected via shard chains."""
    from cpdd_spark.fixtures import FixtureParams, generate

    fx = generate(FixtureParams(num_convs=20, skew_block=150, seed=5))
    cfg = DedupConfig(max_band_bucket=20)
    turns = spark.createDataFrame(fx.transcripts)
    docs = assemble_documents(turns).cache()
    # identical docs collapse at the exact tier; force them through LSH to
    # exercise the hot path by NOT dedup-ing first
    sigs = compute_signatures(docs, cfg, SIGNED).cache()
    pairs = candidate_pairs(sigs, cfg)
    n = pairs.count()
    n_skew = 150
    # banded expansion contract: O(n*cap) pairs, far below the C(n,2) blowup
    assert n <= n_skew * cfg.max_band_bucket + 200, f"cap ineffective: {n} pairs"
    assert n < n_skew * (n_skew - 1) / 2 / 3
    # connectivity: all skew convs must land in one component
    from cpdd_spark.cc import connected_components

    verified = _verify(pairs, sigs, cfg)
    clusters = connected_components(verified.select("a", "b")).toPandas()
    skew_ids = set(fx.truth[fx.truth["kind"] == "skew_dup"]["conv_id"])
    labels = set(clusters[clusters["conv_id"].isin(skew_ids)]["cluster_id"])
    assert len(labels) == 1


def test_simhash_candidates_find_very_near_dups(spark, reps_df, docs_df):
    """SimHash (64-bit, Hamming <= 6) is the VERY-near-dup screen: at
    J ~ 0.8 word-shingle SimHash sits at Hamming ~8-13, so its contract is
    the J >= 0.95 band (tiny mutations), complementary to MinHash-LSH which
    owns the tau=0.7 band. Assert it catches all J >= 0.95 oracle pairs."""
    rows = reps_df.select("conv_id", "doc").collect()
    very_near = set()
    for (ca, da), (cb, db) in itertools.combinations(
        sorted((r["conv_id"], r["doc"]) for r in rows), 2
    ):
        if exact_jaccard_sets(da, db, CFG.shingle_w) >= 0.95:
            very_near.add((ca, cb))
    assert len(very_near) > 0
    sigs = compute_signatures(reps_df, CFG, SIGNED)
    got = {(r["a"], r["b"]) for r in simhash_candidates(sigs, CFG).collect()}
    assert very_near <= got, f"missed: {very_near - got}"


def test_verify_pairs_sets_matches_python_model(spark, turns_df):
    """The JVM array_intersect verifier emits, for every LSH candidate of
    the unfiltered corpus, exactly the jaccard double of the Python
    token-tuple set model (same distinct sets, same division)."""
    cfg = DedupConfig(tau=0.0)  # keeps every candidate
    docs = assemble_documents(turns_df).persist()
    sigs = compute_signatures(docs, cfg, ("minhash", "shingles")).persist()
    cands = candidate_pairs(sigs, cfg)
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in _verify(cands, sigs, cfg).collect()
    }
    text = {r["conv_id"]: r["doc"] for r in docs.select("conv_id", "doc").collect()}
    n_cands = cands.count()
    sigs.unpersist()
    docs.unpersist()
    assert len(got) == n_cands > 0
    for (a, b), jac in got.items():
        assert jac == exact_jaccard_sets(text[a], text[b], cfg.shingle_w), (a, b)


def test_banded_window_pairs_exact(spark, monkeypatch):
    """Pin the banded-window contract bit-for-bit on an unsalted bucket:
    sorted member i pairs with exactly its next min(cap, n-i-1) neighbors
    (guards the round-4 explode-first reformulation)."""
    import cpdd_spark.lsh as lsh

    monkeypatch.setattr(lsh, "SHARD_TARGET", 10_000)  # no pre-salting
    cap = 5
    cfg = DedupConfig(max_band_bucket=cap)
    n = 37
    members = [f"c{i:03d}" for i in range(n)]
    buckets = spark.createDataFrame(
        [(0, 0, m) for m in members], "band_id int, band_hash int, conv_id string"
    )
    got = {
        (r["a"], r["b"])
        for r in lsh.pairs_from_buckets(
            buckets, ["band_id", "band_hash"], cfg
        ).collect()
    }
    expected = {
        (members[i], members[j])
        for i in range(n)
        for j in range(i + 1, min(i + 1 + cap, n))
    }
    assert got == expected


def test_degenerate_shard_bounded_rows_and_connected(spark, monkeypatch):
    """A bucket larger than SHARD_TARGET pre-salts into shards; the
    expansion must stay connected across shards, keep O(n*cap) volume,
    and build no giant single row (the one-shot pair-flatten is gone from
    the plan — each exploded row now carries at most ~cap ids)."""
    import cpdd_spark.lsh as lsh
    from cpdd_spark.cc import connected_components

    monkeypatch.setattr(lsh, "SHARD_TARGET", 40)
    cap = 5
    cfg = DedupConfig(max_band_bucket=cap)
    n = 130
    members = [f"c{i:03d}" for i in range(n)]
    buckets = spark.createDataFrame(
        [(0, 0, m) for m in members], "band_id int, band_hash int, conv_id string"
    )
    pairs = lsh.pairs_from_buckets(buckets, ["band_id", "band_hash"], cfg)
    rows = pairs.collect()
    assert 0 < len(rows) <= n * cap + n  # banded volume + chain edges
    # connectivity through shard-representative chains
    comp = connected_components(pairs.select("a", "b")).toPandas()
    touched = set(comp["conv_id"])
    assert len(set(comp["cluster_id"])) == 1
    assert touched == set(members) - (set(members) - touched)  # all touched ids one component
    # the plan explodes indices then slices — never a whole-shard pair array
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "flatten(transform" not in plan


@pytest.mark.parametrize("seed,n,cap,shard", [(1, 50, 3, 25), (2, 137, 7, 40), (3, 90, 5, 30)])
def test_salted_expansion_matches_python_model(spark, monkeypatch, seed, n, cap, shard):
    """Full independent model of the salted degenerate-bucket expansion:
    Spark's crc32 == zlib.crc32, so salting + per-shard banded windows +
    shard-representative chains are all replicable in plain Python — the
    DataFrame formulation must match it bit-for-bit."""
    import random
    import zlib

    import cpdd_spark.lsh as lsh

    monkeypatch.setattr(lsh, "SHARD_TARGET", shard)
    cfg = DedupConfig(max_band_bucket=cap)
    rng = random.Random(seed)
    members = sorted({f"m{rng.randrange(10_000):05d}" for _ in range(n)})
    buckets = spark.createDataFrame(
        [(0, 0, m) for m in members], "band_id int, band_hash int, conv_id string"
    )
    got = {
        (r["a"], r["b"])
        for r in lsh.pairs_from_buckets(
            buckets, ["band_id", "band_hash"], cfg
        ).collect()
    }

    n_shards = max(1, -(-len(members) // shard))
    by_salt: dict[int, list[str]] = {}
    for m in members:
        by_salt.setdefault(zlib.crc32(m.encode()) % n_shards, []).append(m)
    expected = set()
    reps = []
    for salt, ms in by_salt.items():
        ms = sorted(ms)
        reps.append(ms[0])
        for i, a in enumerate(ms):
            for b in ms[i + 1 : i + 1 + cap]:
                expected.add((a, b))
    if len(reps) > 1:
        bucket_rep = min(reps)
        for r in reps:
            if r != bucket_rep:
                expected.add((min(r, bucket_rep), max(r, bucket_rep)))
    assert got == expected


def test_pairs_from_buckets_typed_long_ids(spark):
    """id_col accepts non-string types: long ids sort, pair, and order
    (a < b) NUMERICALLY — the embedding sign-LSH path keeps 8-byte ids on
    the candidate path instead of round-tripping through strings."""
    from cpdd_spark import lsh

    buckets = spark.createDataFrame(
        [(0, 0, 2), (0, 0, 10), (0, 0, 1), (1, 7, 10), (1, 7, 2)],
        "band_id int, band_hash long, id long",
    )
    cfg = DedupConfig(max_band_bucket=50)
    pairs = {
        (r["a"], r["b"])
        for r in lsh.pairs_from_buckets(
            buckets, ["band_id", "band_hash"], cfg, id_col="id"
        ).collect()
    }
    # numeric order: 1 < 2 < 10 (string order would emit (10, 2))
    assert pairs == {(1, 2), (1, 10), (2, 10)}
    assert all(a < b for a, b in pairs)


def test_simhash_triple_escalation_equivalent_output(spark, reps_df):
    """Auto-escalated triple blocking (k=3) must emit the SAME final pair
    set as pair blocking on an uncapped corpus: both schemes are
    recall-complete by pigeonhole (>= k clean blocks within Hamming t)
    and the output filters exactly on popcount, so only the screen's
    cost curve changes. Also pin the size-based trigger itself."""
    from dataclasses import replace

    from cpdd_spark.lsh import simhash_block_subset_size

    sigs = compute_signatures(reps_df, CFG, SIGNED)
    base = {(r["a"], r["b"]) for r in simhash_candidates(sigs, CFG).collect()}
    hot_cfg = replace(CFG, simhash_escalate_at=1e-9)  # force k=3 at any n
    n = sigs.count()
    assert simhash_block_subset_size(hot_cfg, n) == 3
    assert simhash_block_subset_size(CFG, n) == 2  # fixture is far below
    assert simhash_block_subset_size(CFG, None) == 2
    # t=6: 28 pair combos x 2^-16 each -> 128 expected candidates/doc at
    # n = 128 * 65536 / 28 ~ 300k docs (the measured pairs/triples parity
    # envelope; pairs win everywhere below it)
    assert simhash_block_subset_size(CFG, 290_000) == 2
    assert simhash_block_subset_size(CFG, 310_000) == 3
    tri = {
        (r["a"], r["b"])
        for r in simhash_candidates(sigs, hot_cfg, n_docs=n).collect()
    }
    assert tri == base
