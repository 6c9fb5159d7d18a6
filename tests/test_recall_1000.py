"""The headline recall gate (BASELINE.json): dup-pair recall >= 0.99 vs the
brute-force reference clustering at the pinned shingle/signature config, on
the 1000-conversation `recall` tier (mirrors the reference's make-test
scale, /root/reference/test_cpdd.sh:31 FILES=1000)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.config import DedupConfig
from cpdd_spark.exact import exact_clusters, exact_pairs
from cpdd_spark.fixtures import FixtureParams, generate
from cpdd_spark.lsh import candidate_pairs
from cpdd_spark.cc import connected_components
from cpdd_spark.signatures import compute_signatures, exact_jaccard_sets
from cpdd_spark.verify import verify_pairs_sets

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    fx = generate(FixtureParams(num_convs=1000, seed=42))
    turns = spark.createDataFrame(fx.transcripts)
    docs = assemble_documents(turns).cache()
    docs.count()
    return fx, docs


def test_dup_pair_recall_and_cluster_parity(spark, corpus):
    fx, docs = corpus
    exact = exact_clusters(docs).cache()
    reps = docs.join(
        exact.filter(F.col("conv_id") == F.col("cluster_id")).select("conv_id"),
        "conv_id",
    ).cache()

    # reference pairs: brute-force exact Jaccard >= tau over representatives
    rows = sorted(
        (r["conv_id"], r["doc"]) for r in reps.select("conv_id", "doc").collect()
    )
    ref_pairs = {
        (ca, cb)
        for (ca, da), (cb, db) in itertools.combinations(rows, 2)
        if exact_jaccard_sets(da, db, CFG.shingle_w) >= CFG.tau
    }
    assert len(ref_pairs) >= 150  # 20% near-dups planted above tau

    # pipeline pairs at the same config
    sigs = compute_signatures(reps, CFG, ("minhash", "shingles")).cache()
    got = {
        (r["a"], r["b"])
        for r in verify_pairs_sets(
            candidate_pairs(sigs, CFG), sigs.select("conv_id", "shingles"), CFG
        ).collect()
    }

    missed = ref_pairs - got
    recall = 1 - len(missed) / len(ref_pairs)
    assert recall >= 0.99, f"recall {recall:.4f}; missed {sorted(missed)[:5]}"
    # verification guarantees precision 1.0 w.r.t. the tau definition
    assert got <= ref_pairs

    # end-to-end: every planted dup of every kind lands with its source
    edges = exact_pairs(exact).unionByName(
        spark.createDataFrame(sorted(got), "a string, b string")
    )
    clusters = {
        r["conv_id"]: r["cluster_id"]
        for r in connected_components(
            edges, vertices=docs.select("conv_id")
        ).collect()
    }
    bad = []
    for _, row in fx.truth.iterrows():
        if row["kind"] in ("exact_dup", "near_dup"):
            if clusters[row["conv_id"]] != clusters[row["source_conv"]]:
                bad.append(row["conv_id"])
    assert not bad, bad[:5]
