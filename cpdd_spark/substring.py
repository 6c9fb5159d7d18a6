"""Substring-duplication pass: winnowed rolling-hash fingerprints (P11).

Extends the reference's exact-equality tier
(/root/reference/src/cpdd/matching.c:30-59) to EXACT SUBSTRING duplication
across conversations: catch pairs sharing a contiguous token run of at least
R = ``substring_w + winnow_window - 1`` tokens even when whole-document
Jaccard sits far below tau (e.g. one spliced boilerplate block inside
otherwise-unique transcripts).

Design — winnowing (Schleimer, Wilkerson, Aiken, "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD'03) instead of a distributed
suffix array: suffix arrays don't distribute naturally (SURVEY §7 hard part
c), while winnowing is embarrassingly parallel per document and gives the
same guarantee we need. The text kernel
(:func:`cpdd_spark.signatures.compute_signatures`) emits two columns per
document in the same pass that signs it:

- ``fps``: the winnowed fingerprints of its ``substring_w``-token windows.
  Any shared token run of at least R tokens surfaces at least one
  IDENTICAL selected fingerprint in both documents;
- ``rset``: its distinct R-token window hashes. A shared R-gram *is* an
  exact common R-token run (collision odds 2^-64), mirroring "a hash match
  is never trusted without verification" (matching.c:77-83).

:func:`substring_pairs` is pure JVM over those columns: it explodes
``fps``, joins documents on fingerprints (skew-aware, the same bucket
machinery as LSH — boilerplate blocks are exactly the hot buckets) and
counts each candidate's shared R-grams with ``array_intersect``.

Verifying at R (not at W) makes the OUTPUT deterministic: bucketing recall
is exactly 1.0 for the emitted predicate "shares a token run >= R" and,
with ``complete=True`` expansion, the result is a pure function of the
corpus — which is what lets the driver value-hash it against a DuckDB
R-gram inverted index. Fixtures splice ``substring_run=60 >= 37`` tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpdd_spark.config import DedupConfig
from cpdd_spark.lsh import pairs_from_buckets


def substring_pairs(
    sigs: DataFrame,
    cfg: DedupConfig,
    complete: bool = False,
) -> DataFrame:
    """``(conv_id, fps, rset)`` signed documents -> verified
    substring-duplicate pairs ``(a, b, n_common_runs)``: ``n_common_runs``
    counts the distinct shared R-token windows, > 0 iff the pair shares a
    contiguous token run of at least R tokens.

    Recall caveat, made explicit: the winnowing guarantee makes BUCKETING
    recall 1.0, but the default bucket EXPANSION caps hot buckets at
    ``cfg.max_band_bucket`` neighbors (the skew valve) — if more than
    cap+1 documents share one selected fingerprint, far-apart pairs within
    that bucket are screened out (still chained for connectivity through
    CC, the dedup use-case, but absent from the emitted pair LIST).
    ``complete=True`` switches candidate generation to a plain
    fingerprint self-join, so the output is exactly the brute-force
    "shares a token run >= R" pair set — the deterministic,
    oracle-checkable contract; use it when the pair list itself is the
    product and the corpus is known to be boilerplate-bounded.
    """
    fps = sigs.select("conv_id", F.explode("fps").alias("fp"))
    if complete:
        # Exact pair set via a flat self-join on fp: no collected member
        # arrays (a near-SHARD_TARGET bucket would expand ~n^2/2 structs
        # into ONE multi-GB row under the banded path with the cap lifted)
        # and no pre-salt shard boundaries to silently drop pairs across —
        # AQE's skew-join splitting parallelizes hot fingerprints instead.
        # O(sum_fp df(fp)^2) join rows by construction: complete mode is
        # the oracle/product contract, not the 10^12-turn screen.
        left = fps.select(F.col("conv_id").alias("a"), "fp")
        right = fps.select(F.col("conv_id").alias("b"), "fp")
        cands = (
            left.join(right, "fp")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        cands = pairs_from_buckets(fps, ["fp"], cfg)

    # array_intersect de-dups, so this is |rset_a ∩ rset_b|; a doc under R
    # tokens has an empty rset and verifies to 0
    sa = sigs.select(F.col("conv_id").alias("a"), F.col("rset").alias("rs_a"))
    sb = sigs.select(F.col("conv_id").alias("b"), F.col("rset").alias("rs_b"))
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("rs_a", "rs_b"))
            .cast("long")
            .alias("n_common_runs"),
        )
        .filter(F.col("n_common_runs") >= 1)
    )
