"""Substring-duplication pass: winnowed rolling-hash fingerprints (P11).

Extends the reference's exact-equality tier
(/root/reference/src/cpdd/matching.c:30-59) to EXACT SUBSTRING duplication
across conversations: catch pairs sharing a contiguous token run of at least
``substring_w`` tokens even when whole-document Jaccard sits far below tau
(e.g. one spliced boilerplate block inside otherwise-unique transcripts).

Design — winnowing (Schleimer, Wilkerson, Aiken, "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD'03) instead of a distributed
suffix array: suffix arrays don't distribute naturally (SURVEY §7 hard part
c), while winnowing is embarrassingly parallel per document and gives the
same guarantee we need:

- hash every W-token window (the same rolling kernel the signature tier
  uses, so one code path is trusted for both);
- within every run of ``winnow_window`` consecutive window hashes keep the
  minimum (rightmost on ties): any shared token run of length
  >= W + winnow_window - 1 is then guaranteed to surface at least one
  IDENTICAL selected fingerprint in both documents;
- join documents on fingerprints (skew-aware, same bucket machinery as
  LSH — boilerplate blocks are exactly the hot buckets);
- verify candidates by re-intersecting FULL (unwinnowed)
  ``R = substring_w + winnow_window - 1``-gram hash sets: a shared R-gram
  *is* an exact common R-token run (collision odds 2^-64), mirroring "a
  hash match is never trusted without verification" (matching.c:77-83).

Verifying at R (not at W) makes the OUTPUT deterministic: winnowing
GUARANTEES a common selected fingerprint for any shared run >= R tokens, so
BUCKETING recall is exactly 1.0 for the emitted predicate "shares a token
run >= R" and, with ``complete=True`` expansion (see
:func:`substring_pairs`), the result is a pure function of the corpus —
which is what lets the driver value-hash it against a DuckDB R-gram
inverted index.
(Verifying at W would also emit runs in [W, R) that happen to be winnow-
selected — higher recall but hash-dependent output, untestable by oracle.)
Fixtures splice ``substring_run=60 >= 37`` tokens.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpdd_spark.config import DedupConfig
from cpdd_spark.lsh import pairs_from_buckets
from cpdd_spark.signatures import shingle_hashes

FP_SCHEMA = "conv_id string, fp long"


def _winnow(h: np.ndarray, k: int) -> np.ndarray:
    """Positions of winnowing-selected fingerprints of one doc's window-hash
    sequence ``h`` with window size ``k`` (min per window, rightmost tie)."""
    n = len(h)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= k:
        return np.array([n - 1 - int(np.argmin(h[::-1]))], dtype=np.int64)
    # sliding-window minimum positions via stride tricks (vectorized)
    win = np.lib.stride_tricks.sliding_window_view(h, k)
    # rightmost min: argmin over reversed window
    rev_arg = np.argmin(win[:, ::-1], axis=1)
    pos = np.arange(n - k + 1) + (k - 1 - rev_arg)
    return np.unique(pos)


def fingerprints(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """``documents(conv_id, doc)`` -> distinct ``(conv_id, fp)`` winnowed
    fingerprints of W-token windows."""
    w, k = cfg.substring_w, cfg.winnow_window

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            h, offsets = shingle_hashes(pdf["doc"], w)
            ids, fps = [], []
            for i in range(len(pdf)):
                hw = h[offsets[i] : offsets[i + 1]]
                sel = _winnow(hw, k)
                if len(sel):
                    picked = np.unique(hw[sel])
                    ids.append(np.repeat(pdf["conv_id"].iat[i], len(picked)))
                    fps.append(picked)
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "conv_id": np.concatenate(ids),
                    "fp": np.concatenate(fps).view(np.int64),
                }
            )

    return docs.select("conv_id", "doc").mapInPandas(kernel, schema=FP_SCHEMA)


def substring_pairs(
    docs: DataFrame,
    cfg: DedupConfig,
    complete: bool = False,
) -> DataFrame:
    """Verified substring-duplicate pairs ``(a, b, n_common_runs)``:
    ``n_common_runs`` counts the distinct shared R-token windows
    (R = substring_w + winnow_window - 1), > 0 iff the pair shares a
    contiguous token run of at least R tokens.

    Candidates come from fingerprint-bucket joins; verification
    re-intersects the FULL R-gram hash sets of each candidate pair.

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
    fps = fingerprints(docs, cfg)
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

    # Verify against PRECOMPUTED per-doc R-gram hash sets instead of
    # re-shingling both documents per candidate pair (a doc in k pairs was
    # re-hashed k times; the kernel also shipped full text into Python per
    # pair). One Arrow pass computes each doc's distinct R-gram set ONCE;
    # the per-pair intersection count is then pure-JVM ``array_intersect``
    # inside codegen over slim int64 arrays — the same stored-sets verify
    # shape as cpdd_spark.verify.verify_pairs_sets. Bit-identical output:
    # both forms count |distinct(ha) ∩ distinct(hb)| over the same 64-bit
    # hashes (array_intersect de-dups), and empty sets (docs under R
    # tokens) yield 0 on both paths.
    w = cfg.substring_w + cfg.winnow_window - 1

    def rgram_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h, offs = shingle_hashes(pdf["doc"], w)
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy(),
                    "rset": [
                        np.unique(h[offs[i] : offs[i + 1]]).view(np.int64)
                        for i in range(len(pdf))
                    ],
                }
            )

    rsets = docs.select("conv_id", "doc").mapInPandas(
        rgram_kernel, schema="conv_id string, rset array<long>"
    )
    sa = rsets.select(F.col("conv_id").alias("a"), F.col("rset").alias("rs_a"))
    sb = rsets.select(F.col("conv_id").alias("b"), F.col("rset").alias("rs_b"))
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
