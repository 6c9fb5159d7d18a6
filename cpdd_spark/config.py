"""Pipeline configuration.

The reference's only "plan" is the CLI option struct ``options_t``
(/root/reference/include/cpdd.h:72-86, parsed in src/cpdd/args.c:95-232);
this dataclass plays the same role for the Spark pipeline, plus it PINS the
shingle/signature configuration so that "same shingle/signature config" in
the recall comparison (BASELINE.json) is reproducible: the brute-force oracle
and the MinHash path must both be driven from one ``DedupConfig``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    """Frozen knobs for the transcript dedup pipeline.

    Defaults mirror the reference test setup where an analogue exists
    (seed=42 from /root/reference/test_cpdd.sh:28).
    """

    # --- shingling (axis A: fuzzy tier the reference lacks) ---
    shingle_w: int = 5          # words per shingle
    # --- MinHash ---
    num_perm: int = 128         # k signature slots
    lsh_bands: int = 32         # b
    lsh_rows: int = 4           # r ; b*r must equal num_perm
    tau: float = 0.7            # exact-Jaccard acceptance threshold (tier 3)
    # --- SimHash ---
    simhash_hamming_max: int = 6   # near-dup screen: popcount(a^b) <= t
    # SimHash blocking auto-escalation (pairs -> triples of bit-blocks):
    # escalate when pair blocking's expected RANDOM-collision load exceeds
    # this many candidates per document. Calibrated by warm min-of-2 A/B
    # on this host (t=6): pairs WIN at 6k docs (3.1 s vs 7.3 s) and 40k
    # (4.8 vs 8.3) and hold parity at 280k (29.4 vs 32.7) — triples' 3x
    # index rows cost more than pair-key random collisions everywhere
    # measured, so the valve opens only past the measured envelope
    # (128 cands/doc = ~300k docs at t=6), where the n^2 collision term
    # must eventually dominate the 3x linear overhead.
    simhash_escalate_at: float = 128.0
    # --- substring (suffix/rolling-hash) pass ---
    substring_w: int = 30       # fingerprint window, in tokens; the MIN
                                # REPORTED run is substring_w + winnow_window
                                # - 1 = 37 tokens (winnowing guarantee zone;
                                # see substring.py)
    winnow_window: int = 8      # winnowing window (fingerprints kept per w positions)
    # --- skew handling ---
    max_band_bucket: int = 200  # bucket expansion cap: each member pairs with
                                # at most this many sorted neighbours
    # --- exact tier verify mode (R7/R8 trade, see exact.exact_clusters) ---
    exact_verify: str = "bytes"  # 'bytes': cpdd-parity string-identity
                                 # grouping (shuffles doc text); 'fingerprint':
                                 # md5+xxhash64+length key, ~50 B/doc shuffle —
                                 # the 10^12-turn mode (identical clusters,
                                 # tested; false merge ~2^-192)
    # --- output layout (R15: dest-tree mirroring -> partition spec) ---
    output_buckets: int = 16    # hash-bucket partitions of the clusters
                                # table (Iceberg bucket(conv_id) analogue);
                                # size so one bucket ~ one task's worth at
                                # the target SF (10^12 turns -> thousands)

    # --- determinism ---
    seed: int = 42              # matches /root/reference/test_cpdd.sh:28

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )
