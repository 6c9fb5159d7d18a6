"""Winnowed substring pass: guarantee + verification (SURVEY §5)."""

from __future__ import annotations

import numpy as np

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.config import DedupConfig
from cpdd_spark.signatures import _winnowed, compute_signatures
from cpdd_spark.substring import substring_pairs

CFG = DedupConfig()


def _signed(docs, cfg=CFG):
    """The text kernel's substring columns, kept: the pair stage reads them
    three times (fingerprint explode, both verify join sides)."""
    return compute_signatures(docs, cfg, ("fps", "rset")).localCheckpoint(eager=True)


def _fingerprints(h: np.ndarray, k: int) -> set[int]:
    """The winnow-selected hashes of one doc's window-hash sequence."""
    (fps,) = _winnowed(h, np.array([0, len(h)]), k)
    return set(fps.view(np.uint64).tolist())


def test_winnow_guarantee_property():
    """Any k consecutive windows contain at least one selected fingerprint
    (the winnowing coverage invariant)."""
    rng = np.random.default_rng(0)
    h = rng.integers(0, 2**63, size=500, dtype=np.uint64)
    k = CFG.winnow_window
    sel = _fingerprints(h, k)
    for start in range(0, len(h) - k + 1):
        assert any(int(x) in sel for x in h[start : start + k]), start


def test_winnow_short_input():
    h = np.array([5, 3, 9], dtype=np.uint64)
    assert _fingerprints(h, 8) == {3}  # the global minimum
    assert _fingerprints(np.empty(0, dtype=np.uint64), 8) == set()


def test_winnow_deterministic_alignment():
    """The same hash subsequence embedded in two different contexts selects
    at least one common fingerprint (what makes cross-doc matching work)."""
    rng = np.random.default_rng(1)
    shared = rng.integers(0, 2**63, size=40, dtype=np.uint64)
    a = np.concatenate([rng.integers(0, 2**63, 100, dtype=np.uint64), shared,
                        rng.integers(0, 2**63, 50, dtype=np.uint64)])
    b = np.concatenate([rng.integers(0, 2**63, 7, dtype=np.uint64), shared,
                        rng.integers(0, 2**63, 200, dtype=np.uint64)])
    k = CFG.winnow_window
    shared_sel = _fingerprints(a, k) & _fingerprints(b, k) & set(shared.tolist())
    assert shared_sel, "no common fingerprint selected from the shared run"


def test_substring_complete_mode_lifts_hot_bucket_cap(spark):
    """>cap docs sharing one boilerplate run: capped mode screens far-apart
    pairs (keeping chains for CC), complete mode emits all C(n,2) — the
    oracle-checked contract."""
    from dataclasses import replace

    cfg = replace(CFG, max_band_bucket=5)
    shared = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(f"c{i:02d}", f"{shared} uniq{i}") for i in range(20)],
        "conv_id string, doc string",
    )
    sigs = _signed(docs, cfg)
    capped = substring_pairs(sigs, cfg).count()
    full = substring_pairs(sigs, cfg, complete=True).count()
    assert full == 190  # C(20,2)
    assert capped < full


def test_substring_dups_found(spark, turns_df, truth_pdf):
    """Every planted substring_dup (60 spliced tokens >= R = W + k - 1 = 37)
    must pair with its source; pairs are verified (n_common_runs >= 1)."""
    docs = assemble_documents(turns_df).cache()
    got = {
        tuple(sorted([r["a"], r["b"]]))
        for r in substring_pairs(_signed(docs), CFG).collect()
    }
    planted = truth_pdf[truth_pdf["kind"] == "substring_dup"]
    assert len(planted) > 0
    for _, row in planted.iterrows():
        pair = tuple(sorted([row["conv_id"], row["source_conv"]]))
        assert pair in got, pair


def test_substring_output_is_exactly_bruteforce_rgram_pairs(spark, turns_df):
    """Deterministic contract: the emitted set IS the brute-force
    'shares >= 1 R-token window' pair set, with exact counts — not just a
    winnowing-dependent subset (this is what the DuckDB oracle checks)."""
    docs = assemble_documents(turns_df).cache()
    got = {
        (r["a"], r["b"]): r["n_common_runs"]
        for r in substring_pairs(_signed(docs), CFG, complete=True).collect()
    }
    texts = sorted((r["conv_id"], r["doc"]) for r in docs.collect())
    r_w = CFG.substring_w + CFG.winnow_window - 1
    import itertools

    exp = {}
    for (ca, ta), (cb, tb) in itertools.combinations(texts, 2):
        wa = {tuple(ta.split()[i : i + r_w]) for i in range(len(ta.split()) - r_w + 1)}
        wb = {tuple(tb.split()[i : i + r_w]) for i in range(len(tb.split()) - r_w + 1)}
        n = len(wa & wb)
        if n:
            exp[(ca, cb)] = n
    assert got == exp
