"""MinHash/SimHash kernel unit tests (SURVEY §5 plan item 1)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from cpdd_spark.config import DedupConfig
from cpdd_spark.signatures import (
    OUTPUT_TYPES,
    _minhash,
    _perm_params,
    _simhash,
    _winnowed,
    compute_signatures,
    exact_jaccard_sets,
    window_hashes,
)

CFG = DedupConfig()


def _sig_for(docs: list[str], cfg: DedupConfig = CFG) -> np.ndarray:
    consts = _perm_params(cfg)
    h, offs = window_hashes(pd.Series(docs), (cfg.shingle_w,))[cfg.shingle_w]
    return _minhash(h, offs, consts), _simhash(h, offs), np.diff(offs)


def test_shingle_counts():
    docs = pd.Series(["a b c d e f g", "a b c", ""])  # 7, 3, 0 tokens
    got = window_hashes(docs, (5, 3, 8))
    assert list(np.diff(got[5][1])) == [3, 0, 0]
    assert list(np.diff(got[3][1])) == [5, 1, 0]
    assert list(np.diff(got[8][1])) == [0, 0, 0]


def test_shingle_hash_order_sensitivity():
    h1, _ = window_hashes(pd.Series(["a b c d e"]), (5,))[5]
    h2, _ = window_hashes(pd.Series(["e d c b a"]), (5,))[5]
    assert h1[0] != h2[0]


def _model_window_hashes(doc: str, w: int) -> list[int]:
    """Python-int model of the window hash: ``sum_j tok_h[i+j] * R^j`` mod
    2^64 computed window by window, then the avalanche."""
    mask = (1 << 64) - 1
    toks = doc.split()
    th = [int(x) for x in pd.util.hash_array(np.asarray(toks, dtype=object))] if toks else []
    out = []
    for i in range(len(toks) - w + 1):
        h = 0
        for j in range(w):
            h = (h + th[i + j] * pow(0x9E3779B97F4A7C15, j, 1 << 64)) & mask
        h ^= h >> 33
        h = (h * 0xFF51AFD7ED558CCD) & mask
        h ^= h >> 33
        out.append(h)
    return out


def test_window_hashes_match_python_model():
    """Every width read off the one prefix sum equals the window-by-window
    polynomial, bit for bit, and no window crosses a document boundary."""
    rng = np.random.default_rng(3)
    docs = [
        " ".join(f"t{x}" for x in rng.integers(0, 30, n))
        for n in (0, 1, 4, 5, 6, 29, 30, 36, 37, 38, 90)
    ]
    widths = (5, 30, 37)
    got = window_hashes(pd.Series(docs), widths)
    for w in widths:
        h, offs = got[w]
        for i, doc in enumerate(docs):
            assert [int(x) for x in h[offs[i] : offs[i + 1]]] == _model_window_hashes(doc, w)


def _winnow(h: np.ndarray, k: int) -> np.ndarray:
    """Model of winnowing one doc's window-hash sequence ``h`` with window
    size ``k``: the positions of the minimum of every k consecutive
    hashes, rightmost on ties; the doc's rightmost minimum when it has at
    most k."""
    n = len(h)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= k:
        return np.array([n - 1 - int(np.argmin(h[::-1]))], dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(h, k)
    # rightmost min: argmin over the reversed window
    rev_arg = np.argmin(win[:, ::-1], axis=1)
    pos = np.arange(n - k + 1) + (k - 1 - rev_arg)
    return np.unique(pos)


def test_winnowed_matches_python_model():
    """The flat batch winnowing equals the per-doc model: empty, short,
    exactly-k and long docs side by side in one batch (a fixed mix and
    random ones), with many tied hashes, for several window sizes."""
    rng = np.random.default_rng(5)
    batches = [np.array([0, 1, 3, 7, 8, 9, 0, 16, 17, 40, 2, 0])]
    batches += [rng.integers(0, 12, 15) for _ in range(10)]
    for counts, k, alphabet in itertools.product(batches, (1, 2, 3, 5, 8), (3, 1 << 62)):
        offsets = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        h = rng.integers(0, alphabet, offsets[-1]).astype(np.uint64)
        got = _winnowed(h, offsets, k)
        assert len(got) == len(counts)
        for i, fps in enumerate(got):
            hw = h[offsets[i] : offsets[i + 1]]
            assert fps.dtype == np.int64
            assert list(fps) == list(np.unique(hw[_winnow(hw, k)]).view(np.int64)), (counts, k, i)
    assert _winnowed(np.empty(0, dtype=np.uint64), np.zeros(1, dtype=np.int64), 8) == []


def test_identical_docs_identical_signatures():
    doc = "the quick brown fox jumps over the lazy dog again and again"
    (sig, sim, _) = _sig_for([doc, doc])
    assert np.array_equal(sig[0], sig[1])
    assert sim[0] == sim[1]


def test_minhash_estimates_jaccard():
    """MinHash agreement fraction ~ exact Jaccard (binomial, k=128):
    |est - J| < 4*sqrt(J(1-J)/k) with overwhelming probability."""
    rng = np.random.default_rng(0)
    vocab = [f"w{i}" for i in range(500)]
    base = list(rng.choice(vocab, size=300))
    mutated = base.copy()
    for pos in rng.choice(len(base), size=15, replace=False):
        mutated[pos] = str(rng.choice(vocab))
    d1, d2 = " ".join(base), " ".join(mutated)
    jac = exact_jaccard_sets(d1, d2, CFG.shingle_w)
    (sig, _, _) = _sig_for([d1, d2])
    est = float(np.mean(sig[0] == sig[1]))
    tol = 4 * np.sqrt(jac * (1 - jac) / CFG.num_perm) + 1e-9
    assert abs(est - jac) < tol, (est, jac, tol)


def test_minhash_range_and_empty():
    (sig, sim, n_sh) = _sig_for(["a b", "x y z q r s t"])  # 0 and 3 shingles
    assert n_sh[0] == 0 and np.all(sig[0] == -1) and sim[0] == 0
    # full-int64 range is legal (uint64 minima viewed as int64); what matters
    # is the slots are real values, not the empty sentinel row
    assert not np.all(sig[1] == -1)


def test_simhash_hamming_monotone():
    """More mutation => (weakly) larger Hamming distance, and near-dups stay
    well under half the bits."""
    rng = np.random.default_rng(1)
    vocab = [f"w{i}" for i in range(500)]
    base = list(rng.choice(vocab, size=400))

    def ham_at(n_mut: int) -> int:
        m = base.copy()
        for pos in rng.choice(len(base), size=n_mut, replace=False):
            m[pos] = str(rng.choice(vocab))
        (_, sim, _) = _sig_for([" ".join(base), " ".join(m)])
        return bin((int(sim[0]) ^ int(sim[1])) & 0xFFFFFFFFFFFFFFFF).count("1")

    h_small, h_big = ham_at(4), ham_at(120)
    assert h_small < 16
    assert h_small < h_big


def test_compute_signatures_spark(spark, turns_df):
    from cpdd_spark.assemble import assemble_documents

    docs = assemble_documents(turns_df)
    sigs = compute_signatures(docs, CFG, ("minhash", "simhash"))
    pdf = sigs.toPandas()
    assert len(pdf) == docs.count()
    assert all(len(m) == CFG.num_perm for m in pdf["minhash"])
    # spark batch path == local kernel path
    one = docs.limit(3).toPandas()
    local_sig, local_sim, _ = _sig_for(list(one["doc"]))
    by_id = pdf.set_index("conv_id")
    for i, cid in enumerate(one["conv_id"]):
        assert np.array_equal(np.array(by_id.loc[cid, "minhash"]), local_sig[i])
        assert by_id.loc[cid, "simhash"] == local_sim[i]


def test_signature_columns_independent_of_request(spark, turns_df):
    """Every output column of the one text kernel is bit-identical whatever
    other columns are requested: each alone, and all five together in a
    different order, against the full request. Also pins the schema: the
    kernel emits exactly the named columns, after conv_id and n_shingles."""
    from cpdd_spark.assemble import assemble_documents

    docs = assemble_documents(turns_df).persist()
    names = list(OUTPUT_TYPES)
    full = compute_signatures(docs, CFG, names).toPandas().set_index("conv_id")
    requests = [(n,) for n in names] + [tuple(reversed(names))]
    for req in requests:
        got = compute_signatures(docs, CFG, req).toPandas().set_index("conv_id")
        assert list(got.columns) == ["n_shingles", *req]
        assert sorted(got.index) == sorted(full.index)
        for col in ["n_shingles", *req]:
            for cid, v in got[col].items():
                assert np.array_equal(np.asarray(v), np.asarray(full.loc[cid, col])), (req, col, cid)
    docs.unpersist()


def test_substring_columns_match_python_model(spark):
    """``fps`` holds each doc's distinct winnow-selected W-window hashes and
    ``rset`` its distinct R-window hashes (R = W + k - 1), as int64."""
    rng = np.random.default_rng(4)
    texts = [" ".join(f"t{x}" for x in rng.integers(0, 40, n)) for n in (0, 12, 30, 36, 37, 80, 200)]
    docs = spark.createDataFrame(
        [(f"c{i}", t) for i, t in enumerate(texts)], "conv_id string, doc string"
    )
    got = compute_signatures(docs, CFG, ("fps", "rset")).toPandas().set_index("conv_id")
    w, k = CFG.substring_w, CFG.winnow_window
    for i, t in enumerate(texts):
        hw = np.array(_model_window_hashes(t, w), dtype=np.uint64)
        fps = np.unique(hw[_winnow(hw, k)]).view(np.int64) if len(hw) else []
        rset = np.unique(np.array(_model_window_hashes(t, w + k - 1), dtype=np.uint64)).view(np.int64)
        assert list(got.loc[f"c{i}", "fps"]) == list(fps)
        assert list(got.loc[f"c{i}", "rset"]) == list(rset)


def test_unknown_output_rejected(spark):
    docs = spark.createDataFrame([("c", "a b c")], "conv_id string, doc string")
    with pytest.raises(ValueError, match="unknown signature outputs"):
        compute_signatures(docs, CFG, ("minhash", "sets"))


def test_bad_band_config_rejected():
    with pytest.raises(ValueError):
        DedupConfig(num_perm=128, lsh_bands=10, lsh_rows=4)
