"""The text kernel: every document is tokenized and hashed in ONE Arrow
pass, and every hash-derived column the engine consumes comes out of it
(P4-P6, P11).

Mirrors the reference's fused single-read design (matching.c:110-129
hashes and byte-compares in one read of each file): the hash tier, the
verify tier and the substring tier all read columns of one
``mapInPandas`` pass, and no other code path reads document text into
Python. :func:`compute_signatures` emits exactly the columns its caller
names (``OUTPUT_TYPES``):

- ``minhash``: k MinHash slots over the w-token shingles (the LSH input);
- ``simhash``: the 64-bit SimHash of the same shingles (the SimHash screen);
- ``shingles``: each doc's distinct shingle-hash set (the Jaccard verify);
- ``fps``: the winnowed fingerprints of the ``substring_w``-token windows
  (the substring tier's buckets);
- ``rset``: the distinct R-token window hashes, R = ``substring_w +
  winnow_window - 1`` (the substring tier's verify).

The kernel is vectorized NumPy over flattened token arrays:

- token hashing: ``pd.util.hash_array`` (SipHash, fixed key -> deterministic
  across executor processes), once per token;
- window hashing: the polynomial ``sum_j tok_h[i+j] * R^j`` in uint64
  wraparound arithmetic, read off one prefix sum for every window width
  (``R`` is odd, so ``R^-i`` exists mod 2^64), then an avalanche; window
  strings are never materialized;
- MinHash: each of the k "permutations" is a bijection on the 32-bit
  domain (xor a seeded constant, then the murmur3 fmix32 finalizer), with
  per-doc minima via ``np.minimum.reduceat``. The textbook ``(a*x+b) mod p``
  family is deliberately not used: for small ``a`` it is monotone in ``x``,
  so argmins correlate across permutations and the estimate collapses. The
  sweep works in uint32 in preallocated, cache-sized tiles, because the
  k x n_shingles pass is memory-bandwidth-bound;
- SimHash: +-1 bit-plane sums of the 64-bit shingle hashes via
  ``np.add.reduceat``, 16 bit-planes at a time;
- winnowing (Schleimer et al., SIGMOD'03): the minimum of every
  ``winnow_window`` consecutive window hashes, rightmost on ties.

Config (w, k, seed, substring widths) comes from one :class:`DedupConfig`,
so the brute-force recall oracle and the pipeline run the same
shingle/signature config (BASELINE.json "same shingle/signature config").
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from cpdd_spark.config import DedupConfig

# every column compute_signatures can emit, with its Spark type
OUTPUT_TYPES = {
    "minhash": "array<long>",
    "simhash": "long",
    "shingles": "array<long>",
    "fps": "array<long>",
    "rset": "array<long>",
}

# window-hash multiplier (golden-ratio odd constant) and its inverse mod 2^64
_R = np.uint64(0x9E3779B97F4A7C15)
_R_INV = np.uint64(pow(int(_R), -1, 1 << 64))


def _perm_params(cfg: DedupConfig) -> np.ndarray:
    """k seeded 32-bit xor constants, one per MinHash permutation."""
    rng = np.random.default_rng(cfg.seed)
    return rng.integers(0, 1 << 32, size=cfg.num_perm, dtype=np.uint32)


def _fmix32_into(y: np.ndarray, tmp: np.ndarray) -> np.ndarray:
    """murmur3 fmix32 avalanche finalizer — a bijection on uint32,
    computed with ONE scratch buffer (no hidden temporaries: this kernel
    is bandwidth-bound, see module docstring)."""
    with np.errstate(over="ignore"):
        np.right_shift(y, 16, out=tmp)
        y ^= tmp
        y *= np.uint32(0x85EBCA6B)
        np.right_shift(y, 13, out=tmp)
        y ^= tmp
        y *= np.uint32(0xC2B2AE35)
        np.right_shift(y, 16, out=tmp)
        y ^= tmp
    return y


def _powers(base: np.uint64, n: int) -> np.ndarray:
    """``base**0 .. base**(n-1)`` mod 2^64."""
    p = np.full(n, base, dtype=np.uint64)
    p[:1] = 1
    with np.errstate(over="ignore"):
        return np.cumprod(p)


def window_hashes(
    docs: pd.Series, widths: Iterable[int]
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """64-bit hashes of every w-token window of a batch of documents, for
    each ``w`` in ``widths``, from ONE tokenization and token hashing.

    Returns ``{w: (hashes, offsets)}`` where ``offsets[i]`` is the start of
    doc i's windows and ``offsets[n] == len(hashes)``. Docs with fewer than
    w tokens contribute no windows.
    """
    token_lists = [d.split() for d in docs]
    counts = np.fromiter(map(len, token_lists), dtype=np.int64, count=len(token_lists))
    tok_starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=tok_starts[1:])
    n_tok = int(tok_starts[-1])
    flat_tokens = np.fromiter(chain.from_iterable(token_lists), dtype=object, count=n_tok)
    tok_h = pd.util.hash_array(flat_tokens).astype(np.uint64)

    # prefix[m] = sum_{l<m} tok_h[l] * R^l, so the window at i hashes to
    # (prefix[i+w] - prefix[i]) * R^-i = sum_j tok_h[i+j] * R^j
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash design
        inv = _powers(_R_INV, n_tok)
        prefix = np.zeros(n_tok + 1, dtype=np.uint64)
        np.cumsum(tok_h * _powers(_R, n_tok), out=prefix[1:])

    out = {}
    for w in set(widths):
        n_win = np.maximum(counts - w + 1, 0)
        offsets = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(n_win, out=offsets[1:])
        total = int(offsets[-1])
        doc_of = np.repeat(np.arange(len(counts)), n_win)
        start = tok_starts[doc_of] + np.arange(total) - offsets[doc_of]
        with np.errstate(over="ignore"):
            h = (prefix[start + w] - prefix[start]) * inv[start]
            # avalanche so near-identical sums don't correlate bit planes
            h ^= h >> np.uint64(33)
            h *= np.uint64(0xFF51AFD7ED558CCD)
            h ^= h >> np.uint64(33)
        out[w] = (h, offsets)
    return out


def _distinct(h: np.ndarray, offsets: np.ndarray) -> list[np.ndarray]:
    """Each doc's distinct window hashes, sorted, as int64."""
    return [
        np.unique(h[offsets[i] : offsets[i + 1]]).view(np.int64)
        for i in range(len(offsets) - 1)
    ]


def _winnowed(h: np.ndarray, offsets: np.ndarray, k: int) -> list[np.ndarray]:
    """Each doc's distinct winnow-selected window hashes, sorted, as int64.

    Winnowing selects the minimum of every k consecutive window hashes
    (rightmost on ties, which selects the same value), or a doc's minimum
    when it has fewer than k. Only the selected values are emitted, so the
    selection is ONE flat pass over the batch: a sliding minimum over the
    concatenated hashes, each doc followed by k - 1 maximal hashes so no
    window reaches into the next doc, read at every full window's start
    and at each doc's first position, then one sort of (doc, hash) keys
    for each doc's distinct values."""
    n_docs = len(offsets) - 1
    doc = np.repeat(np.arange(n_docs), np.diff(offsets))
    pos = np.arange(len(h))
    padded = pos + doc * (k - 1)
    m = np.full(len(h) + n_docs * (k - 1), np.iinfo(np.uint64).max, dtype=np.uint64)
    m[padded] = h
    # m[g] = min(m[g : g + k]): the span doubles up to the largest power
    # of two <= k, then two overlapping spans cover k
    span = 1
    while 2 * span <= k:
        m = np.minimum(m[:-span], m[span:])
        span *= 2
    m = np.minimum(m[: len(m) - (k - span)], m[k - span :])[padded]
    keep = (pos + k <= offsets[doc + 1]) | (pos == offsets[doc])
    # a run of equal minima in one doc is one value: keep its first
    keep[1:] &= (m[1:] != m[:-1]) | (doc[1:] != doc[:-1])
    # distinct (doc, hash) pairs, sorted, as ONE int64 key: doc * U + the
    # hash's rank among the U distinct hashes (about 2x faster than np.lexsort)
    hashes, rank = np.unique(m[keep], return_inverse=True)
    key = np.unique(doc[keep] * len(hashes) + rank)
    bounds = np.searchsorted(key, np.arange(n_docs + 1) * len(hashes))
    fps = hashes.view(np.int64)[key % len(hashes)]
    return [fps[bounds[i] : bounds[i + 1]] for i in range(n_docs)]


def _minhash(h: np.ndarray, offsets: np.ndarray, consts: np.ndarray) -> np.ndarray:
    """(n_docs, k) int64 minima of per-permutation bijections of the shingle
    hashes; docs with zero shingles get -1 (screened by n_shingles anyway)."""
    n_docs = len(offsets) - 1
    k = len(consts)
    sig = np.full((n_docs, k), -1, dtype=np.int64)
    if len(h) == 0:
        return sig
    x32 = (h >> np.uint64(32)).astype(np.uint32)  # 64->32 bit reduction
    chunk = 16
    # TILE the shingle axis on document boundaries: the (chunk, tile) scratch
    # must stay cache-resident — measured 2.4 ns/elem at ~256k-1M tiles vs
    # 91 ns/elem when the buffers are partition-sized (DRAM + page faults).
    tile_target = 1 << 19
    buf = np.empty((chunk, tile_target + 1), dtype=np.uint32)
    tmp = np.empty((chunk, tile_target + 1), dtype=np.uint32)
    d0 = 0
    while d0 < n_docs:
        # largest d1 such that the tile holds whole docs (>= 1 doc always)
        d1 = int(np.searchsorted(offsets, offsets[d0] + tile_target, side="right")) - 1
        d1 = max(d1, d0 + 1)
        s0, s1 = int(offsets[d0]), int(offsets[d1])
        width = s1 - s0
        if width == 0:
            d0 = d1
            continue
        x_t = x32[s0:s1]
        local_off = offsets[d0:d1] - s0
        local_nonempty = np.flatnonzero(np.diff(offsets[d0 : d1 + 1]) > 0)
        starts = local_off[local_nonempty]
        if width > buf.shape[1]:  # single doc larger than the tile
            b = np.empty((chunk, width), dtype=np.uint32)
            t = np.empty((chunk, width), dtype=np.uint32)
        else:
            b, t = buf[:, :width], tmp[:, :width]
        for c0 in range(0, k, chunk):
            c1 = min(c0 + chunk, k)
            c = c1 - c0
            np.bitwise_xor(x_t[None, :], consts[c0:c1, None], out=b[:c])
            hv = _fmix32_into(b[:c], t[:c])
            mins = np.minimum.reduceat(hv, starts, axis=1)
            sig[d0 + local_nonempty, c0:c1] = mins.T.astype(np.int64)
        d0 = d1
    return sig


def _simhash(h: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """(n_docs,) int64 SimHash; docs with zero shingles get 0."""
    n_docs = len(offsets) - 1
    out = np.zeros(n_docs, dtype=np.uint64)
    if len(h) == 0:
        return out.view(np.int64)
    # tile on doc boundaries for cache residency (see _minhash)
    tile_target = 1 << 19
    n_total = len(h)
    d0 = 0
    shifts = np.arange(64, dtype=np.uint64)
    while d0 < n_docs:
        d1 = int(np.searchsorted(offsets, offsets[d0] + tile_target, side="right")) - 1
        d1 = max(d1, d0 + 1)
        s0, s1 = int(offsets[d0]), int(offsets[d1])
        if s1 == s0:
            d0 = d1
            continue
        h_t = h[s0:s1]
        local_off = offsets[d0:d1] - s0
        local_nonempty = np.flatnonzero(np.diff(offsets[d0 : d1 + 1]) > 0)
        starts = local_off[local_nonempty]
        for b0 in range(0, 64, 16):  # 16 bit-planes at a time
            planes = (
                (h_t[None, :] >> shifts[b0 : b0 + 16, None]) & np.uint64(1)
            ).astype(np.int32) * 2 - 1  # (16, tile) of +-1
            sums = np.add.reduceat(planes, starts, axis=1)
            bits = (sums > 0).astype(np.uint64)  # ties (sum==0) -> 0
            for i in range(16):
                out[d0 + local_nonempty] |= bits[i] << np.uint64(b0 + i)
        d0 = d1
    return out.view(np.int64)


def compute_signatures(
    docs: DataFrame,
    cfg: DedupConfig,
    outputs: Sequence[str],
    passthrough: list[str] | None = None,
) -> DataFrame:
    """``documents(conv_id, .., doc)`` -> ``(conv_id, n_shingles,
    *outputs, *passthrough)`` in one Arrow pass over the text.

    ``outputs`` names the hash columns to emit, from ``OUTPUT_TYPES``; a
    column nobody reads is not computed, and every emitted column is
    bit-identical whatever else is requested (pinned by test).
    ``n_shingles`` is each doc's count of w-token shingles (0 below w
    tokens), which the LSH and SimHash screens filter on.

    ``passthrough`` names extra input columns to carry through the Arrow
    pass unchanged (same row order as the kernel input). This lets a
    caller fuse the signature kernel into an existing materialization —
    the streaming tier signs a micro-batch inside the one docs
    checkpoint instead of paying a second Python stage + checkpoint
    action per batch.
    """
    unknown = [o for o in outputs if o not in OUTPUT_TYPES]
    if unknown:
        raise ValueError(f"unknown signature outputs {unknown}")
    if passthrough and not set(passthrough).isdisjoint(
        {"conv_id", "n_shingles", *OUTPUT_TYPES}
    ):
        raise ValueError("passthrough collides with signature output columns")
    consts = _perm_params(cfg)
    sw = cfg.shingle_w
    width = {
        "minhash": sw,
        "simhash": sw,
        "shingles": sw,
        "fps": cfg.substring_w,
        "rset": cfg.substring_w + cfg.winnow_window - 1,
    }

    def column(name: str, h: np.ndarray, offsets: np.ndarray):
        if name == "minhash":
            return list(_minhash(h, offsets, consts))
        if name == "simhash":
            return _simhash(h, offsets)
        if name == "fps":
            return _winnowed(h, offsets, cfg.winnow_window)
        return _distinct(h, offsets)  # shingles, rset

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashed = window_hashes(pdf["doc"], {sw, *(width[o] for o in outputs)})
            cols = {
                "conv_id": pdf["conv_id"].to_numpy(),
                "n_shingles": np.diff(hashed[sw][1]),
            }
            for o in outputs:
                cols[o] = column(o, *hashed[width[o]])
            for c in passthrough or ():
                cols[c] = pdf[c]
            yield pd.DataFrame(cols)

    schema = "conv_id string, n_shingles long" + "".join(
        f", {o} {OUTPUT_TYPES[o]}" for o in outputs
    ) + "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}"
        for c in passthrough or ()
    )
    sel = ["conv_id", "doc"] + [c for c in passthrough or () if c != "doc"]
    return docs.select(*sel).mapInPandas(kernel, schema=schema)


def minhash_from_sets(sets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """``(conv_id, shingles)`` -> ``(conv_id, n_shingles, minhash)``:
    recompute the MinHash signature from a STORED distinct shingle-hash set
    instead of document text.

    Exactness: each permutation's minimum over the distinct set equals the
    minimum over the raw multiset (duplicates never change a min), and the
    kernel applies the identical 64->32-bit reduction + xor/fmix32 bijection
    as :func:`compute_signatures` — bit-identical ``minhash`` (tested).
    ``n_shingles`` here is the DISTINCT count; its only downstream use is
    the ``> 0`` screen in band generation, and distinct-count > 0 iff raw
    count > 0.

    This is what makes the streaming near-index's band table fully
    DERIVED state: ``IncrementalDedup.compact_index`` rebuilds bands from
    the stored sets alone — the rebuild-per-run discipline of the
    reference index (/root/reference/src/cpdd/matching.c:255-318) without
    re-reading any document."""
    consts = _perm_params(cfg)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts = np.fromiter(
                (len(s) for s in pdf["shingles"]), dtype=np.int64, count=len(pdf)
            )
            offsets = np.zeros(len(pdf) + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            h = (
                np.concatenate(
                    [np.asarray(s, dtype=np.int64) for s in pdf["shingles"]]
                ).view(np.uint64)
                if counts.sum()
                else np.empty(0, dtype=np.uint64)
            )
            sig = _minhash(h, offsets, consts)
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy(),
                    "n_shingles": counts,
                    "minhash": list(sig),
                }
            )

    return sets.select("conv_id", "shingles").mapInPandas(
        kernel, schema="conv_id string, n_shingles long, minhash array<long>"
    )


def exact_jaccard_sets(doc_a: str, doc_b: str, w: int) -> float:
    """Brute-force w-shingle Jaccard on actual token tuples — the oracle
    definition the MinHash estimates (used by the verify tier and tests).

    Docs shorter than w tokens have NO shingles; their Jaccard is defined as
    1.0 iff the docs are string-identical, else 0.0 — sub-shingle docs are
    the exact tier's jurisdiction (same convention as the LSH screen, which
    drops n_shingles == 0 rows)."""
    ta, tb = doc_a.split(), doc_b.split()
    sa = {tuple(ta[i : i + w]) for i in range(len(ta) - w + 1)}
    sb = {tuple(tb[i : i + w]) for i in range(len(tb) - w + 1)}
    if not sa or not sb:
        return 1.0 if doc_a == doc_b else 0.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)
