"""Signature tier: word shingles -> MinHash(k) + SimHash in ONE Arrow pass
(P4-P6).

Generalizes the reference's hash tier (streaming MD5,
/root/reference/src/common/md5.c:171-216) from exact digests to
similarity-preserving sketches, and mirrors its FUSED single-pass design
(matching.c:110-129 computes MD5 and byte-compares in one read): one
``mapInPandas`` pass over each Arrow batch tokenizes, hashes shingles,
computes all k MinHash slots AND the SimHash fingerprint — the document
text is traversed once.

All kernels are vectorized NumPy over flattened token arrays (no per-row
Python work beyond the tokenizer split):

- token hashing: ``pd.util.hash_array`` (SipHash, fixed key -> deterministic
  across executor processes);
- shingle hashing: rolling polynomial combine of w consecutive token hashes
  in uint64 wraparound arithmetic — shingle strings are never materialized;
- MinHash: each of the k "permutations" is a genuine bijection on the
  32-bit domain — xor a seeded random constant, then the murmur3 fmix32
  avalanche finalizer (a bijective composition of xorshifts and odd
  multiplications). Per-doc minima via ``np.minimum.reduceat``. Two
  deliberate choices, both measured:
  (a) the textbook (a*x+b) mod p family with a,b drawn below 2^32 is badly
      NON-min-wise-independent — for small a the map is monotone in x
      (a*x never wraps p), so argmins correlate across permutations and
      the Jaccard estimate collapses; a bijective mixer has no such
      failure mode;
  (b) the kernel works in uint32 with PREALLOCATED scratch buffers: the
      k x n_shingles elementwise pass is memory-bandwidth-bound, and naive
      numpy chains allocate ~5 full-size temporaries per op chain — at 32
      parallel executor processes that contention erased all scaling.
      Shingles are reduced 64->32 bit first (injectivity loss ~ birthday
      over 2^32: a handful of in-batch collisions, harmless to a min
      estimator);
- SimHash: +-1 bit-plane sums of the 64-bit shingle hashes via
  ``np.add.reduceat``, processed 16 bit-planes at a time to bound memory.

Config (w, k, seed) comes from one :class:`DedupConfig` so the brute-force
recall oracle and the pipeline provably run the same shingle/signature
config (BASELINE.json "same shingle/signature config").
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from cpdd_spark.config import DedupConfig

SIG_SCHEMA = "conv_id string, n_shingles long, minhash array<long>, simhash long"


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


def shingle_hashes(docs: pd.Series, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Flattened 64-bit shingle hashes for a batch of documents.

    Returns ``(hashes, offsets)`` where ``offsets[i]`` is the start of doc
    i's shingles and ``offsets[n] == len(hashes)``. Docs with < w tokens
    contribute zero shingles.
    """
    token_lists = docs.str.split()
    counts = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=len(token_lists))
    flat_tokens = np.concatenate(
        [np.asarray(t, dtype=object) for t in token_lists]
    ) if counts.sum() else np.empty(0, dtype=object)
    tok_h = pd.util.hash_array(flat_tokens).astype(np.uint64)

    n_sh = np.maximum(counts - w + 1, 0)
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(n_sh, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), offsets

    # rolling polynomial combine: h(shingle at i) = sum_j tok_h[i+j] * R^j
    # (uint64 wraparound). Build per-doc windows via a flat index map.
    R = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd multiplier
    tok_starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=tok_starts[1:])
    # global index of shingle s within doc i = tok_starts[i] + (s - offsets[i])
    doc_of = np.repeat(np.arange(len(counts)), n_sh)
    local = np.arange(total) - offsets[doc_of]
    base = tok_starts[doc_of] + local
    out = np.zeros(total, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash design
        mult = np.uint64(1)
        for j in range(w):
            out += tok_h[base + j] * mult
            mult = mult * R
    # final avalanche so near-identical sums don't correlate bit planes
    out ^= out >> np.uint64(33)
    out *= np.uint64(0xFF51AFD7ED558CCD)
    out ^= out >> np.uint64(33)
    return out, offsets


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
    docs: DataFrame, cfg: DedupConfig, with_sets: bool = False,
    with_minhash: bool = True, with_simhash: bool = True,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """``documents(conv_id, .., doc)`` ->
    ``signatures(conv_id, n_shingles, minhash array<long>[k], simhash long)``.

    ``with_sets=True`` additionally emits ``shingles array<long>`` — each
    doc's distinct sorted shingle-hash set — from the SAME fused Arrow pass
    (the text is traversed once either way; this extends the reference's
    one-read multi-tier design, matching.c:110-129, to the verify tier's
    input). Materializing signatures WITH sets is what lets verification
    run entirely JVM-side against the stored table
    (:func:`cpdd_spark.verify.verify_pairs_sets`), and consumers that only
    band the minhash columns still prune the set column at the parquet/
    Iceberg scan.

    ``with_minhash=False`` drops the k-permutation MinHash from the pass
    (schema omits the ``minhash`` column): the SimHash screen only
    consumes ``(conv_id, n_shingles, simhash)``, and the k=128
    permutation sweep plus the k-long Arrow arrays are the dominant cost
    of the fused kernel — a simhash-only consumer should not pay them.
    The emitted ``simhash`` values are bit-identical to the full pass
    (same shingle stream, untouched accumulation; pinned by pytest).

    ``with_simhash=False`` is the mirror image: consumers that only band
    and verify — the LSH probe path, notably the streaming near tier —
    never read ``simhash``, and its bit-bucket accumulation is the
    single most expensive piece of the fused pass (measured 3.0 s of a
    4.7 s single-core batch kernel). The emitted minhash/sets are
    bit-identical to the full pass for the same reason as above.

    ``passthrough`` names extra input columns to carry through the Arrow
    pass unchanged (same row order as the kernel input). This lets a
    caller fuse the signature kernel into an existing materialization —
    the streaming tier signs a micro-batch inside the one docs
    checkpoint instead of paying a second Python stage + checkpoint
    action per batch.
    """
    consts = _perm_params(cfg)
    w = cfg.shingle_w

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            h, offsets = shingle_hashes(pdf["doc"], w)
            cols = {
                "conv_id": pdf["conv_id"].to_numpy(),
                "n_shingles": np.diff(offsets),
            }
            if with_minhash:
                cols["minhash"] = list(_minhash(h, offsets, consts))
            if with_simhash:
                cols["simhash"] = _simhash(h, offsets)
            if with_sets:
                cols["shingles"] = [
                    np.unique(h[offsets[i] : offsets[i + 1]]).view(np.int64)
                    for i in range(len(pdf))
                ]
            for c in passthrough or ():
                cols[c] = pdf[c]
            yield pd.DataFrame(cols)

    schema = (
        "conv_id string, n_shingles long"
        + (", minhash array<long>" if with_minhash else "")
        + (", simhash long" if with_simhash else "")
        + (", shingles array<long>" if with_sets else "")
        + "".join(
            f", {c} {docs.schema[c].dataType.simpleString()}"
            for c in passthrough or ()
        )
    )
    if passthrough and not set(passthrough).isdisjoint(
        {"conv_id", "n_shingles", "minhash", "simhash", "shingles"}
    ):
        raise ValueError("passthrough collides with signature output columns")
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
