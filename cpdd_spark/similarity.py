"""Embedding similarity: brute-force cosine top-k, threshold dedup, and a
random-hyperplane-LSH scale path.

New capability class for training-data pipelines (the reference has no
vector notion). Design rules:

- dot products / norms are built with ``F.zip_with`` + ``F.aggregate`` in
  DOUBLE with strict left-to-right accumulation — deterministic, engine
  portable (DuckDB's list functions reduce in the same order), and entirely
  JVM-side;
- brute-force top-k is the correctness baseline: queries x corpus via a
  (broadcastable) cross join — right for small query sets and as oracle;
- the scale path buckets the corpus by sign-bit sketches of seeded random
  hyperplanes (Charikar'02): cosine-close vectors collide with high
  probability, so each query scans one bucket group instead of the corpus.
  Same screen-then-verify shape as the dedup tiers: bucket -> exact cosine.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cpdd_spark.config import DedupConfig
from cpdd_spark.lsh import pairs_from_buckets
from cpdd_spark.session import spread

# every vector table has the embeddings layout: (vec_id long, embedding array)
ID_COL, VEC_COL = "vec_id", "embedding"


def _dot(a, b, dim: int | None = None):
    """Strict left-to-right double dot product.

    ``dim=None``: the generic higher-order form (works on any runtime
    length). With a known static ``dim`` the SAME fold is emitted as a
    straight-line expression chain ``((0.0 + x1*y1) + x2*y2) + ...`` —
    bit-identical doubles (identical operation order), but it compiles
    into whole-stage codegen instead of per-element interpreted lambda
    evaluation (HigherOrderFunction nodes are never codegen'd), measured
    ~10x on the verify hot paths. ``F.get`` (0-based, null out of range)
    keeps the null semantics of ``zip_with``'s padding on short arrays.
    """
    if dim is not None:
        expr = F.lit(0.0)
        for i in range(dim):
            expr = expr + F.get(a, i).cast("double") * F.get(b, i).cast("double")
        return expr
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a, dim: int | None = None):
    if dim is not None:
        expr = F.lit(0.0)
        for i in range(dim):
            expr = expr + F.get(a, i).cast("double") * F.get(a, i).cast("double")
        return F.sqrt(expr)
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_cosine(pairs: DataFrame, dim: int | None = None) -> DataFrame:
    """Add the ``cosine`` of columns ``emb_a`` and ``emb_b``. ``dim``
    unrolls the fold for codegen (see :func:`_dot`) — pass it whenever the
    embedding width is statically known; semantics (and the emitted
    doubles) are identical for arrays of exactly that length, which every
    caller's schema guarantees."""
    va, vb = F.col("emb_a"), F.col("emb_b")
    return pairs.withColumn("cosine", _dot(va, vb, dim) / (_norm(va, dim) * _norm(vb, dim)))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query: ``(query_id, neighbor_id, cosine,
    rank)``. Self-matches excluded; ties broken by neighbor_id for full
    determinism. The query side of the cross join broadcasts; at scale use
    :func:`lsh_topk`."""
    q = queries.select(
        F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("emb_a")
    )
    # stream the CORPUS side, spread to cluster parallelism (a single
    # small parquet file scans as one partition — the whole
    # queries x corpus cosine + partial top-k otherwise runs in ONE task),
    # and broadcast the tiny query side instead of the corpus.
    c = spread(
        corpus.select(F.col(ID_COL).alias("neighbor_id"), F.col(VEC_COL).alias("emb_b"))
    )
    scored = (
        with_cosine(c.crossJoin(F.broadcast(q)))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_dup_pairs(corpus: DataFrame, threshold: float = 0.99) -> DataFrame:
    """Embedding near-duplicate pairs: ``(a, b, cosine)`` with cosine >=
    threshold, a < b. Brute-force form (exact), the reference model of
    :func:`cosine_dup_pairs_lsh`, which runs at scale."""
    left = corpus.select(F.col(ID_COL).alias("a"), F.col(VEC_COL).alias("emb_a"))
    right = corpus.select(F.col(ID_COL).alias("b"), F.col(VEC_COL).alias("emb_b"))
    return (
        with_cosine(left.crossJoin(right))
        .filter(F.col("a") < F.col("b"))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


SKETCH_SCHEMA = "id long, t int, bucket long"


def sign_sketches(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 64,
) -> DataFrame:
    """Multi-table Charikar sign sketches in ONE Arrow pass:
    ``(id, t, bucket)`` — one row per (vector, table), where ``bucket`` packs
    the sign bits of that table's ``n_planes`` seeded hyperplane projections.

    All ``n_tables * n_planes`` projections are a single
    ``(batch, dim) @ (dim, n_tables*n_planes)`` matmul per Arrow batch —
    the vectorized-pandas-UDF shape mandated for Python kernels (a
    JVM-expression projection per plane stops scaling past ~50
    projections: Catalyst codegen size grows per plane, a matmul does
    not). Sketches are deterministic in (dim, n_planes, n_tables): the
    planes come from seed 42.
    """
    rng = np.random.default_rng(42)
    planes = rng.normal(size=(dim, n_tables * n_planes)).astype(np.float64)
    weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[VEC_COL].to_numpy()).astype(np.float64)
            bits = (x @ planes) > 0  # (n, T*b)
            packed = (
                bits.reshape(len(pdf), n_tables, n_planes).astype(np.uint64)
                @ weights
            ).astype(np.int64)  # (n, T) bucket ids
            ids = np.repeat(pdf[ID_COL].to_numpy(), n_tables)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "t": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": packed.reshape(-1),
                }
            )

    # NO input spread here (r8 A/B): the matmul kernel is cheap relative
    # to its own output exchange (the bucket-count groupBy re-shuffles the
    # sketch rows immediately anyway), and a repartition of the vector
    # table costs more than the kernel parallelism buys — measured a small
    # but consistent net loss on both the top-k and dedup paths.
    return df.select(ID_COL, VEC_COL).mapInPandas(kernel, schema=SKETCH_SCHEMA)


def cosine_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.99,
    dim: int = 64,
    broadcast_vectors: bool = True,
    release: list | None = None,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT the crossJoin: multi-table sign-LSH
    candidates -> exact-cosine verification (the dedup tiers' screen-then-
    verify shape applied to vectors).

    ``broadcast_vectors``: hint the two verify-attach joins to broadcast
    the vector table (right for corpora whose ``(id, vec)`` projection
    fits executor memory — tens of millions of rows at dim 64). At 10^9+
    vectors pass ``False`` and let the planner shuffle-join against the
    bucketed vector table instead.

    ``release``: as in :func:`cpdd_spark.lsh.pairs_from_buckets` — when
    given, the candidate expansion pipelines into the verify and the
    bucket-member cache (and the vector broadcast) go on the list for the
    caller to unpersist once the result is materialized; without it the
    candidate list is checkpointed first.

    Recall: the sketches have b=8 planes in each of T=64 tables. A pair at
    angle theta collides in one table w.p. ``p^b`` with ``p = 1 -
    theta/pi``; across the T independent tables the miss probability is
    ``(1 - p^b)^T``: cosine 0.99 -> miss ~ 1e-26, cosine 0.95 -> ~2e-11,
    cosine 0.80 (the weakest threshold the driver query pins) -> 3.8e-3 at
    the exact boundary. Precision is always 1.0 — every candidate is
    verified with the same left-to-right double cosine the brute-force
    oracle computes. Candidate generation reuses the skew-aware bucket
    machinery (hot buckets = duplicate blobs get capped + chained, then
    cosine-verified).
    """
    sk = sign_sketches(corpus, dim)
    # typed id path: the bucket machinery pairs/chains on the native long
    # vector ids — no string casts, 8-byte shuffle keys end to end
    # distinct=False: candidates stay multiset-shaped through the verify
    # (cosine is deterministic, so duplicate candidates yield bit-identical
    # verified rows) and the final .distinct() below dedups the tiny
    # survivor set instead of the tens-of-millions candidate set — one
    # candidate-sized exchange + hash aggregate removed from the plan.
    cands = pairs_from_buckets(
        sk, ["t", "bucket"], DedupConfig(), id_col="id", distinct=False, release=release
    ).select(F.col("a").alias("ia"), F.col("b").alias("ib"))
    if broadcast_vectors:
        # Verify in a VECTORIZED Arrow kernel against a task-local copy of
        # the vector table (guide §4.2: hand whole batches to NumPy). The
        # JVM-expression alternative — a 64-term unrolled cosine inside
        # the post-join filter — generates a 20-30 KB bytecode method:
        # under Spark's codegen fallback limit, but over HotSpot's 8 KB
        # JIT refusal threshold (-XX:-DontCompileHugeMethods default), so
        # the whole expand+join+filter loop ran in the BYTECODE
        # INTERPRETER (~58 us/pair, jstack-verified; the kernel verifies
        # the same candidates at ~0.02 us/pair). Only the (ia, ib) longs
        # cross the Python boundary — 16 B/candidate — and only verified
        # survivors come back.
        #
        # Bit-identical cosines by construction: the kernel accumulates
        # dot and norms with a LOOP OVER DIMENSIONS of vectorized
        # adds/multiplies over the pair axis — each pair's sum runs
        # strictly left-to-right in float64, the exact IEEE sequence of
        # the _dot/_norm expression fold and of the DuckDB oracle's
        # list reduce (float32 -> float64 casts are exact; numpy and the
        # JVM both use correctly-rounded IEEE multiply/divide/sqrt).
        # Equality is pinned by
        # tests/test_extras.py::test_cosine_dup_pairs_lsh_matches_bruteforce.
        import pandas as pd
        from collections.abc import Iterator

        pdf_vecs = corpus.select(ID_COL, VEC_COL).toPandas()
        ids = pdf_vecs[ID_COL].to_numpy()
        if len(ids):
            mat = np.stack(pdf_vecs[VEC_COL].to_numpy()).astype(np.float64)
        else:
            mat = np.zeros((0, dim), dtype=np.float64)
        # dense id -> row-index map (vector ids need not be contiguous)
        order = np.argsort(ids, kind="mergesort")
        sorted_ids, sorted_rows = ids[order], order
        norms = np.zeros(len(ids), dtype=np.float64)
        for j in range(mat.shape[1]):  # left-to-right, matching _norm
            norms += mat[:, j] * mat[:, j]
        norms = np.sqrt(norms)
        bc = corpus.sparkSession.sparkContext.broadcast(
            (sorted_ids, sorted_rows, mat, norms)
        )
        if release is not None:
            release.append(bc)
        thr = float(threshold)

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            s_ids, s_rows, m, nrm = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ra = s_rows[np.searchsorted(s_ids, pdf["ia"].to_numpy())]
                rb = s_rows[np.searchsorted(s_ids, pdf["ib"].to_numpy())]
                dot = np.zeros(len(pdf), dtype=np.float64)
                for j in range(m.shape[1]):  # left-to-right, matching _dot
                    dot += m[ra, j] * m[rb, j]
                cos = dot / (nrm[ra] * nrm[rb])
                keep = cos >= thr
                ia = pdf["ia"].to_numpy()[keep]
                ib = pdf["ib"].to_numpy()[keep]
                yield pd.DataFrame(
                    {
                        "a": np.minimum(ia, ib),
                        "b": np.maximum(ia, ib),
                        "cosine": cos[keep],
                    }
                )

        return cands.mapInPandas(
            kernel, schema="a long, b long, cosine double"
        ).distinct()
    # at-scale mode (10^9+ vectors): no driver-side vector table — attach
    # vectors through shuffle joins and verify with the JVM expression
    left = corpus.select(F.col(ID_COL).alias("ia"), F.col(VEC_COL).alias("emb_a"))
    right = corpus.select(F.col(ID_COL).alias("ib"), F.col(VEC_COL).alias("emb_b"))
    joined = cands.join(left, "ia").join(right, "ib")
    return (
        with_cosine(joined, dim=dim)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least("ia", "ib").alias("a"),
            F.greatest("ia", "ib").alias("b"),
            "cosine",
        )
        .distinct()
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign-LSH (standard amplification:
    a true neighbor is a candidate iff it collides in >= 1 of n_tables
    independent sketches — P = 1-(1-p^n_planes)^n_tables, p = 1 - theta/pi).
    Candidates are deduped across tables, then exact cosine + rank. Tune:
    more planes => smaller buckets (cheaper, lower recall); more tables =>
    higher recall (more candidate volume).

    All tables come from ONE :func:`sign_sketches` matmul pass per side and
    collide through ONE ``(t, bucket)`` equi-join — same recall math as a
    per-table loop, but the plan stays two mapInPandas + one shuffle join
    regardless of n_tables."""
    csk = sign_sketches(corpus, dim, n_planes, n_tables)
    qsk = sign_sketches(queries, dim, n_planes, n_tables)
    cands = (
        qsk.select(F.col("id").alias("query_id"), "t", "bucket")
        .join(
            csk.select(F.col("id").alias("neighbor_id"), "t", "bucket"),
            ["t", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cands.join(
            queries.select(F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("emb_a")),
            "query_id",
        )
        .join(
            corpus.select(F.col(ID_COL).alias("neighbor_id"), F.col(VEC_COL).alias("emb_b")),
            "neighbor_id",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        with_cosine(scored)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cell-probed search
# ---------------------------------------------------------------------------

def _kmeans_spherical(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic spherical k-means on a (n, d) sample: seeded init by
    sample points, Lloyd iterations with cosine (dot-on-normalized)
    assignment, empty cells re-seeded deterministically. Returns (k, d)
    L2-normalized centroids. Small-n driver-side helper — the sample is
    bounded (see ivf_index), never the corpus."""
    rng = np.random.default_rng(seed)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    centroids = xn[rng.choice(len(xn), size=min(k, len(xn)), replace=False)]
    if len(centroids) < k:  # degenerate tiny sample: pad with random planes
        pad = rng.normal(size=(k - len(centroids), x.shape[1]))
        pad /= np.maximum(np.linalg.norm(pad, axis=1, keepdims=True), 1e-12)
        centroids = np.vstack([centroids, pad])
    for _ in range(iters):
        assign = np.argmax(xn @ centroids.T, axis=1)
        for c in range(k):
            members = xn[assign == c]
            if len(members) == 0:
                # deterministic re-seed: the sample point farthest from its
                # centroid (classic k-means empty-cluster repair)
                sims = (xn * centroids[assign]).sum(axis=1)
                centroids[c] = xn[int(np.argmin(sims))]
            else:
                m = members.sum(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids.astype(np.float64)


def ivf_sample_df(
    corpus: DataFrame, mod: int, id_col: str, vec_col: str
) -> DataFrame:
    """The IVF training-sample job: a pure hash-filtered scan — no global
    sort/limit, so collecting it is a plain gather (plan-guarded: no
    TakeOrderedAndProject merging num_partitions x cap rows driver-side)."""
    return corpus.filter(
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(mod)) == 0
    ).select(id_col, vec_col)


def ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 64,
    iters: int = 10,
) -> np.ndarray:
    """Train the coarse quantizer on a DETERMINISTIC hash-sample of the
    corpus (xxhash64(id) % mod == 0 — unbiased w.r.t. insertion
    order, reproducible across runs/cluster sizes), capped at
    ``max_sample`` = 65536 rows collected to the driver. At 10^12 scale the
    sample is still O(max_sample): training cost does not grow with the
    corpus. The k-means init is seeded (42).

    The modulus ADAPTS to the corpus: ``mod = max(16, ceil(n /
    max_sample))`` from one cheap count, so the hash filter alone
    bounds the collected rows near ``max_sample`` and the collect is a
    plain UNORDERED gather of the filtered scan — no global
    TakeOrderedAndProject (which would merge num_partitions x max_sample
    embedding rows on the driver at scale). Determinism is preserved by
    the hash filter + a DRIVER-side sort on id before the cap; on any
    corpus where the old orderBy().limit() never truncated (every shipped
    fixture), the selected sample — and therefore the trained centroids —
    is bit-identical to the previous formulation (regression-tested
    against saved centroids)."""
    sample_mod, max_sample, seed = 16, 65536, 42
    n = corpus.count()
    eff_mod = max(sample_mod, -(-n // max_sample)) if n else sample_mod
    sample = ivf_sample_df(corpus, eff_mod, ID_COL, VEC_COL).toPandas()
    sample = (
        sample.sort_values(ID_COL, kind="mergesort")
        .head(max_sample)
        .reset_index(drop=True)
    )
    if len(sample) == 0:
        # tiny corpus that the hash-sample missed entirely: fall back to
        # the full corpus (still bounded by max_sample), then to seeded
        # random planes for a truly empty input
        sample = (
            corpus.select(ID_COL, VEC_COL).orderBy(ID_COL).limit(max_sample).toPandas()
        )
    if len(sample) == 0:
        rng = np.random.default_rng(seed)
        planes = rng.normal(size=(n_centroids, dim))
        return planes / np.maximum(
            np.linalg.norm(planes, axis=1, keepdims=True), 1e-12
        )
    x = np.stack(sample[VEC_COL].to_numpy()).astype(np.float64)
    return _kmeans_spherical(x, n_centroids, iters, seed)


def ivf_cells(df: DataFrame, centroids: np.ndarray, n_probe: int = 1) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid cells in one
    Arrow matmul pass: ``(id, cell)``. Corpus vectors index with
    ``n_probe=1`` (one posting per vector); queries probe several cells."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[VEC_COL].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = x @ cn.T  # (n, k)
            if n_probe == 1:
                cells = np.argmax(sims, axis=1).astype(np.int32)[:, None]
            else:
                p = min(n_probe, sims.shape[1])
                cells = np.argpartition(-sims, p - 1, axis=1)[:, :p].astype(
                    np.int32
                )
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[ID_COL].to_numpy(), cells.shape[1]),
                    "cell": cells.reshape(-1),
                }
            )

    return df.select(ID_COL, VEC_COL).mapInPandas(
        kernel, schema="id long, cell int"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
) -> DataFrame:
    """IVF-Flat approximate top-k: ``(query_id, neighbor_id, cosine,
    rank)`` — the coarse-quantizer scale path next to :func:`lsh_topk`'s
    hyperplane path (FAISS's IVF design re-expressed as DataFrame joins).

    Shape: corpus posts ONE row per vector into its nearest cell; each
    query probes its ``n_probe`` nearest cells; candidates come from one
    equi-join on ``cell`` (partition-pruned when the posting table is
    written partitioned/bucketed by cell), then exact cosine + rank — the
    same screen-then-verify discipline as every tier here. Expected probe
    cost per query is ``n_probe/n_centroids`` of the corpus (cell-balance
    dependent), vs the corpus scan of :func:`cosine_topk`.

    Deterministic end-to-end: hash-sampled seeded k-means training
    (:func:`ivf_centroids`), argmax/argpartition assignment, ties in the
    final rank broken by neighbor_id.
    """
    centroids = ivf_centroids(corpus, dim, n_centroids)
    posts = ivf_cells(corpus, centroids, 1).select(
        F.col("id").alias("neighbor_id"), "cell"
    )
    probes = ivf_cells(queries, centroids, n_probe).select(
        F.col("id").alias("query_id"), "cell"
    )
    cands = (
        probes.join(posts, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = cands.join(
        queries.select(F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("emb_a")),
        "query_id",
    ).join(
        corpus.select(F.col(ID_COL).alias("neighbor_id"), F.col(VEC_COL).alias("emb_b")),
        "neighbor_id",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        with_cosine(scored)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
