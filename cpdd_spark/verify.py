"""Tier-3 verification: exact Jaccard over candidate pairs (P9).

Mirrors the reference's non-negotiable rule that a hash match is never
trusted without verification (MD5 collision guard,
/root/reference/src/cpdd/matching.c:77-83; byte compare 30-59): every LSH
candidate pair is re-checked with EXACT w-shingle Jaccard, and only pairs
>= tau survive.

The Jaccard is computed over each document's distinct 64-bit shingle-hash
set, which the text kernel stores next to its signature
(``compute_signatures(.., ("minhash", "shingles"))``; collision odds
~2^-64 per shingle pair). The verify is pure JVM: ``array_intersect``
inside whole-stage codegen, no Python worker and no document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpdd_spark.config import DedupConfig


def verify_pairs_sets(
    pairs: DataFrame,
    sets: DataFrame,
    cfg: DedupConfig,
    stored: DataFrame | None = None,
) -> DataFrame:
    """``pairs(a, b, ..)`` + ``sets(conv_id, shingles)`` ->
    ``(a, b, .., jaccard)`` with jaccard >= ``cfg.tau``.

    The joins ship slim hash arrays (~8 B/shingle), never document text —
    the index stores each doc's set once and every probe reuses it (the
    materialized analogue of cpdd never re-reading a reference file per
    probe, /root/reference/src/cpdd/matching.c:320-375). They carry no
    join hint: after the first join the candidate side also carries the
    ``a`` sets, and a hot band makes it far larger than the per-doc side,
    so the planner's sort-merge join (which can spill) is the safe choice.

    ``stored(conv_id, shingles, ..)``, when given, supplies the ``b`` sets
    instead of ``sets``: a table as large as a stored index, which must not
    be exchanged. ``stored`` then streams through two map-side joins, with
    the broadcast ``pairs`` on ``b`` and the broadcast ``a`` sets on ``a``,
    and its other columns (e.g. the stored ``cluster_id``) ride into the
    output after ``pairs``'. Each broadcast is bounded by its own side: a
    hot stored bucket adds thin ``(a, b)`` rows, and each ``a`` set ships
    once, not once per pair.

    A doc with an empty set (under w tokens) verifies to 0.0. LSH
    candidates never have one: they are screened to n_shingles > 0 before
    banding (cpdd_spark.lsh.band_buckets), and byte-identical short docs
    are the exact tier's jurisdiction everywhere in this engine.
    """
    sa = sets.select(F.col("conv_id").alias("a"), F.col("shingles").alias("sh_a"))
    if stored is None:
        sb = sets.select(F.col("conv_id").alias("b"), F.col("shingles").alias("sh_b"))
        joined, carried = pairs.join(sa, "a").join(sb, "b"), []
    else:
        carried = [c for c in stored.columns if c not in ("conv_id", "shingles")]
        sb = stored.select(
            F.col("conv_id").alias("b"), F.col("shingles").alias("sh_b"), *carried
        )
        joined = sb.join(F.broadcast(pairs), "b").join(F.broadcast(sa), "a")
    na, nb = F.size("sh_a"), F.size("sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (
        F.when((na == 0) | (nb == 0), F.lit(0.0))
        .otherwise(
            inter.cast("double") / (na + nb - inter).cast("double")
        )
        .alias("jaccard")
    )
    # extra columns on `pairs` ride through untouched
    return joined.select(*pairs.columns, *carried, jac).filter(
        F.col("jaccard") >= F.lit(cfg.tau)
    )
