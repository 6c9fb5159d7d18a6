"""Connected components over the verified-pair edge list (P10).

Generalizes the reference's first-match-wins transitive grouping
(/root/reference/src/cpdd/matching.c:320-375): cpdd links every duplicate to
one canonical reference file; with fuzzy edges the duplicate relation is no
longer transitive by construction, so we take the transitive closure
explicitly — each component's minimum conv_id becomes the canonical
``cluster_id`` (same "min key is the link target" convention as the exact
tier).

Algorithm: iterative min-label propagation WITH pointer jumping. Each round
(1) every vertex adopts the minimum label in its closed neighborhood (one
hop), then (2) labels are shortcut through themselves — label(v) :=
label(label(v)) — so label chains halve every round and convergence is
O(log diameter) rounds rather than O(diameter), the same doubling idea as
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14). Each round is two shuffles (neighbor agg +
jump join); ``localCheckpoint`` truncates the growing lineage so the plan
doesn't deepen across iterations — the iterative-join analogue of the
reference's crash-safe stage boundaries (copy.c:28-67).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_labels(a, b):
    """Connected components of the edge list ``(a[i], b[i])`` on the
    driver: ``(ids, labels)`` where ``ids`` holds the sorted distinct ids
    and ``labels[i]`` the minimum id of ``ids[i]``'s component.

    Every step is vectorized (this hop is SERIAL time in the pipeline —
    a per-edge Python loop measured ~2-3 s at 400k edges, this ~0.2 s):
    ids are factorized against the SORTED unique array so integer code
    order == lexicographic id order, then min-label propagation with full
    pointer jumping per sweep converges in O(log n) O(E) sweeps to the
    min-id root of each component — the same first-match-wins convention
    as everywhere else. A self-edge ``(v, v)`` makes ``v`` a vertex.
    """
    import numpy as np

    uniq = np.unique(np.concatenate([a, b]))  # sorted: code order == id order
    ca = np.searchsorted(uniq, a)
    cb = np.searchsorted(uniq, b)
    lab = np.arange(len(uniq), dtype=np.int64)
    while True:
        before = lab.copy()
        m = np.minimum(lab[ca], lab[cb])
        np.minimum.at(lab, ca, m)
        np.minimum.at(lab, cb, m)
        while True:  # pointer jumping: label chains halve per pass
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, before):
            break
    return uniq, uniq[lab]


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact CC on the driver — one Arrow collect, :func:`min_labels`.

    Only used below the byte bound: the dup-pair edge list is typically
    orders of magnitude smaller than the corpus (pairs are O(duplicates),
    not O(documents)), and at that size 8-10 distributed label-propagation
    jobs cost more in scheduling latency than one collect. Above the bound
    the distributed loop takes over — the 100 TB path never collects.
    """
    spark = edges.sparkSession
    import pandas as pd

    # Arrow-batched collect: toLocalIterator deserializes row-at-a-time and
    # measured ~10s for 330k edges; toPandas is ~1s for the same
    pdf = edges.select("a", "b").toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], "conv_id string, cluster_id string")
    ids, labels = min_labels(pdf["a"].to_numpy(), pdf["b"].to_numpy())
    # ship the result back through Arrow (pandas input) — the list-of-tuples
    # createDataFrame path pickles row-by-row (~3-4 s at 400k vertices vs
    # <1 s via Arrow)
    return spark.createDataFrame(pd.DataFrame({"conv_id": ids, "cluster_id": labels}))


# Driver path bound, in BYTES (not rows): the collect materializes
# ~(id bytes + ~100 B of Python-object overhead) per edge, and the result
# createDataFrame roughly doubles it. A fixed row cap either starves the
# fast path (short ids) or blows the heap (long ids); the byte estimate
# keeps the driver hop bounded at ~2x this figure regardless of id shape.
#
# This is a HEAP-SAFETY bound, NOT a latency crossover: scripts/cc_bench.py
# measured driver union-find 2.2-2.5x FASTER than the distributed rounds
# even at ~420 MB estimated on this host (single-node, no NIC hop — a real
# cluster's collect pays network, but the distributed rounds pay per-round
# shuffles, and the measured gap held at every tested size; see
# BENCH/BASELINE.md). So the bound scales with the configured driver
# memory when a session is available (`_driver_cc_bound`): mem/16 leaves
# ~8x headroom over the ~2x materialization factor, floored at the
# conservative 64 MB default for unknown/small drivers and capped at 1 GB
# (beyond that the collect TIME, not the heap, dominates the decision and
# deserves an explicit strategy='driver' opt-in).
DRIVER_CC_MAX_BYTES = 64 << 20
_DRIVER_CC_CAP_BYTES = 1 << 30
_PY_STR_OVERHEAD = 100  # bytes per edge beyond the raw id characters
# cap on the distributed min-label + pointer-jump rounds, which converge
# in O(log diameter) rounds
MAX_ROUNDS = 25

_MEM_UNITS = {"k": 10, "m": 20, "g": 30, "t": 40}


def _driver_cc_bound(spark) -> int:
    """Driver union-find byte bound, scaled to ``spark.driver.memory``."""
    try:
        mem = str(spark.conf.get("spark.driver.memory", "1g")).strip().lower()
        if mem.endswith("b"):
            mem = mem[:-1]
        shift = _MEM_UNITS.get(mem[-1], 0)
        mem_bytes = int(mem[:-1] if shift else mem) << shift
    except Exception:
        return DRIVER_CC_MAX_BYTES
    return max(DRIVER_CC_MAX_BYTES, min(mem_bytes // 16, _DRIVER_CC_CAP_BYTES))


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    strategy: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """``edges(a, b)`` [+ optional ``vertices(conv_id)``] ->
    ``clusters(conv_id, cluster_id)``.

    ``stats``: pass a dict to receive ``{"strategy": used, "rounds": n}``
    (rounds = executed min-label+pointer-jump iterations; 0 for the
    driver path) — the observability hook the scale bench reads to
    confirm the O(log diameter) round bound.

    Vertices absent from ``edges`` (singletons) keep themselves as
    cluster_id when ``vertices`` is supplied.

    ``strategy``: 'auto' (driver union-find when the edge list is small,
    distributed rounds otherwise), 'distributed', or 'driver'.
    """
    spark = edges.sparkSession

    if strategy == "driver":
        # explicit driver opt-in: the caller vouches the edge list is
        # driver-sized (e.g. a bounded micro-batch's within-batch graph),
        # so skip the sizing aggregate — the union-find's single Arrow
        # collect is the only action
        if stats is not None:
            stats.update(strategy="driver", rounds=0)
        clusters = _driver_union_find(edges)
        if vertices is not None:
            singles = (
                vertices.select("conv_id")
                .join(clusters, "conv_id", "left_anti")
                .withColumn("cluster_id", F.col("conv_id"))
            )
            clusters = clusters.unionByName(singles)
        return clusters

    if strategy != "distributed":
        # persist the (small, O(dup-pairs)) edge list across the two driver
        # hops — the sizing aggregate and the collect otherwise each replay
        # the full union of upstream pair frames (one measured re-scan of
        # serial time per run)
        edges = edges.persist()
        # one aggregate sizes the collect: row count AND id width (the
        # count() the auto strategy needs anyway, upgraded for free)
        sized = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.length("a") + F.length("b")).alias("avg_id_bytes"),
        ).collect()[0]
        n_edges = sized["n"] or 0
        est_bytes = n_edges * (int(sized["avg_id_bytes"] or 0) + _PY_STR_OVERHEAD)
        if est_bytes <= _driver_cc_bound(spark):
            if stats is not None:
                stats.update(strategy="driver", rounds=0)
            clusters = _driver_union_find(edges)
            edges.unpersist()
            if vertices is not None:
                singles = (
                    vertices.select("conv_id")
                    .join(clusters, "conv_id", "left_anti")
                    .withColumn("cluster_id", F.col("conv_id"))
                )
                clusters = clusters.unionByName(singles)
            return clusters

    # --- vertex encoding: the rounds below shuffle the whole edge and
    # label tables O(log diameter) times; conv_id-width string keys make
    # every one of those shuffles hash, compare, and ship ~38-byte keys.
    # Encode vertices ONCE to dense ORDER-PRESERVING int64 codes (sorted
    # rank), run every round on 8-byte longs, decode at the end. Order
    # preservation keeps the engine-wide convention intact: min(code) ==
    # min(conv_id), so the final label decodes to the component's minimum
    # conv_id exactly as before. The rank is computed without a global
    # window or a Python RDD hop: range-partition sort, then
    # monotonically_increasing_id's per-partition counter plus
    # driver-collected per-partition offsets (#partitions rows) — the
    # standard distributed zip-with-index, scale-safe at any size.
    str_sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if strategy != "distributed":
        edges.unpersist()  # sym is checkpointed; the sized edge cache is done

    verts = str_sym.select(F.col("src").alias("conv_id")).distinct().sort("conv_id")
    with_pid = verts.select(
        "conv_id",
        F.spark_partition_id().alias("pid"),
        F.monotonically_increasing_id().alias("mono"),
    ).localCheckpoint(eager=True)
    counts = {
        r["pid"]: r["n"]
        for r in with_pid.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()] or [(0, 0)],
            "pid int, offset long",
        )
    )
    # local rank within a partition: row_number over the mono id needs
    # only monotonicity-within-partition (documented behavior), NOT the
    # internal (pid << 33) + counter bit layout the previous
    # ``mono - pid * 2^33`` recovery depended on — a layout change there
    # would have silently collided vids (ADVICE r7). The window sorts
    # already-ordered partitions, so the cost is a no-op pass.
    from pyspark.sql import Window

    local_rank = (
        F.row_number().over(Window.partitionBy("pid").orderBy("mono")) - 1
    )
    vmap = with_pid.join(off_df, "pid").select(
        "conv_id",
        (F.col("offset") + local_rank).alias("vid"),
    ).localCheckpoint(eager=True)

    sym = (
        str_sym.join(vmap.hint("shuffle_hash"), str_sym["src"] == vmap["conv_id"])
        .select(F.col("vid").alias("src"), "dst")
        .join(vmap.hint("shuffle_hash"), F.col("dst") == vmap["conv_id"])
        .select("src", F.col("vid").alias("dst"))
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("src").alias("conv_id")).distinct()
    labels = nodes.withColumn("label", F.col("conv_id")).localCheckpoint(eager=True)

    from pyspark.sql import Observation

    rounds = 0
    for _ in range(MAX_ROUNDS):
        rounds += 1
        # (1) one-hop: adopt the min label in the closed neighborhood
        nbr_min = (
            sym.join(labels, sym["src"] == labels["conv_id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            nbr_min, labels["conv_id"] == nbr_min["dst"], "left"
        ).select(
            "conv_id",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # (2) pointer jump: label(v) := label(label(v)) — every label is
        # itself a vertex, so the mapping join is total where it matters
        lmap = stepped.select(
            F.col("conv_id").alias("pj_id"), F.col("label").alias("pj_label")
        )
        # convergence detection is FUSED into the jump round: the previous
        # label rides along as old_label and an Observation aggregates the
        # changed-count inside the SAME job the localCheckpoint runs — the
        # old formulation spent one extra join+count Spark job per round
        # (O(log diameter) wasted jobs per CC call) on nothing else.
        obs = Observation()
        jumped = (
            stepped.join(lmap, stepped["label"] == lmap["pj_id"], "left")
            .select(
                "conv_id",
                "old_label",
                F.coalesce(F.col("pj_label"), F.col("label")).alias("label"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") != F.col("old_label"), 1).otherwise(0)
                ).alias("n_changed"),
            )
            .select("conv_id", "label")
            .localCheckpoint(eager=True)
        )
        labels = jumped
        if (obs.get["n_changed"] or 0) == 0:
            break

    if stats is not None:
        stats.update(strategy="distributed", rounds=rounds)
    # decode int64 codes back to conv_ids (order-preserving encoding, so
    # the min-label is the min conv_id of the component)
    id_dec = vmap.select(F.col("vid").alias("v_id"), F.col("conv_id").alias("v_conv"))
    lab_dec = vmap.select(F.col("vid").alias("l_id"), F.col("conv_id").alias("l_conv"))
    clusters = (
        labels.join(id_dec, labels["conv_id"] == F.col("v_id"))
        .join(lab_dec, labels["label"] == F.col("l_id"))
        .select(
            F.col("v_conv").alias("conv_id"),
            F.col("l_conv").alias("cluster_id"),
        )
    )
    if vertices is not None:
        singles = (
            vertices.select("conv_id")
            .join(clusters, "conv_id", "left_anti")
            .withColumn("cluster_id", F.col("conv_id"))
        )
        clusters = clusters.unionByName(singles)
    return clusters
