"""The batch dedup cascade and its resumable pipeline (P12).

One cascade clusters exact and near-duplicate documents::

    docs -> exact_clusters -> reps -> signatures -> verified_pairs -+
                                  +-> [substring_pairs] ------------+-> clusters

:func:`cascade` runs it and :func:`near_pairs` its signatures -> LSH
candidates -> exact-Jaccard verify core. Both take a ``store(name,
compute)`` callable that decides how each named intermediate is kept; it is
the only thing that differs between callers:

- :class:`DedupPipeline` stores each intermediate as a committed stage
  table (Iceberg on a cluster, parquet here via :class:`cpdd_spark.io.TableIO`).
  A stage whose table is committed is reused on rerun — the reference's
  no-clobber semantics (``should_overwrite``, copy.c:73-96) — and a killed
  run leaves no commit for the in-flight stage, so the rerun recomputes
  exactly that stage and everything downstream (``cleanup_incomplete_file``,
  copy.c:28-67). Per-stage metrics and per-partition lineage rows
  generalize ``stats_t`` (include/cpdd.h:61-69);
- queries and benchmark scripts use :func:`session_cache`, which persists
  each intermediate and releases all of them once the caller's result is
  materialized.

The fuzzy tiers run over exact-cluster representatives only, so identical
documents collapse before any signature work (the reference scans its
reference set once for all sources, copy.c:465-483).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.cc import connected_components
from cpdd_spark.config import DedupConfig
from cpdd_spark.exact import exact_clusters, exact_pairs
from cpdd_spark.io import TableIO
from cpdd_spark.lsh import candidate_pairs
from cpdd_spark.signatures import compute_signatures
from cpdd_spark.substring import substring_pairs
from cpdd_spark.textfuncs import human_bytes
from cpdd_spark.verify import verify_pairs_sets

# store(name, compute) -> the kept intermediate compute() builds
Store = Callable[[str, Callable[[], DataFrame]], DataFrame]


@contextmanager
def session_cache() -> Iterator[Store]:
    """A :data:`Store` that persists each intermediate and, when the block
    exits, unpersists every one of them — materialize the caller's result
    (e.g. ``localCheckpoint(eager=True)``) inside the block. A long-lived
    session running many queries thus accumulates no cached blocks."""
    kept: list[DataFrame] = []

    def store(name: str, compute: Callable[[], DataFrame]) -> DataFrame:
        kept.append(compute().persist())
        return kept[-1]

    try:
        yield store
    finally:
        # dependents first, so no release re-plans a still-cached consumer
        for df in reversed(kept):
            df.unpersist()


def near_pairs(docs: DataFrame, cfg: DedupConfig, store: Store) -> DataFrame:
    """``documents(conv_id, doc)`` -> verified ``(a, b, jaccard)`` pairs with
    jaccard >= ``cfg.tau``.

    One fused Arrow pass emits each doc's MinHash signature and its distinct
    shingle-hash set (no SimHash: nothing here reads it, and it is the
    priciest part of the kernel). Band collisions give the candidates, and
    the verify is pure JVM ``array_intersect`` over the stored sets. The
    candidate list is checkpointed eagerly: that one job fills the kept
    signatures before both verify join sides read them."""
    sigs = store(
        "signatures",
        lambda: compute_signatures(docs, cfg, with_sets=True, with_simhash=False),
    )
    return store(
        "verified_pairs",
        lambda: verify_pairs_sets(
            candidate_pairs(sigs, cfg), sigs.select("conv_id", "shingles"), cfg
        ),
    )


def representatives(docs: DataFrame, exact: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Each exact cluster's canonical document ``(conv_id, doc, ..)``. In
    ``bytes`` mode the exact tier carries the doc text (it is in the window
    key anyway), so this is a filter; in ``fingerprint`` mode the text never
    shuffles through that window and is joined back instead."""
    reps = exact.filter(F.col("conv_id") == F.col("cluster_id"))
    if cfg.exact_verify == "bytes":
        return reps.select("conv_id", "doc")
    return docs.join(reps.select("conv_id"), "conv_id")


def cascade(
    docs: DataFrame, cfg: DedupConfig, store: Store, substring: bool = True
) -> DataFrame:
    """``documents(conv_id, n_turns, doc_len, doc)`` ->
    ``clusters(conv_id, cluster_id)``: exact tier, near pairs over its
    representatives, the optional winnowed substring pass, and connected
    components over the union of their edges. Exact members are spliced
    back through the exact edges: a member's shingle set is its rep's."""
    carry = ("doc",) if cfg.exact_verify == "bytes" else ()
    exact = store(
        "exact_clusters",
        lambda: exact_clusters(
            docs, lazy_hash=False, verify=cfg.exact_verify, keep=carry
        ),
    )
    reps = representatives(docs, exact, cfg)
    edges = exact_pairs(exact).unionByName(near_pairs(reps, cfg, store).select("a", "b"))
    if substring:
        substr = store("substring_pairs", lambda: substring_pairs(reps, cfg))
        edges = edges.unionByName(substr.select("a", "b"))
    return store(
        "clusters",
        lambda: connected_components(edges, vertices=exact.select("conv_id")),
    )


def materialize_clusters(clusters: DataFrame, docs: DataFrame) -> DataFrame:
    """R12 link-type 'hard/copy' mode (link_type_t,
    /root/reference/include/cpdd.h:46-50; copy_or_link copy.c:242-338):
    every cluster member row carries its CANONICAL's document content, so
    downstream consumers read deduplicated bytes without resolving edges —
    the storage analogue of cpdd materializing a link/copy per duplicate
    file. The default 'edges' mode emits only (conv_id, cluster_id) rows
    (cpdd's soft-link/none analogue: pointer, no content).

    One join, canonical side grouped first: the docs table is probed once
    per distinct canonical, then fanned out to members — no doc ever
    shuffles per-member."""
    canon_docs = docs.select(
        F.col("conv_id").alias("cluster_id"), F.col("doc").alias("canonical_doc")
    )
    return clusters.join(canon_docs, "cluster_id").select(
        "conv_id", "cluster_id", "canonical_doc"
    )


class DedupPipeline:
    """Resumable transcript dedup over a working directory of stage tables."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: DedupConfig = DedupConfig(),
        enable_substring: bool = True,
    ):
        self.spark = spark
        self.cfg = cfg
        self.io = TableIO(spark, workdir)
        self.enable_substring = enable_substring
        self.run_id = uuid.uuid4().hex[:12]
        self.stage_log: list[tuple[str, str]] = []  # (stage, 'computed'|'resumed')
        self._dirty = False  # an upstream stage recomputed -> downstream stale

    # ---- bookkeeping ----------------------------------------------------

    def _record(self, stage: str, t0: float) -> None:
        """Append metrics (stage totals) + lineage (per-partition rows) —
        stats_t generalized (include/cpdd.h:61-69, increments copy.c:267-333).
        """
        lineage = (
            self.io.read(stage)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("run_id", F.lit(self.run_id))
            .withColumn("stage", F.lit(stage))
            .select("run_id", "stage", "partition_id", "rows")
        )
        # run_id partitioning: appends only ever CREATE a new partition
        # directory (never touch prior runs' files), and reading one run's
        # rows partition-prunes every other run
        self.io.append(lineage, "lineage", partition_by=["run_id"])
        n = lineage.agg(F.sum("rows")).collect()[0][0] or 0
        metrics = self.spark.createDataFrame(
            [(self.run_id, stage, int(n), float(t0), time.time())],
            "run_id string, stage string, rows long, t_start double, t_end double",
        ).withColumn("seconds", F.col("t_end") - F.col("t_start"))
        self.io.append(metrics, "metrics", partition_by=["run_id"])

    def _stage(
        self,
        name: str,
        compute,
        resume: bool,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """No-clobber stage execution: existing committed output is reused
        (should_overwrite semantics, copy.c:73-96). Once any stage recomputes
        in this run, every DOWNSTREAM stage recomputes too — a committed
        table derived from a stale upstream must not be trusted."""
        if resume and not self._dirty and self.io.exists(name):
            self.stage_log.append((name, "resumed"))
            return self.io.read(name)
        self._dirty = True
        t0 = time.time()
        self.io.write(compute(), name, partition_by=partition_by)
        self._record(name, t0)
        self.stage_log.append((name, "computed"))
        return self.io.read(name)

    # ---- the pipeline ----------------------------------------------------

    def run(
        self, turns: DataFrame, resume: bool = True, link_mode: str = "edges"
    ) -> DataFrame:
        """turns -> final ``clusters(conv_id, cluster_id)`` table.

        ``link_mode='materialize'`` additionally writes a ``clusters_docs``
        table with each member's canonical document (see
        :func:`materialize_clusters`); ``'edges'`` writes pointers only.
        """
        if link_mode not in ("edges", "materialize"):
            raise ValueError(f"link_mode must be 'edges' or 'materialize', got {link_mode!r}")
        cfg = self.cfg

        def store(name: str, compute: Callable[[], DataFrame]) -> DataFrame:
            if name == "clusters":
                # R15 dest-tree analogue (copy.c:196-239): the clusters
                # table lands hash-bucketed on conv_id (Iceberg
                # bucket(conv_id) spec via io.write(partition_by)), so
                # member lookups and conv_id joins prune to one bucket
                return self._stage(
                    name,
                    lambda: compute().withColumn(
                        "part_bucket",
                        F.pmod(F.crc32("conv_id"), F.lit(cfg.output_buckets)).cast("int"),
                    ),
                    resume,
                    partition_by=["part_bucket"],
                )
            table = self._stage(name, compute, resume)
            if name == "signatures" and "shingles" not in table.columns:
                # a committed table from a run before signatures carried
                # shingle sets: recompute it (and, as for any recompute,
                # everything downstream) instead of failing in verify
                self.stage_log.pop()
                table = self._stage(name, compute, resume=False)
            return table

        docs = self._stage("documents", lambda: assemble_documents(turns), resume)
        clusters = cascade(docs, cfg, store, self.enable_substring)
        if link_mode == "materialize":
            self._stage(
                "clusters_docs",
                lambda: materialize_clusters(clusters, docs),
                resume,
            )
        return clusters

    # ---- reporting --------------------------------------------------------

    def stats(self) -> DataFrame:
        """Dedup disposition summary — print_statistics analogue
        (copy.c:131-191): canonical docs are 'copied', duplicate members are
        'linked', bytes_linked is the storage the dedup saves."""
        clusters = self.io.read("clusters")
        docs = self.io.read("documents").select("conv_id", "doc_len")
        return (
            clusters.join(docs, "conv_id")
            .withColumn(
                "disposition",
                F.when(F.col("conv_id") == F.col("cluster_id"), "canonical").otherwise(
                    "duplicate"
                ),
            )
            .groupBy("disposition")
            .agg(
                F.count(F.lit(1)).alias("convs"),
                F.sum("doc_len").alias("bytes"),
            )
            .withColumn("bytes_h", human_bytes("bytes"))
        )
