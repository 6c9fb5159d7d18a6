"""The batch dedup cascade and its resumable pipeline (P12).

One cascade clusters exact and near-duplicate documents::

    docs -> exact_clusters -> reps -> signatures -> verified_pairs ---+
                                           +-> [substring_pairs] ---+-> clusters

:func:`cascade` runs it and :func:`near_pairs` its LSH candidates ->
exact-Jaccard verify core. The ``signatures`` stage is the cascade's only
pass over document text: it emits the MinHash and shingle sets the near
tier reads and, with substring on, the winnowed fingerprints and R-gram
sets the substring tier reads. Both functions take a ``store(name,
compute)`` callable that decides how each named intermediate is kept; it is
the only thing that differs between callers:

- :class:`DedupPipeline` stores each intermediate as a committed stage
  table (Iceberg on a cluster, parquet here via :class:`cpdd_spark.io.TableIO`).
  A stage whose table is committed is reused on rerun — the reference's
  no-clobber semantics (``should_overwrite``, copy.c:73-96) — and a killed
  run leaves no commit for the in-flight stage, so the rerun recomputes
  exactly that stage and everything downstream (``cleanup_incomplete_file``,
  copy.c:28-67). Lineage rows (one per committed part file, its footer
  row count) and per-stage metrics generalize ``stats_t``
  (include/cpdd.h:61-69): collected on the driver as each stage commits,
  with no Spark job, and written once per run, one lineage and one
  metrics append, even when the run raises;
- queries and benchmark scripts use :func:`session_cache`, which persists
  each intermediate and releases all of them once the caller's result is
  materialized.

The fuzzy tiers run over exact-cluster representatives only, so identical
documents collapse before any signature work (the reference scans its
reference set once for all sources, copy.c:465-483).
"""

from __future__ import annotations

import json
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
from cpdd_spark.io import LINEAGE_SCHEMA, METRICS_SCHEMA, TableIO
from cpdd_spark.lsh import candidate_pairs
from cpdd_spark.signatures import compute_signatures
from cpdd_spark.substring import substring_pairs
from cpdd_spark.textfuncs import human_bytes
from cpdd_spark.verify import verify_pairs_sets

# the signature columns near_pairs reads
NEAR_OUTPUTS = ("minhash", "shingles")

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


def near_pairs(sigs: DataFrame, cfg: DedupConfig, store: Store) -> DataFrame:
    """Signed documents ``(conv_id, n_shingles, minhash, shingles)`` ->
    verified ``(a, b, jaccard)`` pairs with jaccard >= ``cfg.tau``.

    Band collisions give the candidates, and the verify is pure JVM
    ``array_intersect`` over the stored shingle sets. The candidate list is
    checkpointed eagerly: that one job fills a kept ``sigs`` before both
    verify join sides read it."""
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
    ``clusters(conv_id, cluster_id)``: exact tier, one text-kernel pass
    over its representatives, near pairs and the optional winnowed
    substring pass over the signed table, and connected components over
    the union of their edges. Exact members are spliced back through the
    exact edges: a member's shingle set is its rep's."""
    carry = ("doc",) if cfg.exact_verify == "bytes" else ()
    exact = store(
        "exact_clusters",
        lambda: exact_clusters(
            docs, lazy_hash=False, verify=cfg.exact_verify, keep=carry
        ),
    )
    reps = representatives(docs, exact, cfg)
    # the one pass over the text; no SimHash: nothing here reads it
    outputs = NEAR_OUTPUTS + (("fps", "rset") if substring else ())
    sigs = store("signatures", lambda: compute_signatures(reps, cfg, outputs))
    edges = exact_pairs(exact).unionByName(near_pairs(sigs, cfg, store).select("a", "b"))
    if substring:
        substr = store("substring_pairs", lambda: substring_pairs(sigs, cfg))
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
        # (stage, t_start, t_end, part-file row counts) per computed stage
        self._committed: list[tuple[str, float, float, list[int]]] = []

    # ---- bookkeeping ----------------------------------------------------

    def _record(self) -> None:
        """Append this run's lineage and metrics — ``stats_t`` generalized
        (include/cpdd.h:61-69, increments copy.c:267-333) — with one
        lineage append and one metrics append, and no other Spark job.

        ``run`` calls this once, in a ``finally``, over every stage the run
        committed (``_stage`` collects them on the driver), so a run that
        raises still records the stages it committed; a fully resumed run
        writes nothing. A SIGKILLed run records no metrics, like the
        reference, whose ``print_statistics`` runs only at exit
        (cpdd.c:60 -> copy.c:172-191).

        A lineage row is one committed part file: ``partition_id`` is its
        ordinal in path order and ``rows`` its footer row count; the
        metrics ``rows`` is the stage's footer sum. The rows travel as ONE
        JSON string literal, parsed and exploded in the JVM over
        ``range(1)``: no per-row literal expressions (a py4j round trip
        each) and no Python RDD (``createDataFrame`` over a list would
        start a second Python worker pool to unpickle it).
        """
        committed, self._committed = self._committed, []
        if not committed:
            return
        lineage = [
            {"stage": stage, "partition_id": i, "rows": n, "run_id": self.run_id}
            for stage, _t0, _t1, rows in committed
            for i, n in enumerate(rows)
        ]
        metrics = [
            {"stage": stage, "rows": sum(rows), "t_start": t0, "t_end": t1,
             "seconds": t1 - t0, "run_id": self.run_id}
            for stage, t0, t1, rows in committed
        ]
        # run_id partitioning: appends only ever CREATE a new partition
        # directory (never touch prior runs' files), and reading one run's
        # rows partition-prunes every other run
        for table, rows, schema in (
            ("lineage", lineage, LINEAGE_SCHEMA),
            ("metrics", metrics, METRICS_SCHEMA),
        ):
            frame = self.spark.range(1).select(
                F.inline(F.from_json(F.lit(json.dumps(rows)), f"array<struct<{schema}>>"))
            )
            self.io.append(frame, table, partition_by=["run_id"])

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
        table derived from a stale upstream must not be trusted.

        A computed stage's bookkeeping is collected on the driver: its
        start and end times and the footer row count of each committed
        part file, for :meth:`_record`."""
        if resume and not self._dirty and self.io.exists(name):
            self.stage_log.append((name, "resumed"))
            return self.io.read(name)
        self._dirty = True
        t0 = time.time()
        self.io.write(compute(), name, partition_by=partition_by)
        self._committed.append((name, t0, time.time(), self.io.file_rows(name)))
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
            return self._stage(name, compute, resume)

        try:
            docs = self._stage("documents", lambda: assemble_documents(turns), resume)
            clusters = cascade(docs, cfg, store, self.enable_substring)
            if link_mode == "materialize":
                self._stage(
                    "clusters_docs",
                    lambda: materialize_clusters(clusters, docs),
                    resume,
                )
        finally:
            self._record()
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
