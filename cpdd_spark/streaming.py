"""Structured Streaming: incremental exact dedup of arriving transcripts.

The reference is single-pass batch over a frozen snapshot
(/root/reference/README:250); its incrementality story is "rerun with
no-clobber" (copy.c:73-96). This module upgrades that to a streaming
micro-batch pipeline: new turn files land in a directory (stand-in for a
Kafka/Iceberg CDC source), each micro-batch assembles ONLY complete new
conversations, exact-matches them against the already-clustered corpus
(the reference index probe, matching.c:320-375), and appends cluster
assignments — arriving duplicates link to existing canonicals.

Uses ``foreachBatch`` because the dedup probe needs a join against the
mutable clusters table — the documented pattern for stateful sinks that
Structured Streaming's append-only model can't express natively. Watermarks
are not needed for exact dedup of whole conversations (a conversation is
complete by construction when its file lands); for turn-level streams with
LATE/out-of-order arrivals, :func:`assemble_stream` (watermark +
session_window, all built-in) and :func:`assemble_stream_stateful`
(``applyInPandasWithState``, EventTimeTimeout) assemble documents upstream
of the same dedup scaffold.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.cc import connected_components
from cpdd_spark.config import DedupConfig
from cpdd_spark.lsh import band_buckets, pairs_from_buckets
from cpdd_spark.signatures import (
    compute_signatures,
    minhash_from_sets,
    shingle_sets,
)
from cpdd_spark.verify import verify_pairs_sets

TURNS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


class IncrementalDedup:
    """Streaming exact-dedup into a clusters directory.

    ``clusters_dir`` holds the accumulated ``(conv_id, n_turns, doc_len,
    md5, xxh64, cluster_id)`` assignments; each micro-batch probes it and appends
    rows for new conversations (first-seen conv of new content becomes its
    own canonical — min-key-wins within the batch for determinism).

    ``near_index_dir`` enables the NEAR-duplicate tier (round-2 verdict
    item 6): alongside the exact probe, each micro-batch's fresh canonicals
    are MinHash-signed, LSH-probed against a persistent band index of every
    previously stored representative, exact-Jaccard verified, and linked to
    the matched representative's cluster — so an arriving near-duplicate
    (not byte-identical) joins the existing cluster instead of founding a
    new one. The index is append-only: ``{near_index_dir}/docs`` holds
    ``(conv_id, shingles, cluster_id)`` per stored representative — the
    doc's DISTINCT shingle-hash set (~8 B/shingle), never its text —
    ``{near_index_dir}/bands`` its ``(conv_id, band_id, band_hash)`` rows.
    Verification is therefore pure JVM (``verify_pairs_sets``:
    ``array_intersect`` over the stored arrays): no document text in the
    index, and no Python worker in the per-batch probe — the same shape the
    batch pipeline's verify stage uses (the stored set IS the digest cache,
    the analogue of cpdd never re-reading a reference file per probe,
    matching.c:320-375). A legacy round-3 index that stored raw ``doc``
    text is migrated transparently at read time (sets recomputed from the
    stored text) and persistently by :meth:`compact_index`.
    Scale shape: the probe is an equi-join on ``(band_id, band_hash)`` —
    at 10^12 turns the two directories become Iceberg tables bucketed on
    ``band_hash`` / ``conv_id`` and the join stays bucket-local; per-batch
    cost is O(batch x band collisions), never O(index).

    Determinism/immutability rules, mirroring the batch tiers: existing
    assignments are never rewritten (first-match-wins across time,
    matching.c:320-375); multi-matches resolve to the MINIMUM stored
    cluster_id; within-batch near-dup components (connected_components
    over verified batch edges) anchor on the minimum stored cluster any
    member linked to, else the minimum batch conv_id.
    """

    def __init__(
        self,
        spark: SparkSession,
        clusters_dir: str,
        near_index_dir: str | None = None,
        cfg: DedupConfig | None = None,
        cache_state: bool = True,
    ):
        self.spark = spark
        self.clusters_dir = clusters_dir
        self.near_index_dir = near_index_dir
        self.cfg = cfg or DedupConfig()
        # Per-batch state-read optimization. The round-5 bench traced a
        # large fixed cost per micro-batch to re-reading the clusters table
        # and both near-index tables from parquet with mergeSchema — a
        # footer scan of EVERY file in an ever-growing directory, repeated
        # per table per batch. With cache_state=True each table's column
        # set is resolved once (mergeSchema only on first contact) and
        # remembered, so steady-state batches issue plain schema-stable
        # reads: one directory listing, zero footer scans.
        #
        # DESIGN NOTE — why this is a schema cache and NOT a DataFrame
        # cache. The obvious stronger optimization (keep each state table
        # as a localCheckpointed DataFrame and union in the rows each batch
        # appends, never touching the filesystem) was built and then
        # REVERTED after profiling: Dataset.localCheckpoint STORES the
        # origin plan's estimated statistics into the new leaf, and
        # Catalyst's size estimator upper-bounds a join as the PRODUCT of
        # its children's sizeInBytes — so chaining checkpoint -> join ->
        # checkpoint across batches compounds the estimate doubly
        # exponentially. By batch ~9 of a 20k-conv drain the driver sat in
        # BigInteger.multiplyToomCook3 on numbers with millions of digits
        # (199 s of driver CPU in one stats walk; jstack-verified), every
        # broadcast decision re-paying it. Disk-backed reads keep leaf
        # stats equal to real file sizes, which is also the only honest
        # number at 10^12-turn scale.
        self.cache_state = cache_state
        self._schema_cache: dict[str, object] = {}
        # wall-clock attribution of the last processed batch, keyed by
        # stage (exact_out, sigs_kernel, bands, resolve, rep_docs,
        # index_append, clusters_append, total) — the per-batch metrics
        # the fixed-cost profiling works from; a few perf_counter calls,
        # zero plan impact
        self.last_timings: dict[str, float] = {}

    def _invalidate_cache(self) -> None:
        self._schema_cache = {}

    def _existing(self) -> DataFrame | None:
        try:
            if any(f.endswith(".parquet") for f in os.listdir(self.clusters_dir)):
                schema = self._schema_cache.get("clusters")
                if schema is not None:
                    return self.spark.read.schema(schema).parquet(self.clusters_dir)
                # mergeSchema: a directory migrated from the md5-only layout
                # mixes files with and without xxh64 — a plain read could
                # pick the narrow schema and silently drop the column
                df = self.spark.read.option("mergeSchema", "true").parquet(
                    self.clusters_dir
                )
                if "xxh64" not in df.columns:  # pure-legacy directory
                    # legacy rows exist (e.g. the directory was swapped
                    # out-of-band): the probe must keep the null-tolerant
                    # match + legacy-collapse aggregate
                    self._fresh_dir = False
                    df = df.withColumn("xxh64", F.lit(None).cast("long"))
                elif self.cache_state:
                    # full modern schema: every later batch (which only
                    # ever appends this schema) may skip the footer scans
                    self._schema_cache["clusters"] = df.schema
                return df
        except FileNotFoundError:
            pass
        return None

    def process_batch(self, turns: DataFrame, batch_id: int = 0) -> None:
        """Micro-batch of TURNS (whole conversations per file): assemble,
        then dedup. For turn-LEVEL streams where a conversation spans
        batches, assembly happens upstream with watermarks (see
        :meth:`start_turn_level`) and :meth:`process_docs` is the entry."""
        self.process_docs(assemble_documents(turns))

    def process_docs(self, documents: DataFrame, batch_id: int = 0) -> None:
        t_start = time.perf_counter()
        self.last_timings = {}
        # release a cache leaked by a batch that failed between the near
        # tier's persist and the clusters append (the happy path unpersists
        # at the end of _process_docs_inner; a raise in between would
        # otherwise accumulate executor memory across failed batches)
        stale = getattr(self, "_batch_persist", None)
        if stale is not None:
            stale.unpersist()
            self._batch_persist = None
        self._process_docs_inner(documents, batch_id)
        self.last_timings["total"] = time.perf_counter() - t_start

    def _process_docs_inner(self, documents: DataFrame, batch_id: int) -> None:
        # dual fingerprints: the cross-batch probe joins on BOTH hash
        # families (+ exact length/turn counts) — the same relaxed-verify
        # guarantee as exact_clusters(verify='fingerprint'): a wrong
        # assignment needs simultaneous md5+xxhash64 collisions at equal
        # length (~2^-192), vs the raw-md5 probe this replaces, which
        # silently trusted a single 128-bit family
        docs = (
            documents
            .withColumn("md5", F.md5("doc"))
            .withColumn("xxh64", F.xxhash64("doc"))
        )
        existing = self._existing()
        if existing is None:
            # a directory THIS instance saw empty can never hold legacy
            # md5-only rows: every row it will ever contain is a dual-hash
            # append from this code path — the probe below may then use
            # plain key equality and skip the legacy-collapse aggregate
            # (one exchange + hash aggregate per probing batch, r8)
            self._fresh_dir = True
        if existing is not None:
            # no-clobber: conversations already assigned are skipped
            docs = docs.join(
                existing.select("conv_id"), "conv_id", "left_anti"
            )
        # materialize the batch's assembled+hashed+filtered docs ONCE: the
        # exact-tier window/probe AND the near tier both consume this
        # frame, and its lineage (parquet scan -> assembly groupBy -> dual
        # hash -> anti-join) was being replayed per consumer — the largest
        # share of the per-batch fixed cost the r7 profile attributed
        # (micro-batch sized, so the checkpoint is cheap). When the near
        # tier is on, the batch's ONE Python pass — the minhash+sets
        # signature kernel — is FUSED into this same materialization
        # (passthrough columns), so no later stage of the batch dispatches
        # a Python worker at all: per-batch fixed cost is dominated by
        # driver action count (r7 event log: ~43 jobs x ~170 ms), and the
        # fusion deletes one Python stage + one checkpoint action.
        # Speculative cost: exact-duplicate rows get signed too; for
        # typical fresh-heavy batches that is zero waste, and a
        # pure-duplicate batch pays ~1.7 s single-core, parallelized.
        if self.near_index_dir is not None:
            # NOTE on partitioning: three A/Bs tried to force this stage
            # wider (explicit repartition to 32, shuffle_partitions=8,
            # AQE minPartitionSize=64k) and every one LOST to the
            # AQE-natural 4-8 partition layout — the extra text shuffle
            # plus more concurrent Python tasks cost more than the
            # parallelism buys at micro-batch sizes
            docs = compute_signatures(
                docs, self.cfg, with_sets=True, with_simhash=False,
                passthrough=["n_turns", "doc_len", "md5", "xxh64", "doc"],
            )
        if self.near_index_dir is not None:
            # near tier on: docs (with the fused signature columns) is
            # consumed by BOTH the exact-tier window/probe and the near
            # tier — materialize once so neither replays the lineage
            t0 = time.perf_counter()
            docs = docs.localCheckpoint(eager=True)
            self.last_timings["docs_ckpt"] = time.perf_counter() - t0
        # exact-only tier: docs flows through window -> probe -> append in
        # ONE action; the checkpoint here bought no reuse — it only added
        # a full extra materialization + driver action per micro-batch
        # (r8: one of the named per-batch fixed costs)
        # within-batch canonical: min conv_id per content (exact tier key)
        from pyspark.sql import Window

        grp = Window.partitionBy("n_turns", "doc_len", "md5", "doc")
        batch_assigned = docs.withColumn(
            "batch_canon", F.min("conv_id").over(grp)
        )
        if existing is not None:
            # probe the existing index on the exact key; prefer the existing
            # canonical (first-match-wins across time, matching.c:320-375)
            # min() (not dropDuplicates) so a replayed/duplicated index row
            # can never flip the assignment — deterministic across retries
            probe = (
                existing.groupBy(
                    F.col("n_turns").alias("e_nt"),
                    F.col("doc_len").alias("e_dl"),
                    F.col("md5").alias("e_md5"),
                    F.col("xxh64").alias("e_xxh"),
                )
                .agg(F.min("cluster_id").alias("e_cluster"))
            )
            if getattr(self, "_fresh_dir", False):
                # pure dual-hash directory (created empty by this
                # instance): the probe's groupBy key is unique per content
                # key and the equality join matches at most once, so no
                # legacy-collapse aggregate is needed — one exchange +
                # hash aggregate fewer per probing batch
                batch_assigned = batch_assigned.join(
                    probe,
                    (F.col("n_turns") == F.col("e_nt"))
                    & (F.col("doc_len") == F.col("e_dl"))
                    & (F.col("md5") == F.col("e_md5"))
                    & (F.col("xxh64") == F.col("e_xxh")),
                    "left",
                )
            else:
                batch_assigned = batch_assigned.join(
                    probe,
                    (F.col("n_turns") == F.col("e_nt"))
                    & (F.col("doc_len") == F.col("e_dl"))
                    & (F.col("md5") == F.col("e_md5"))
                    # legacy (pre-xxh64) index rows carry a null e_xxh:
                    # accept the md5-only match for those — the original
                    # guarantee — instead of null-comparing to false and
                    # re-canonicalizing known content under a new
                    # cluster_id
                    & (
                        F.col("e_xxh").isNull()
                        | (F.col("xxh64") == F.col("e_xxh"))
                    ),
                    "left",
                )
                # a content key present both as a legacy row and a
                # dual-hash row would match twice — collapse to the
                # minimum existing canonical
                batch_assigned = batch_assigned.groupBy(
                    "conv_id", "n_turns", "doc_len", "md5", "xxh64", "batch_canon"
                ).agg(F.min("e_cluster").alias("e_cluster"))
        else:
            batch_assigned = batch_assigned.withColumn("e_cluster", F.lit(None))
        out = batch_assigned.select(
            "conv_id",
            "n_turns",
            "doc_len",
            "md5",
            "xxh64",
            F.coalesce(F.col("e_cluster"), F.col("batch_canon")).alias("cluster_id"),
        )
        if self.near_index_dir is not None:
            out = self._near_resolve(
                out,
                docs.select("conv_id", "n_shingles", "minhash", "shingles"),
            )
        t0 = time.perf_counter()
        out.write.mode("append").parquet(self.clusters_dir)
        self.last_timings["clusters_append"] = time.perf_counter() - t0
        cached = getattr(self, "_batch_persist", None)
        if cached is not None:
            cached.unpersist()
            self._batch_persist = None

    def _index_dir(self, sub: str) -> str | None:
        """Resolve the on-disk directory for an index table, tolerating a
        crash mid-:meth:`compact_index` swap: prefer the live dir, else a
        fully-written ``__compact`` build, else the ``__old`` dir renamed
        aside. A surviving fallback dir is REPAIRED in place — promoted to
        the live name with one atomic rename — so a subsequent append
        cannot recreate the live dir beside it and shadow the stored
        representatives (a read-only fallback would reopen that recall
        hole one batch later)."""

        def has_parquet(d: str) -> bool:
            try:
                return any(f.endswith(".parquet") for f in os.listdir(d))
            except FileNotFoundError:
                return False

        base = os.path.join(self.near_index_dir, sub)
        if has_parquet(base):
            return base
        for cand in (base + "__compact", base + "__old"):
            if has_parquet(cand):
                try:
                    os.rename(cand, base)
                    return base
                except OSError:
                    return cand
        return None

    def _read_index(self, sub: str) -> DataFrame | None:
        path = self._index_dir(sub)
        return self.spark.read.parquet(path) if path is not None else None

    def _read_index_docs(self) -> DataFrame | None:
        """The stored-representative table ``(conv_id, shingles,
        cluster_id)``. A legacy round-3 index stored ``(conv_id, doc,
        cluster_id)`` raw text — migrate at read time by recomputing the
        shingle sets from the stored text (same one-time-migration
        discipline as the md5->dual-hash clusters upgrade above);
        :meth:`compact_index` makes the migration persistent. A directory
        that received new-format appends on top of legacy files is MIXED —
        mergeSchema surfaces both columns and each row converts by which
        one it carries.

        Once the directory is seen to be pure-modern, its schema is
        remembered (``cache_state``): every later read in this object's
        lifetime is a plain schema-stable scan — one listing, no
        mergeSchema footer scan of the whole growing directory per
        micro-batch (the dominant fixed cost the r5 stream bench
        measured). Appends only ever write the modern schema, so the
        pinned schema cannot go stale; compact_index() resets it anyway."""
        path = self._index_dir("docs")
        if path is None:
            return None
        schema = self._schema_cache.get("idx_docs")
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        idx = self.spark.read.option("mergeSchema", "true").parquet(path)
        if "doc" not in idx.columns:
            if self.cache_state:
                self._schema_cache["idx_docs"] = idx.schema
            return idx
        legacy = idx.filter(F.col("doc").isNotNull())
        migrated = shingle_sets(legacy.select("conv_id", "doc"), self.cfg).join(
            legacy.select("conv_id", "cluster_id"), "conv_id"
        )
        if "shingles" not in idx.columns:  # pure-legacy directory
            return migrated
        return (
            idx.filter(F.col("shingles").isNotNull())
            .select("conv_id", "shingles", "cluster_id")
            .unionByName(migrated)
        )

    def _near_resolve(self, out: DataFrame, docs_sigs: DataFrame) -> DataFrame:
        """Near-dup tier over the exact tier's output: link this batch's
        FRESH canonicals (cluster_id == conv_id, i.e. content the exact
        probe didn't recognize) to stored near-duplicate representatives,
        then append the batch's representatives to the index.

        Python (the fused Arrow signature kernel) runs exactly ONCE per
        batch — inside the docs checkpoint upstream (``docs_sigs`` is the
        already-materialized ``(conv_id, n_shingles, minhash, shingles)``
        projection of it) — so every plan here (band probe,
        ``verify_pairs_sets``, CC, index append) is pure JVM over stored
        arrays. No document text enters the index or the probe joins."""
        cfg = self.cfg
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        # barrier: `out` feeds the fresh-canonical filter, the remap join,
        # and the final write — materialize once (micro-batch sized; the
        # r7 profile A/B'd removing this checkpoint and the three replays
        # of the window+probe plan cost MORE than the one action saved).
        # The fresh-canonical count rides the SAME action as an
        # Observation (r8): the old form spent one more driver action per
        # batch on `sigs.rdd.isEmpty()` (plus an RDD conversion) just to
        # decide the empty-batch fast path — per-batch fixed cost IS
        # action count (the r7 event-log attribution).
        obs = Observation()
        out = out.observe(
            obs,
            F.sum(
                F.when(F.col("cluster_id") == F.col("conv_id"), 1).otherwise(0)
            ).alias("n_fresh"),
        ).localCheckpoint(eager=True)
        self.last_timings["exact_out"] = time.perf_counter() - t0
        # fresh canonicals' signatures: a slim JVM join of two
        # checkpointed frames — cheap enough to recompute per consumer
        t0 = time.perf_counter()
        sigs = (
            out.filter(F.col("cluster_id") == F.col("conv_id"))
            .select("conv_id")
            .join(docs_sigs, "conv_id")
        )
        self.last_timings["sigs_kernel"] = time.perf_counter() - t0
        if (obs.get["n_fresh"] or 0) == 0:
            # pure-duplicate batch: no fresh canonicals, so there is
            # nothing to probe, cluster, or index — skip the whole near
            # tier (the empty-frame probe/CC/append jobs cost ~2 s of pure
            # scheduler fixed cost per batch otherwise)
            self.last_timings["near_skipped"] = 1.0
            return out
        fresh_sets = sigs.select("conv_id", "shingles")
        # bands derive from the checkpointed sigs by pure JVM array ops —
        # cheap enough to recompute per consumer; checkpointing them was
        # one more per-batch driver action for no saved work
        bands = band_buckets(sigs, cfg)

        # --- cross-batch probe: batch bands vs stored representative bands
        idx_docs = self._read_index_docs()
        # a crash between the two index appends can leave bands without
        # docs (or, in a legacy pre-fix index, docs without bands): probe
        # only when BOTH halves exist; the replay re-appends the missing
        # half (see the write-order note below)
        idx_bands = self._read_index("bands") if idx_docs is not None else None

        # --- ONE fused verify over both candidate families (cross-batch
        # links tagged 'x', within-batch pairs tagged 'w'): the verify
        # join pipeline — the batch's most expensive JVM work — executes
        # once and is persisted; the old two-call form ran it twice
        batch_pairs = pairs_from_buckets(
            bands.select("conv_id", "band_id", "band_hash"),
            ["band_id", "band_hash"],
            cfg,
        ).withColumn("src", F.lit("w"))
        sets = fresh_sets
        if idx_docs is not None and idx_bands is not None:
            cand = (
                bands.select("conv_id", "band_id", "band_hash")
                .join(
                    idx_bands.select(
                        F.col("conv_id").alias("b"), "band_id", "band_hash"
                    ),
                    ["band_id", "band_hash"],
                )
                .select(F.col("conv_id").alias("a"), "b")
                .distinct()
                .withColumn("src", F.lit("x"))
            )
            batch_pairs = batch_pairs.unionByName(cand)
            sets = fresh_sets.unionByName(
                idx_docs.select("conv_id", "shingles")
            )
        verified = verify_pairs_sets(batch_pairs, sets, cfg).persist()
        # released by process_docs after the clusters append — the remap
        # join consumes `final`, whose lineage reads this cache
        self._batch_persist = verified

        links = None
        if idx_docs is not None and idx_bands is not None:
            # min stored cluster across all verified matches: deterministic
            # under replay and under multi-match
            links = (
                verified.filter(F.col("src") == "x")
                .join(
                    idx_docs.select(
                        F.col("conv_id").alias("b"),
                        F.col("cluster_id").alias("idx_cluster"),
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("idx_cluster").alias("idx_link"))
            )

        # --- within-batch near-dup components among fresh canonicals
        batch_edges = verified.filter(F.col("src") == "w").select("a", "b")
        t0 = time.perf_counter()
        comp = connected_components(
            batch_edges,
            vertices=fresh_sets.select("conv_id"),
            # the graph is bounded by the micro-batch size (and the LSH
            # bucket caps): driver union-find, one Arrow collect
            strategy="driver",
        ).withColumnRenamed("cluster_id", "comp_label")
        self.last_timings["cc"] = time.perf_counter() - t0

        # --- anchor each component on the minimum stored cluster any member
        # linked to; components with no stored link keep min batch conv_id
        if links is not None:
            with_links = comp.join(
                links.withColumnRenamed("a", "conv_id"), "conv_id", "left"
            )
            anchors = with_links.groupBy("comp_label").agg(
                F.min("idx_link").alias("anchor")
            )
            final = comp.join(anchors, "comp_label").select(
                "conv_id",
                F.coalesce("anchor", "comp_label").alias("final_cluster"),
            )
        else:
            final = comp.select(
                "conv_id", F.col("comp_label").alias("final_cluster")
            )
        # barrier: `final` feeds three consumers (two index appends + the
        # remap mapping), each of which would otherwise replay the
        # links/anchors join pipeline — A/B'd, the checkpoint wins
        t0 = time.perf_counter()
        final = final.localCheckpoint(eager=True)
        self.last_timings["resolve"] = time.perf_counter() - t0

        # --- append this batch's representatives to the index, labeled with
        # their FINAL cluster so future probes inherit through chains
        # (B~A stored as cluster A; later C~B links to A even if C !~ A).
        # Anti-join on already-stored ids: a replay after a crash between
        # the index append and the clusters append must not duplicate rows
        # (duplicates would still resolve identically via min(), but the
        # index should not bloat under retries). Write order matters:
        # bands FIRST — a crash between the appends then leaves band rows
        # whose doc rows are missing, and the replay (keyed on stored DOC
        # conv_ids) re-appends both halves: at worst duplicate band rows,
        # which the probe's .distinct() absorbs and compact_index removes.
        # The docs-first order would instead leave reps permanently
        # band-less (the replay would skip them) — a silent recall hole.
        rep_docs = fresh_sets.join(final, "conv_id").select(
            "conv_id", "shingles", F.col("final_cluster").alias("cluster_id")
        )
        if idx_docs is not None:
            rep_docs = rep_docs.join(
                idx_docs.select("conv_id"), "conv_id", "left_anti"
            )
        # rep_docs joins two checkpointed frames (sigs x final) — its two
        # append consumers recompute that join more cheaply than one more
        # eager checkpoint action costs
        t0 = time.perf_counter()
        bands.join(rep_docs.select("conv_id"), "conv_id", "left_semi").write.mode(
            "append"
        ).parquet(os.path.join(self.near_index_dir, "bands"))
        rep_docs.select("conv_id", "shingles", "cluster_id").write.mode(
            "append"
        ).parquet(os.path.join(self.near_index_dir, "docs"))
        self.last_timings["index_append"] = time.perf_counter() - t0

        # --- remap the exact tier's assignments through the near links
        mapping = final.select(
            F.col("conv_id").alias("m_canon"), "final_cluster"
        )
        return (
            out.join(mapping, out["cluster_id"] == F.col("m_canon"), "left")
            .select(
                "conv_id",
                "n_turns",
                "doc_len",
                "md5",
                "xxh64",
                F.coalesce("final_cluster", "cluster_id").alias("cluster_id"),
            )
        )

    def compact_index(self) -> dict[str, int] | None:
        """Near-index lifecycle: rewrite ``docs``/``bands`` keeping only
        the rows a probe can ever distinguish — run BETWEEN streaming runs
        (offline; no query may be appending concurrently).

        The append-only index accumulates (a) duplicate rows from crash
        replays, (b) duplicate/orphan band rows from a crash between the
        two appends, and (c) representatives whose ``(shingles,
        cluster_id)`` exactly duplicates another rep's — identical set
        implies identical minhash implies identical band collisions AND
        identical verify jaccard, so any probe matching the dropped rep
        matches the kept one with the same outcome. Compaction:

        1. ``docs``: one row per conv_id, then min conv_id per distinct
           ``(shingles, cluster_id)``;
        2. ``bands``: REBUILT from the compacted sets via
           :func:`cpdd_spark.signatures.minhash_from_sets` (bit-identical
           to the originally stored rows; also heals any band loss) — the
           reference's rebuild-per-run discipline (matching.c:255-318);
        3. a legacy raw-text index is persistently migrated to the
           ``shingles`` schema as a side effect.

        Both tables write to temp dirs first, then swap (live dir renamed
        aside before the promote). The two renames are not one atomic op,
        but every crash window leaves a complete index on disk under one of
        the candidate names (live, ``__old``, or fully-written
        ``__compact``) and the index readers fall back through all three —
        stored representatives are never silently lost. Returns
        ``{"docs_before", "docs_after", "bands_before", "bands_after"}``
        row counts (None when no index exists)."""
        import shutil

        idx_docs = self._read_index_docs()
        if idx_docs is None:
            return None
        idx_bands = self._read_index("bands")
        docs_before = idx_docs.count()
        bands_before = idx_bands.count() if idx_bands is not None else 0

        one_per_conv = idx_docs.groupBy("conv_id").agg(
            F.min("cluster_id").alias("cluster_id"),
            F.first("shingles").alias("shingles"),
        )
        docs = (
            one_per_conv.groupBy("shingles", "cluster_id")
            .agg(F.min("conv_id").alias("conv_id"))
            .select("conv_id", "shingles", "cluster_id")
            .localCheckpoint(eager=True)
        )
        bands = band_buckets(minhash_from_sets(docs, self.cfg), self.cfg)

        docs_dir = os.path.join(self.near_index_dir, "docs")
        bands_dir = os.path.join(self.near_index_dir, "bands")
        docs_tmp, bands_tmp = docs_dir + "__compact", bands_dir + "__compact"
        docs.write.mode("overwrite").parquet(docs_tmp)
        bands.write.mode("overwrite").parquet(bands_tmp)
        n_docs = self.spark.read.parquet(docs_tmp).count()
        n_bands = self.spark.read.parquet(bands_tmp).count()
        # swap: move the LIVE dir aside first, then promote the compacted
        # one, then delete the old — a crash at any point leaves either the
        # live dir, the __old dir, or the fully-built __compact dir on disk,
        # and _index_dir falls back through exactly those candidates, so no
        # crash window silently disables the probe (a plain rmtree+rename
        # had a no-dir-at-all window: stored reps lost, recall hole).
        # docs swaps before bands: mixed generations are safe in both orders
        # (bands are derived; dangling/missing band rows only ever reference
        # reps whose shingle-equivalent kept rep still has band rows).
        for tmp, dst in ((docs_tmp, docs_dir), (bands_tmp, bands_dir)):
            old = dst + "__old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.isdir(dst):
                os.rename(dst, old)
            os.rename(tmp, dst)
            shutil.rmtree(old, ignore_errors=True)
        # the on-disk tables just changed under the cross-batch cache:
        # drop it wholesale; the next batch reloads the compacted tables
        self._invalidate_cache()
        return {
            "docs_before": docs_before,
            "docs_after": n_docs,
            "bands_before": bands_before,
            "bands_after": n_bands,
        }

    def start(
        self,
        input_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 8,
    ) -> StreamingQuery:
        """File-source stream -> foreachBatch incremental dedup. The
        checkpoint dir gives exactly-once batch tracking (crash-resume:
        Spark replays uncommitted batches; process_batch's anti-join makes
        replays idempotent). ``max_files_per_trigger`` sets the batching
        granularity: larger batches amortize the per-micro-batch fixed
        cost (probe plans + index appends), 1 forces one batch per file
        (the worst-case latency shape scripts/stream_bench.py measures)."""
        stream = (
            self.spark.readStream.schema(TURNS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def start_turn_level(
        self,
        input_dir: str,
        checkpoint_dir: str,
        gap_seconds: int = 600,
        max_files_per_trigger: int = 8,
    ) -> StreamingQuery:
        """Turn-LEVEL stream -> watermarked stateful assembly -> incremental
        dedup: the full late-data path. Individual turns (out of order,
        split across files/batches) accumulate in per-conversation state
        (:func:`assemble_stream_stateful`); when the event-time watermark
        declares a conversation complete, the assembled document flows into
        the same exact/near dedup probe as the whole-file path
        (:meth:`process_docs`). One streaming query, end to end.

        Conversations whose states time out in the SAME micro-batch dedup
        against each other with min-conv_id-wins (the within-batch rule);
        across batches, first-completed-wins via the index probe — both
        deterministic."""
        stream = (
            self.spark.readStream.schema(TURNS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )
        assembled = assemble_stream_stateful(stream, gap_seconds=gap_seconds)
        return (
            assembled.writeStream.foreachBatch(
                lambda df, bid: self.process_docs(df, bid)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


# ---------------------------------------------------------------------------
# streaming document assembly: late/out-of-order turns -> documents
# ---------------------------------------------------------------------------

ASSEMBLED_SCHEMA = "conv_id string, n_turns long, doc_len long, doc string"


def assemble_stream(turns_stream: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Watermarked streaming assembly with BUILT-IN session windows: turns
    may arrive out of order and across micro-batches; a conversation is
    emitted once the event-time watermark passes its last turn's ``ts`` +
    ``gap`` (append mode — exactly-once rows, no updates).

    Semantics mirror :func:`cpdd_spark.assemble.assemble_documents` (stable
    ``turn_idx`` ordering via in-group ``array_sort``; '\\n' separator),
    with completion defined by EVENT-TIME gaps: a conversation quiet for
    ``gap`` is closed — the same session discipline as the batch
    sessionization query. A conversation resuming after a longer silence
    starts a NEW session row by design; use
    :func:`assemble_stream_stateful` when one state per conv_id must
    persist across arbitrary silences.

    Everything is built-in (watermark + session_window + object agg): no
    Python in the stream, state store managed by Spark, late rows beyond
    the watermark dropped with metrics — the preferred form at 10^12-turn
    scale.
    """
    from pyspark.sql import functions as F

    w = turns_stream.withWatermark("ts", gap)
    return (
        w.groupBy(F.session_window("ts", gap).alias("sw"), F.col("conv_id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
            ).alias("turns")
        )
        .select(
            "conv_id",
            F.size("turns").cast("long").alias("n_turns"),
            F.concat_ws("\n", F.transform("turns", lambda t: t["text"])).alias(
                "doc"
            ),
        )
        .withColumn("doc_len", F.length("doc").cast("long"))
        .select("conv_id", "n_turns", "doc_len", "doc")
    )


def assemble_stream_stateful(
    turns_stream: DataFrame, gap_seconds: int = 600
) -> DataFrame:
    """Custom stateful streaming assembly via ``applyInPandasWithState``
    (the escape hatch for semantics session_window can't express): ONE
    state per conv_id buffers (turn_idx, text) pairs across micro-batches;
    the conversation is emitted when the event-time watermark passes its
    latest turn + ``gap_seconds`` (EventTimeTimeout), regardless of how
    many batches or how out-of-order its turns arrived.

    State size is O(turns of in-flight conversations) — bounded by the
    timeout horizon, not the stream length. Output schema and assembly
    semantics are identical to the batch assembler (tested equal).

    CHECKPOINT COMPATIBILITY: the state struct is ``(idxs, texts,
    max_ts)``; releases before max_ts was added stored 2 fields, and
    Spark's state-schema compatibility check rejects a resume from such a
    checkpoint. Discard the old checkpoint dir (or point the stream at a
    fresh one, e.g. ``checkpoint_v2``) and reprocess the input — the dedup
    tier's anti-join replay makes the reprocessing idempotent. (The near
    INDEX migrates transparently; the in-flight assembly STATE cannot.)
    """
    import pandas as pd

    gap_ms = gap_seconds * 1000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            idxs, texts, _ = state.get
            order = sorted(range(len(idxs)), key=lambda i: (idxs[i], texts[i]))
            doc = "\n".join(texts[i] for i in order)
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [len(idxs)],
                    "doc_len": [len(doc)],
                    "doc": [doc],
                }
            )
            return
        idxs, texts, max_ts = state.get if state.exists else ([], [], 0)
        # max over STORED and batch event-times: a micro-batch carrying only
        # LATE turns for an existing conversation must not rewind the
        # timeout below last-seen-turn + gap (that would close the
        # conversation early and split it across duplicate conv_id rows)
        max_ts = int(max_ts or 0)
        for pdf in pdfs:
            idxs = list(idxs) + [int(x) for x in pdf["turn_idx"]]
            texts = list(texts) + [str(x) for x in pdf["text"]]
            batch_max = pd.to_datetime(pdf["ts"]).max()
            if pd.notna(batch_max):
                max_ts = max(max_ts, int(batch_max.value // 1_000_000))
        state.update((idxs, texts, max_ts))
        # event-time timeout: fires when the WATERMARK (not wall clock)
        # passes last-turn-ts + gap — deterministic under replay
        state.setTimeoutTimestamp(max_ts + gap_ms)
        yield from ()

    return (
        turns_stream.withWatermark("ts", f"{gap_seconds} seconds")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=ASSEMBLED_SCHEMA,
            stateStructType="idxs array<int>, texts array<string>, max_ts long",
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
