"""Structured Streaming: incremental exact and near dedup of arriving transcripts.

New turn files land in a directory (a stand-in for a Kafka/Iceberg CDC
source). Each micro-batch assembles only the complete new conversations,
probes them against the already-clustered corpus (the reference's index
probe, matching.c:320-375) and appends their cluster assignments, so an
arriving duplicate links to its existing canonical. The reference itself is
single-pass batch over a frozen snapshot; its incremental story is a rerun
with no-clobber (copy.c:73-96).

``foreachBatch`` carries the dedup because the probe joins against mutable
state tables, which Structured Streaming's append-only model cannot express.
Whole-conversation files need no watermark: a conversation is complete when
its file lands. For turn-level streams with late or out-of-order arrivals,
:func:`assemble_stream_stateful` (``applyInPandasWithState``) assembles
documents upstream of the same probe.

The stream's state is three parquet tables with one declared schema each:
:data:`CLUSTERS_SCHEMA`, and the near index's :data:`INDEX_DOCS_SCHEMA` and
:data:`INDEX_BANDS_SCHEMA`. Every batch reads them with that schema, so a
read is a directory listing plus the part files' footers, and no Spark
job. A directory in an older layout is not migrated: the footers show it
and the batch fails, before its first job, with an error naming the
rebuild (:data:`REBUILD_COMMAND`). The rebuild replays the turn files into
fresh directories in the batches they arrived in, which reproduces the
assignments because the dedup rules are first-match-wins and min-conv_id.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.cc import min_labels
from cpdd_spark.config import DedupConfig
from cpdd_spark.io import part_footers
from cpdd_spark.lsh import band_buckets, pairs_from_buckets
from cpdd_spark.signatures import compute_signatures, minhash_from_sets
from cpdd_spark.verify import verify_pairs_sets

TURNS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
CLUSTERS_SCHEMA = (
    "conv_id string, n_turns long, doc_len long, md5 string, xxh64 long, "
    "cluster_id string"
)
CLUSTERS_COLUMNS = [c.split()[0] for c in CLUSTERS_SCHEMA.split(", ")]
INDEX_DOCS_SCHEMA = "conv_id string, shingles array<bigint>, cluster_id string"
INDEX_BANDS_SCHEMA = "conv_id string, band_id int, band_hash int"
# state table -> (declared schema, the column an older layout lacks)
STATE_TABLES = {
    "clusters": (CLUSTERS_SCHEMA, "xxh64"),
    "docs": (INDEX_DOCS_SCHEMA, "shingles"),
    "bands": (INDEX_BANDS_SCHEMA, None),
}
REBUILD_COMMAND = (
    "python -m cpdd_spark --stream --input <turns dir> --workdir <fresh>"
)


def _has_parquet(d: str) -> bool:
    try:
        return any(f.endswith(".parquet") for f in os.listdir(d))
    except FileNotFoundError:
        return False


def _footer_rows(path: str) -> int:
    return sum(f.rows for f in part_footers(path).values())


class IncrementalDedup:
    """Streaming exact and near dedup into a clusters directory.

    ``clusters_dir`` accumulates ``(conv_id, n_turns, doc_len, md5, xxh64,
    cluster_id)`` rows. Each micro-batch probes it and appends rows for its
    new conversations: new content's first-seen conversation becomes its own
    canonical, and within a batch the minimum conv_id wins.

    ``near_index_dir`` enables the near-duplicate tier. The batch's fresh
    canonicals are MinHash-signed, LSH-probed against a band index of every
    stored representative, exact-Jaccard verified, and linked to the matched
    representative's cluster. The index is append-only: ``docs`` holds
    ``(conv_id, shingles, cluster_id)`` per stored representative (its
    distinct shingle-hash set, never its text) and ``bands`` its ``(conv_id,
    band_id, band_hash)`` rows. Verification is pure JVM
    (``verify_pairs_sets``: ``array_intersect`` over the stored sets), the
    same shape as the batch pipeline's verify.

    A near-tier batch runs six actions: the docs checkpoint (its one Python
    pass), the exact tier's checkpoint, one driver collect of the verified
    edges and links (components and anchors resolve on the driver, the
    result returns as one Arrow frame), and the bands, docs and clusters
    appends; a batch without the near tier runs the docs checkpoint and
    the clusters append. Every join with stored state broadcasts the batch
    side, so per-batch shuffle is O(batch x band collisions); the stored
    tables are still scanned, so per-batch input stays O(index) until the
    directories are bucketed on their join keys (``band_hash`` /
    ``conv_id``, Iceberg tables at 10^12 turns) and a scan prunes to the
    buckets a batch holds.

    The state is re-read from disk every batch rather than kept as
    checkpointed frames, because a checkpointed leaf keeps its origin plan's
    estimated size and chained join estimates then compound across batches
    until the driver stalls in the statistics walk.

    Determinism: existing assignments are never rewritten (first match wins
    across time, matching.c:320-375); multi-matches resolve to the minimum
    stored cluster_id; a within-batch near-duplicate component anchors on
    the minimum stored cluster any member linked to, else its minimum
    conv_id.
    """

    def __init__(
        self,
        spark: SparkSession,
        clusters_dir: str,
        near_index_dir: str | None = None,
        cfg: DedupConfig | None = None,
    ):
        self.spark = spark
        self.clusters_dir = clusters_dir
        self.near_index_dir = near_index_dir
        self.cfg = cfg or DedupConfig()
        # wall seconds of the last batch per phase: docs_ckpt, exact_out,
        # resolve (the one collect), cc (the driver resolve and its Arrow
        # frame), index_append, clusters_append, total; perf_counter reads
        # around actions the batch runs anyway
        self.last_timings: dict[str, float] = {}
        # part files whose footers passed the older-layout check: a part
        # file is never rewritten, so each batch reads only new footers
        self._checked: set[str] = set()

    def _read_state(self, path: str, table: str) -> DataFrame:
        """State ``table`` at ``path``, read with its declared schema: a
        listing plus the part files' footers on the driver, no job.

        The column an older layout lacks (``xxh64`` in md5-only clusters
        rows, ``shingles`` in raw-text index docs) must be in every part
        file's schema, and a flat one must have a footer null count of 0
        (a list column's leaf null count also counts empty sets, so only
        its presence is checked). Otherwise the batch fails here, before
        its first job, whether or not any candidate of the batch would
        read the offending rows. Footers that passed are remembered, so a
        batch reads only those of the part files appended since."""
        schema, required = STATE_TABLES[table]
        if required is not None:
            footers = part_footers(path, required, skip=self._checked)
            if any(required not in f.columns or f.nulls != 0 for f in footers.values()):
                raise ValueError(
                    f"{path} has rows without {required}, an older stream "
                    "state layout. Rebuild the state by replaying the turn "
                    "files into fresh directories with one run of "
                    f"{REBUILD_COMMAND} (plus --near-index <fresh> for a "
                    "near index) per original batch, adding that batch's "
                    "files to <turns dir> before each run: the CLI drains up "
                    "to 8 files per batch, and files merged into one batch "
                    "can pick different canonicals"
                )
            self._checked.update(footers)
        return self.spark.read.schema(schema).parquet(path)

    def _existing(self) -> DataFrame | None:
        if not _has_parquet(self.clusters_dir):
            return None
        return self._read_state(self.clusters_dir, "clusters")

    def process_batch(self, turns: DataFrame, batch_id: int = 0) -> None:
        """Micro-batch of TURNS (whole conversations per file): assemble,
        then dedup. For turn-LEVEL streams where a conversation spans
        batches, assembly happens upstream with watermarks (see
        :meth:`start_turn_level`) and :meth:`process_docs` is the entry."""
        self.process_docs(assemble_documents(turns))

    def process_docs(self, documents: DataFrame, batch_id: int = 0) -> None:
        t_start = time.perf_counter()
        self.last_timings = {}
        self._process_docs_inner(documents, batch_id)
        self.last_timings["total"] = time.perf_counter() - t_start

    def _process_docs_inner(self, documents: DataFrame, batch_id: int) -> None:
        # dual fingerprints: the cross-batch probe joins on BOTH hash
        # families plus exact length and turn count, the guarantee of
        # exact_clusters(verify='fingerprint'): a wrong assignment needs
        # simultaneous md5 and xxhash64 collisions at equal length (~2^-192)
        docs = (
            documents
            .withColumn("md5", F.md5("doc"))
            .withColumn("xxh64", F.xxhash64("doc"))
        )
        existing = self._existing()
        if self.near_index_dir is not None:
            # read (and layout-check) the index before the batch's first job
            idx_docs = self._read_index("docs")
            idx_bands = self._read_index("bands") if idx_docs is not None else None
            # the batch's one Python pass (the minhash + shingle-set kernel)
            # rides the docs checkpoint as passthrough columns, so no later
            # plan of the batch starts a Python worker. Exact duplicates and
            # replayed conversations get signed too; a fresh-heavy batch
            # wastes nothing by it.
            docs = compute_signatures(
                docs, self.cfg, ("minhash", "shingles"),
                passthrough=["n_turns", "doc_len", "md5", "xxh64", "doc"],
            )
        # materialize docs once, so every join with the stored state can
        # broadcast the batch's keys without recomputing the batch
        t0 = time.perf_counter()
        docs = docs.localCheckpoint(eager=True)
        self.last_timings["docs_ckpt"] = time.perf_counter() - t0
        out = self._exact_assign(docs, existing)
        if self.near_index_dir is not None:
            out = self._near_resolve(out, idx_docs, idx_bands)
        t0 = time.perf_counter()
        out.select(*CLUSTERS_COLUMNS).write.mode("append").parquet(self.clusters_dir)
        self.last_timings["clusters_append"] = time.perf_counter() - t0

    def _exact_assign(self, docs: DataFrame, existing: DataFrame | None) -> DataFrame:
        """``docs`` without the conversations already assigned (no-clobber),
        plus each one's exact-tier ``cluster_id``: the stored canonical of
        its content if any (first match wins across time), else the
        minimum conv_id of its content within the batch.

        ``docs`` is materialized, so each join with the stored clusters
        first semi-joins them on a broadcast of the batch's keys. The
        stored rows are still scanned, but only those the batch holds
        reach an exchange."""
        batch = docs

        def stored(keys: list[str]) -> DataFrame:
            return existing.join(F.broadcast(batch.select(*keys)), keys, "left_semi")

        if existing is not None:
            docs = docs.join(stored(["conv_id"]).select("conv_id"), "conv_id", "left_anti")
        grp = Window.partitionBy("n_turns", "doc_len", "md5", "doc")
        docs = docs.withColumn("batch_canon", F.min("conv_id").over(grp))
        if existing is None:
            return docs.withColumn("cluster_id", F.col("batch_canon"))
        # min(), not dropDuplicates, so a replayed row never flips an
        # assignment
        keys = ["n_turns", "doc_len", "md5", "xxh64"]
        probe = stored(keys).groupBy(*keys).agg(F.min("cluster_id").alias("e_cluster"))
        return docs.join(probe, keys, "left").withColumn(
            "cluster_id", F.coalesce("e_cluster", "batch_canon")
        )

    def _index_dir(self, sub: str) -> str | None:
        """Resolve the on-disk directory for an index table, tolerating a
        crash mid-:meth:`compact_index` swap: prefer the live dir, else a
        fully-written ``__compact`` build, else the ``__old`` dir renamed
        aside. A surviving fallback dir is REPAIRED in place — promoted to
        the live name with one atomic rename — so a subsequent append
        cannot recreate the live dir beside it and shadow the stored
        representatives (a read-only fallback would reopen that recall
        hole one batch later)."""
        base = os.path.join(self.near_index_dir, sub)
        if _has_parquet(base):
            return base
        for cand in (base + "__compact", base + "__old"):
            if _has_parquet(cand):
                try:
                    os.rename(cand, base)
                    return base
                except OSError:
                    return cand
        return None

    def _read_index(self, sub: str) -> DataFrame | None:
        """Index table ``docs`` or ``bands``, None before its first append."""
        path = self._index_dir(sub)
        return self._read_state(path, sub) if path is not None else None

    def _near_resolve(
        self,
        out: DataFrame,
        idx_docs: DataFrame | None,
        idx_bands: DataFrame | None,
    ) -> DataFrame:
        """Near-dup tier over the exact tier's output: link this batch's
        FRESH canonicals (cluster_id == conv_id, i.e. content the exact
        probe didn't recognize) to stored near-duplicate representatives,
        append the batch's representatives to the index, and return
        ``out`` with its assignments remapped through the links.

        ``out`` carries the signature columns of the docs checkpoint, so
        every plan here (band probe, ``verify_pairs_sets``, index appends)
        is pure JVM over arrays and no document text enters it. Two actions
        run here before the index appends:

        1. ``out`` is checkpointed, counting its fresh canonicals;
        2. ONE collect brings the fresh canonical ids, the verified
           within-batch edges, the verified cross-batch links ``(a, stored
           cluster_id)`` and the fresh ids the index already stores (a
           replay) to the driver, where :func:`resolve_batch` computes
           components and anchors. The result returns as one Arrow
           ``createDataFrame``. The collect is O(fresh canonicals +
           verified pairs) of one micro-batch.

        Each join with the stored index broadcasts the batch side (the band
        probe, the stored sets, the stored ids): the index is scanned, but
        only its rows that meet the batch reach an exchange."""
        cfg = self.cfg

        t0 = time.perf_counter()
        # barrier: `out` feeds the fresh filter, the appends and the remap,
        # and the fresh-canonical count rides the same action
        obs = Observation()
        out = out.select(
            *CLUSTERS_COLUMNS, "n_shingles", "minhash", "shingles"
        ).observe(
            obs,
            F.sum(
                F.when(F.col("cluster_id") == F.col("conv_id"), 1).otherwise(0)
            ).alias("n_fresh"),
        ).localCheckpoint(eager=True)
        self.last_timings["exact_out"] = time.perf_counter() - t0
        if (obs.get["n_fresh"] or 0) == 0:
            # pure-duplicate batch: no fresh canonicals, so there is
            # nothing to probe, cluster or index
            self.last_timings["near_skipped"] = 1.0
            return out
        fresh = out.filter(F.col("cluster_id") == F.col("conv_id"))
        fresh_sets = fresh.select("conv_id", "shingles")
        # bands derive from the checkpoint by pure JVM array ops, cheap
        # enough to recompute per consumer
        bands = band_buckets(fresh, cfg)

        def tagged(kind: str, a: str, b: str | None = None) -> list:
            return [
                F.lit(kind).alias("kind"),
                F.col(a).alias("a"),
                (F.col(b) if b else F.lit(None).cast("string")).alias("b"),
            ]

        release: list = []
        within = verify_pairs_sets(
            pairs_from_buckets(
                bands.select("conv_id", "band_id", "band_hash"),
                ["band_id", "band_hash"],
                cfg,
                release=release,
            ),
            fresh_sets,
            cfg,
        )
        collected = fresh.select(*tagged("v", "conv_id")).unionByName(
            within.select(*tagged("w", "a", "b"))
        )
        if idx_docs is not None:
            # replay: fresh ids the index already stores are not re-appended
            replayed = idx_docs.join(
                F.broadcast(fresh.select("conv_id")), "conv_id", "left_semi"
            )
            collected = collected.unionByName(replayed.select(*tagged("s", "conv_id")))
        if idx_bands is not None:
            # bands are appended before docs, so stored docs imply stored bands
            cand = (
                idx_bands.select(F.col("conv_id").alias("b"), "band_id", "band_hash")
                .join(
                    F.broadcast(
                        bands.select(F.col("conv_id").alias("a"), "band_id", "band_hash")
                    ),
                    ["band_id", "band_hash"],
                )
                .select("a", "b")
                .distinct()
            )
            links = verify_pairs_sets(cand, fresh_sets, cfg, stored=idx_docs)
            collected = collected.unionByName(links.select(*tagged("x", "a", "cluster_id")))
        t0 = time.perf_counter()
        try:
            batch_rows = collected.toPandas()
        finally:
            for df in release:
                df.unpersist()
        self.last_timings["resolve"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        final = self.spark.createDataFrame(
            resolve_batch(batch_rows),
            "conv_id string, final_cluster string, indexed boolean",
        )
        self.last_timings["cc"] = time.perf_counter() - t0

        # --- append this batch's representatives to the index, labeled with
        # their FINAL cluster so future probes inherit through chains
        # (B~A stored as cluster A; later C~B links to A even if C !~ A).
        # Representatives the index already stores are skipped: a replay
        # after a crash between the index append and the clusters append
        # must not duplicate rows (duplicates would still resolve
        # identically via min(), but the index should not bloat under
        # retries). Write order matters: bands FIRST — a crash between the
        # appends then leaves band rows whose doc rows are missing, and the
        # replay (keyed on stored DOC conv_ids) re-appends both halves: at
        # worst duplicate band rows, which the probe's .distinct() absorbs
        # and compact_index removes. The docs-first order would instead
        # leave reps permanently band-less (the replay would skip them) —
        # a silent recall hole.
        new = F.broadcast(final.filter(~F.col("indexed")))
        t0 = time.perf_counter()
        bands.join(new.select("conv_id"), "conv_id", "left_semi").write.mode(
            "append"
        ).parquet(os.path.join(self.near_index_dir, "bands"))
        fresh_sets.join(new, "conv_id").select(
            "conv_id", "shingles", F.col("final_cluster").alias("cluster_id")
        ).write.mode("append").parquet(os.path.join(self.near_index_dir, "docs"))
        self.last_timings["index_append"] = time.perf_counter() - t0

        # --- remap the exact tier's assignments through the near links
        mapping = F.broadcast(
            final.select(F.col("conv_id").alias("m_canon"), "final_cluster")
        )
        return out.join(mapping, out["cluster_id"] == F.col("m_canon"), "left").withColumn(
            "cluster_id", F.coalesce("final_cluster", "cluster_id")
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
           reference's rebuild-per-run discipline (matching.c:255-318).

        An index in an older layout fails here as in a batch, before
        anything is written.

        Both tables write to temp dirs first, then swap (live dir renamed
        aside before the promote). The two renames are not one atomic op,
        but every crash window leaves a complete index on disk under one of
        the candidate names (live, ``__old``, or fully-written
        ``__compact``) and the index readers fall back through all three —
        stored representatives are never silently lost. Returns
        ``{"docs_before", "docs_after", "bands_before", "bands_after"}``
        row counts, read from the part files' footers (None when no index
        exists)."""
        import shutil

        docs_path = self._index_dir("docs")
        if docs_path is None:
            return None
        idx_docs = self._read_state(docs_path, "docs")
        bands_path = self._index_dir("bands")
        docs_before = _footer_rows(docs_path)
        bands_before = _footer_rows(bands_path) if bands_path is not None else 0

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
        n_docs, n_bands = _footer_rows(docs_tmp), _footer_rows(bands_tmp)
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
        cost (six actions and their broadcasts with the near tier, and
        scans of the stored tables), 1 forces one batch per file (the
        worst-case latency shape; the benchmark's stream_incremental
        workload drains its micro-batches that way)."""
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


def resolve_batch(rows):
    """The near tier's driver resolve over a batch's one collect.

    ``rows`` is a pandas frame of ``(kind, a, b)`` string rows: ``v`` names
    a fresh canonical ``a``; ``w`` a verified within-batch edge ``a - b``;
    ``x`` a verified link of fresh ``a`` to the stored cluster ``b``; ``s``
    a fresh ``a`` the index already stores. Duplicate rows are harmless.

    Returns ``(conv_id, final_cluster, indexed)``, one row per fresh
    canonical in conv_id order. A component of the ``w`` graph anchors on
    the minimum stored cluster any member links to, else on its minimum
    conv_id (first match wins across time, min within a batch);
    ``indexed`` marks the ``s`` ids."""
    import numpy as np
    import pandas as pd

    kind = rows["kind"].to_numpy()
    fresh = rows["a"].to_numpy()[kind == "v"]
    edges = rows[kind == "w"]
    # self-edges make every fresh canonical a vertex
    ids, comp = min_labels(
        np.concatenate([fresh, edges["a"].to_numpy()]),
        np.concatenate([fresh, edges["b"].to_numpy()]),
    )
    comp_of = pd.Series(comp, index=ids)
    links = rows[kind == "x"]
    anchor = (
        pd.Series(links["b"].to_numpy(), index=comp_of.loc[links["a"]].to_numpy())
        .groupby(level=0)
        .min()
    )
    final = pd.Series(comp).map(anchor)
    return pd.DataFrame(
        {
            "conv_id": ids,
            "final_cluster": final.where(final.notna(), pd.Series(comp)),
            "indexed": np.isin(ids, rows["a"].to_numpy()[kind == "s"]),
        }
    )


# ---------------------------------------------------------------------------
# streaming document assembly: late/out-of-order turns -> documents
# ---------------------------------------------------------------------------

ASSEMBLED_SCHEMA = "conv_id string, n_turns long, doc_len long, doc string"


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
    tier's anti-join replay makes the reprocessing idempotent.
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
