"""Command-line driver: ``python -m cpdd_spark`` (R19).

The transcript-pipeline analogue of cpdd's CLI
(/root/reference/src/cpdd/args.c:64-232, option-for-option where the
concept survives the translation to tables):

==============================  ==========================================
cpdd (file tree)                cpdd_spark (transcript tables)
==============================  ==========================================
``SOURCE... DESTINATION``       ``--input DIR...`` (turn parquet dirs,
                                unioned — R2 multi-source) / ``--workdir``
``-r/--reference DIR``          the workdir's accumulated stage tables ARE
                                the reference index (probe-on-resume)
``-L/-s`` (hard/symbolic link)  ``--link materialize|edges`` (copy content
                                vs emit pointer rows)
``-n/--no-clobber``             ``--no-resume`` OFF by default: committed
                                stages are never overwritten (resume)
``-i/--interactive``            ``-i`` with ``--no-resume``: confirm before
                                overwriting committed stage tables (one
                                prompt per run — the overwrite unit is a
                                table, not a file; non-TTY stdin refuses)
``-p/--preserve``               ``--preserve`` (carry role/tool/ts structs
                                through assembly, R14)
``--stats`` / ``-h``            ``--stats`` (disposition summary with
                                human-readable bytes, R16)
``-v``                          ``-v`` (Spark log level INFO instead of
                                WARN)
==============================  ==========================================
"""

from __future__ import annotations

import argparse
import sys

from cpdd_spark.config import DedupConfig


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="cpdd_spark",
        description="Transcript-scale near-duplicate detection and clustering",
    )
    p.add_argument(
        "--input", action="append", required=True,
        help="turns parquet directory (repeatable; sources are unioned)",
    )
    p.add_argument("--workdir", required=True, help="stage-table directory")
    p.add_argument(
        "--link", choices=["edges", "materialize"], default="edges",
        help="clusters output mode: pointer rows or canonical-doc copies",
    )
    p.add_argument(
        "--no-resume", action="store_true",
        help="recompute every stage even if committed output exists",
    )
    p.add_argument(
        "--no-substring", action="store_true",
        help="skip the winnowed substring pass. Its signature columns are "
        "then not written, so turning the pass on for an existing workdir "
        "needs --no-resume",
    )
    p.add_argument(
        "--preserve", action="store_true",
        help="carry per-turn role/tool/ts metadata into the documents table",
    )
    p.add_argument(
        "--stream", action="store_true",
        help="incremental streaming dedup: treat the (single) --input as a "
        "watched turns directory; new files are micro-batched, probed "
        "against the accumulated clusters index, and appended (availableNow "
        "trigger: drains what exists, up to 8 files per micro-batch, then "
        "exits — rerun to pick up more). To replay turn files into fresh "
        "directories, e.g. to rebuild an older state layout, run once per "
        "original batch: files merged into one batch can pick different "
        "canonicals",
    )
    p.add_argument(
        "--near-index", metavar="DIR", default=None,
        help="with --stream: enable the NEAR-duplicate probe tier, storing "
        "the representative band/doc index in DIR",
    )
    p.add_argument(
        "--turn-level", action="store_true",
        help="with --stream: treat arriving files as TURN-level (a "
        "conversation's turns may arrive out of order across files/"
        "batches); watermarked stateful assembly closes a conversation "
        "once event time passes its last turn + --gap-seconds, then the "
        "document flows through the same dedup probe. Rerun to flush "
        "states pending on the restored watermark. NOTE: the per-"
        "conversation state schema gained a max_ts field; checkpoints "
        "written by earlier releases (2-field state) fail Spark's state-"
        "schema compatibility check on resume — restart those streams "
        "with a FRESH checkpoint dir (reprocess the input; the dedup "
        "index/anti-join keeps the output idempotent)",
    )
    p.add_argument(
        "--gap-seconds", type=int, default=600,
        help="with --turn-level: event-time quiet gap that completes a "
        "conversation (default 600)",
    )
    p.add_argument(
        "--compact-index", action="store_true",
        help="with --stream + --near-index: after the stream drains, "
        "compact the near index (dedupe representatives, rebuild bands "
        "from stored shingle sets) — run between streaming runs, never "
        "concurrently with one",
    )
    p.add_argument(
        "-i", "--interactive", action="store_true",
        help="with --no-resume: ask before overwriting committed stage "
        "tables (cpdd -i at table granularity — one confirmation per run, "
        "since the overwrite unit here is a stage table, not a file); "
        "refuses on a non-interactive stdin instead of silently "
        "overwriting",
    )
    p.add_argument("--stats", action="store_true", help="print dedup statistics")
    p.add_argument("--tau", type=float, default=None, help="Jaccard threshold")
    p.add_argument(
        "--exact-verify", choices=["bytes", "fingerprint"], default="bytes",
        help="exact-tier verification: 'bytes' groups on the full document "
        "(cpdd's byte-verify, bit-for-bit) — 'fingerprint' groups on "
        "md5+xxhash64+length (~50 B/doc shuffled instead of the corpus "
        "text; identical clusters, the at-scale mode)",
    )
    p.add_argument("--master", default="local[*]", help="Spark master URL")
    p.add_argument("-v", "--verbose", action="count", default=0)
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)

    from cpdd_spark.pipeline import DedupPipeline
    from cpdd_spark.session import get_spark

    cfg_kwargs = {"exact_verify": args.exact_verify}
    if args.tau is not None:
        cfg_kwargs["tau"] = args.tau
    cfg = DedupConfig(**cfg_kwargs)
    owns_session = spark is None
    if owns_session:
        spark = get_spark(master=args.master, app_name="cpdd_spark_cli")
    if args.verbose:
        spark.sparkContext.setLogLevel("INFO")
    try:
        if args.stream:
            import os

            from cpdd_spark.streaming import IncrementalDedup

            if len(args.input) != 1:
                print("--stream takes exactly one --input directory", file=sys.stderr)
                return 2
            clusters_dir = os.path.join(args.workdir, "clusters")
            dedup = IncrementalDedup(
                spark, clusters_dir, near_index_dir=args.near_index, cfg=cfg
            )
            ckpt = os.path.join(args.workdir, "checkpoint")
            if args.turn_level:
                dedup.start_turn_level(
                    args.input[0], ckpt, gap_seconds=args.gap_seconds
                ).awaitTermination()
            else:
                dedup.start(args.input[0], ckpt).awaitTermination()
            if args.compact_index and args.near_index:
                res = dedup.compact_index()
                if res is not None:
                    print(
                        "near index compacted: docs "
                        f"{res['docs_before']} -> {res['docs_after']}, bands "
                        f"{res['bands_before']} -> {res['bands_after']}"
                    )
            # an empty watch dir runs zero micro-batches and never creates
            # clusters_dir: report 0 rows instead of a read traceback
            if os.path.isdir(clusters_dir):
                n = spark.read.parquet(clusters_dir).count()
            else:
                n = 0
            print(f"streaming clusters index: {n} rows -> {clusters_dir}")
            return 0
        if args.interactive and args.no_resume:
            # cpdd's -i prompt (/root/reference/src/cpdd/args.c:161-174,
            # copy.c:73-96) before clobbering existing outputs. The
            # overwrite unit is a committed stage table, so the prompt is
            # per run; EOF/non-TTY answers 'no', like getchar() on a
            # closed stdin.
            from cpdd_spark.io import TableIO

            probe = TableIO(spark, args.workdir)
            committed = [
                s for s in (
                    "documents", "exact_clusters", "signatures",
                    "verified_pairs", "substring_pairs", "clusters",
                    "clusters_docs", "documents_meta",
                )
                if probe.exists(s)
            ]
            if committed:
                names = ", ".join(committed)
                if not sys.stdin.isatty():
                    print(
                        f"cpdd_spark: refusing to overwrite {len(committed)} "
                        f"committed stage table(s) in {args.workdir} "
                        f"({names}): -i with non-interactive stdin",
                        file=sys.stderr,
                    )
                    return 2
                reply = input(
                    f"overwrite {len(committed)} committed stage table(s) "
                    f"in {args.workdir} ({names})? [y/N] "
                )
                if reply.strip().lower() not in ("y", "yes"):
                    print("aborted", file=sys.stderr)
                    return 2
        turns = spark.read.parquet(*args.input)
        if args.preserve:
            # materialize a metadata-preserving documents table alongside
            # the pipeline's lean one (R14)
            from cpdd_spark.assemble import assemble_documents
            from cpdd_spark.io import TableIO

            io = TableIO(spark, args.workdir)
            # no-clobber like every pipeline stage: a committed metadata
            # table is reused unless --no-resume forces recompute
            if args.no_resume or not io.exists("documents_meta"):
                io.write(
                    assemble_documents(turns, keep_metadata=True),
                    "documents_meta",
                )
        pipe = DedupPipeline(
            spark, args.workdir, cfg=cfg, enable_substring=not args.no_substring
        )
        clusters = pipe.run(turns, resume=not args.no_resume, link_mode=args.link)
        n = clusters.count()
        print(f"clusters table committed: {n} rows -> {args.workdir}/clusters")
        for stage, how in pipe.stage_log:
            print(f"  stage {stage}: {how}")
        if args.stats:
            for r in pipe.stats().collect():
                print(
                    f"  {r['disposition']}: {r['convs']} convs, "
                    f"{r['bytes']} bytes ({r['bytes_h']})"
                )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
