"""The workloads: corpus sizes, the production entry points they drive,
and the traced variants of each (perfbench/README.md says why each one).

- ``pipeline_mixed``: ``DedupPipeline.run(resume=False)`` over the
  fixtures' default duplicate mix, every layer busy;
- ``pipeline_hotband``: the same call over a block of distinct near-copies
  of one source that share LSH bands and substring fingerprints, so the
  skew path (pair expansion, verify, CC) does the work;
- ``stream_incremental``: single-file micro-batches drained through
  ``IncrementalDedup.start`` with the near index, one file per trigger.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import corpus
from tracer import STAGE_LAYER, STREAM_PHASES, Tracer

PIPELINE_KINDS = ("exact_dup", "near_dup", "substring_dup", "hot_dup")
# the stream has no substring tier
STREAM_KINDS = ("exact_dup", "near_dup")

# corpus sizes: conversations of the fixtures' default mix, topped up with
# unique conversations to a fixed turn count
MIXED_CONVS, MIXED_TURNS = 1750, 30000
HOT_UNIQUE, HOT_MEMBERS = 1000, 600
STREAM_CONVS, STREAM_TURNS, STREAM_BATCHES = 540, 10000, 4
# the batch warm-up run: a small default-mix corpus, run cold before the
# measured run so that the JIT and first-plan costs fall on it
WARMUP_CONVS = 100


@dataclass
class Inputs:
    run_dir: str
    truth: dict  # conv_id -> (kind, source conv_id or "")
    turns: int
    warmup_dir: str
    warmup_truth: dict


def _truth(frame) -> dict:
    return {c: (k, src) for c, k, src in zip(frame["conv_id"], frame["kind"], frame["source_conv"])}


def _batch_inputs(make_run):
    def make(seed: int, out: str) -> Inputs:
        run_dir, truth, turns = make_run(seed, os.path.join(out, "run"))
        warm_dir, warm_truth, _ = corpus.mixed(
            seed + corpus.WARMUP_SEED_OFFSET, WARMUP_CONVS, 0, os.path.join(out, "warmup")
        )
        return Inputs(run_dir, _truth(truth), turns, warm_dir, _truth(warm_truth))

    return make


def _stream_inputs(seed: int, out: str) -> Inputs:
    run_dir, truth, turns = corpus.stream_batches(
        seed, STREAM_CONVS, STREAM_TURNS, STREAM_BATCHES, os.path.join(out, "batches")
    )
    warm_dir, warm_truth = corpus.stream_warmup(seed, os.path.join(out, "warmup"))
    return Inputs(run_dir, _truth(truth), turns, warm_dir, _truth(warm_truth))


@dataclass
class Spec:
    name: str
    kind: str  # 'pipeline' | 'stream'
    make: object  # (seed, out_dir) -> Inputs
    dup_kinds: tuple


SPECS = {
    s.name: s
    for s in (
        Spec(
            "pipeline_mixed",
            "pipeline",
            _batch_inputs(lambda seed, out: corpus.mixed(seed, MIXED_CONVS, MIXED_TURNS, out)),
            PIPELINE_KINDS,
        ),
        Spec(
            "pipeline_hotband",
            "pipeline",
            _batch_inputs(lambda seed, out: corpus.hotband(seed, HOT_UNIQUE, HOT_MEMBERS, out)),
            PIPELINE_KINDS,
        ),
        Spec("stream_incremental", "stream", _stream_inputs, STREAM_KINDS),
    )
}


@dataclass
class RunResult:
    wall_s: float
    clusters_dir: str
    latencies: list  # per committed batch: the pipeline run, or a micro-batch
    attempted: int
    failed: int
    error: str = ""
    extra: dict = field(default_factory=dict)
    predicted: dict = field(default_factory=dict)  # conv_id -> cluster_id
    duplicate_rows: int = 0


def read_back(spark, res: RunResult) -> None:
    """Fill ``res.predicted`` from the clusters a run wrote, for the
    correctness gate. Call it outside any measured or traced window."""
    if res.failed or not os.path.isdir(res.clusters_dir):
        return
    pdf = spark.read.parquet(res.clusters_dir).select("conv_id", "cluster_id").toPandas()
    res.duplicate_rows = int(pdf["conv_id"].duplicated().sum())
    res.predicted = dict(zip(pdf["conv_id"], pdf["cluster_id"]))


# ---- batch pipeline -----------------------------------------------------


def pipeline_run(spark, input_dir: str, workdir: str, tracer: Tracer | None = None) -> RunResult:
    """One ``DedupPipeline.run(resume=False)`` into a fresh workdir: input
    parquet to committed ``clusters`` table."""
    from cpdd_spark.pipeline import DedupPipeline

    clusters_dir = os.path.join(workdir, "clusters")
    t0 = time.perf_counter()
    try:
        if tracer is None:
            turns = spark.read.parquet(input_dir)
        else:
            with tracer.span("io"):
                turns = spark.read.parquet(input_dir)
        DedupPipeline(spark, workdir).run(turns, resume=False)
    except Exception as e:  # the run is the unit of failure
        return RunResult(time.perf_counter() - t0, clusters_dir, [], 1, 1, repr(e)[:300])
    wall = time.perf_counter() - t0
    # the whole run is the one batch a user waits for: its stage tables
    # are internal checkpoints
    return RunResult(wall, clusters_dir, [wall], 1, 0)


def trace_pipeline(tracer: Tracer):
    """Install the pipeline's spans; returns a dict the wrappers fill."""
    import cpdd_spark.pipeline as pl

    seen: dict = {"cc_stats": {}}
    tracer.wrap(pl.DedupPipeline, "_stage", lambda a, k: STAGE_LAYER[a[1]])
    tracer.wrap(pl.DedupPipeline, "_record", lambda a, k: "pipeline")
    tracer.wrap(pl, "candidate_pairs", lambda a, k: "lsh", on_result=lambda df: seen.__setitem__("candidates", df))
    cc = pl.connected_components

    def cc_with_stats(*args, **kwargs):
        return cc(*args, stats=seen["cc_stats"], **kwargs)

    tracer.patch(pl, "connected_components", cc_with_stats)
    return seen


def pipeline_counts(spark, workdir: str, seen: dict, layers: dict) -> dict:
    """Layer-specific counts of a finished traced run, read from its stage
    tables (these jobs run after the traced window and are not attributed)."""
    from pyspark.sql import functions as F

    from cpdd_spark.exact import exact_pairs

    def read(name):
        return spark.read.parquet(os.path.join(workdir, name))

    exact = read("exact_clusters")
    docs = exact.count()
    reps = exact.filter(F.col("conv_id") == F.col("cluster_id")).count()
    verified = read("verified_pairs").count()
    substring = read("substring_pairs").count()
    candidates = seen["candidates"].count()
    files = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(workdir) for f in fs
    )
    return {
        "exact.reps_ratio": reps / docs if docs else 0.0,
        "lsh.candidates": candidates,
        "verify.accept_ratio": verified / candidates if candidates else 0.0,
        "substring.pairs": substring,
        "cc.rounds": seen["cc_stats"].get("rounds", 0),
        "cc.edges": exact_pairs(exact).count() + verified + substring,
        "io.bytes_written": sum(l.get("output_bytes", 0.0) for l in layers.values()),
        "io.files_written": files,
    }


# ---- incremental stream ---------------------------------------------------


def _state_files(*dirs: str) -> tuple[int, int]:
    """(all files, parquet files) under the stream's state directories."""
    n_all = n_parquet = 0
    for d in dirs:
        for _, _, fs in os.walk(d):
            n_all += len(fs)
            n_parquet += sum(f.endswith(".parquet") for f in fs)
    return n_all, n_parquet


def stream_run(spark, input_dir: str, workdir: str, tracer: Tracer | None = None) -> RunResult:
    """Drain every landed micro-batch file through ``IncrementalDedup.start``
    (near index on, one file per trigger, closed loop: each batch starts
    when the previous one commits)."""
    from cpdd_spark.streaming import IncrementalDedup

    n_files = sum(f.endswith(".parquet") for f in os.listdir(input_dir))
    clusters_dir = os.path.join(workdir, "clusters")
    index_dir = os.path.join(workdir, "nearidx")
    dedup = IncrementalDedup(spark, clusters_dir, near_index_dir=index_dir)
    timings: dict = {p: 0.0 for p in STREAM_PHASES}
    state = {"files": (0, 0), "batches": 0}
    if tracer is not None:
        process = dedup.process_batch

        def traced_batch(df, bid):
            with tracer.span("streaming"):
                process(df, bid)
            for p in STREAM_PHASES:
                timings[p] += dedup.last_timings.get(p, 0.0)
            state["batches"] += 1
            state["files"] = _state_files(clusters_dir, index_dir)

        dedup.process_batch = traced_batch

    t0 = time.perf_counter()
    error = ""
    query = None
    try:
        query = dedup.start(
            input_dir, os.path.join(workdir, "checkpoint"), max_files_per_trigger=1
        )
        if tracer is not None:
            tracer.extra_groups[str(query.runId)] = "streaming"
        query.awaitTermination()
    except Exception as e:  # a failed batch stops the query
        error = repr(e)[:300]
    wall = time.perf_counter() - t0
    progress = [p for p in (query.recentProgress if query else []) if p["numInputRows"] > 0]
    latencies = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    failed = n_files - len(progress) if error else 0
    extra = {}
    if tracer is not None:
        extra = {f"streaming.{p}_s": v for p, v in timings.items()}
        extra["streaming.batches"] = state["batches"]
        extra["streaming.state_files"], extra["io.files_written"] = state["files"]
    return RunResult(wall, clusters_dir, latencies, n_files, failed, error, extra)
