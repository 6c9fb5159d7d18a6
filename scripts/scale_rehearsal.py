#!/usr/bin/env python
"""10x scale rehearsal (round-4 verdict item 4): per-stage scaling slopes.

Runs the full dedup stage ladder on TWO seeded fixtures whose sizes differ
by 10x (default 40k vs 400k conversations — the big one shares
two_scale.py's cached fixture), on the SAME local[32] session shape
bench.py uses, and reports per-stage wall seconds plus the scaling slope

    slope = t_big / t_small        (data ratio = 10)

A data-linear stage lands near 10 (modulo fixed overheads, which push
small-stage slopes BELOW 10); anything far above ~13 (1.3x data-linear)
is flagged — the round-4 verdict named two superlinear suspects to watch:
simhash (pair-bucket saturation) and the ngram df-cap engagement behind
the clusters query. The simhash ladder runs both the AUTO form (the
escalation valve chooses pairs/triples from n_reps) and the FORCED-pair
form, so the valve's saving is a measured delta at every size.

Round-5 provenance: this script's first run caught the n-gram shingling
plan running 390x superlinear (1012 s at 40k convs) — see
cpdd_spark/ngram.py's plan-hazard notes for the three fixes it bought.

Usage:  python scripts/scale_rehearsal.py [--small 40000] [--runs 1]
Prints one JSON line per (size, stage-laps) run plus a final table; paste
the table into BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def fixture_dir(num_convs: int) -> str:
    # share two_scale.py's cached 400k fixture when sizes line up
    name = f"two_scale_{num_convs // 1000}k"
    return os.path.join(REPO, ".bench_fixtures", name)


def ensure_fixture(num_convs: int) -> str:
    from cpdd_spark.fixtures import FixtureParams, generate_to_dir

    return generate_to_dir(
        fixture_dir(num_convs), FixtureParams(num_convs=num_convs, seed=42)
    )


def run_stages(num_convs: int) -> dict:
    from cpdd_spark.assemble import assemble_documents
    from cpdd_spark.config import DedupConfig
    from cpdd_spark.lsh import simhash_candidates
    from cpdd_spark.ngram import jaccard_pairs
    from cpdd_spark.pipeline import cascade, representatives, session_cache
    from cpdd_spark.session import get_spark
    from cpdd_spark.signatures import compute_signatures

    cfg = DedupConfig(exact_verify="fingerprint")
    spark = get_spark(
        master="local[32]",
        app_name=f"rehearsal_{num_convs}",
        shuffle_partitions=64,
    )
    turns = spark.read.parquet(
        os.path.join(fixture_dir(num_convs), "transcripts.parquet")
    )
    n_turns = turns.count()

    # warm the Python worker pool (see two_scale.py)
    import pandas as pd

    def _noop(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    spark.range(128, numPartitions=128).mapInPandas(_noop, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

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
            "simhash_signatures", lambda: compute_signatures(reps, cfg, with_minhash=False)
        )
        # auto (the escalation valve picks pairs or triples from n_reps)
        # plus the FORCED pair form, so the valve's saving is a measured
        # delta at every rehearsed size
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
    total = round(sum(laps.values()), 2)
    out = {
        "num_convs": num_convs,
        "turns": n_turns,
        "n_reps": n_reps,
        "stages": laps,
        "total": total,
    }
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=40_000)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--size", type=int, default=None, help="single run")
    args = ap.parse_args()

    if args.size:
        ensure_fixture(args.size)
        print(json.dumps(run_stages(args.size)))
        return

    import subprocess

    results = {}
    for n in (args.small, args.small * 10):
        ensure_fixture(n)
        best = None
        for _ in range(args.runs):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--size", str(n)],
                capture_output=True,
                text=True,
                check=True,
                cwd=REPO,
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            print(json.dumps(r))
            if best is None or r["total"] < best["total"]:
                best = r
        results[n] = best

    small, big = results[args.small], results[args.small * 10]
    print("\n| stage | t(1x) s | t(10x) s | slope (ideal ~10) |")
    print("|---|---|---|---|")
    for k in small["stages"]:
        ts, tb = small["stages"][k], big["stages"][k]
        slope = tb / ts if ts > 0 else float("nan")
        flag = " **superlinear**" if slope > 13 else ""
        print(f"| {k} | {ts} | {tb} | {slope:.1f}{flag} |")
    print(
        f"| TOTAL | {small['total']} | {big['total']} | "
        f"{big['total'] / small['total']:.1f} |"
    )


if __name__ == "__main__":
    main()
