"""The dedup benchmark: one workload per invocation, end-to-end metrics
untraced, per-layer metrics traced.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_mixed --seed 1 --seconds 25 --trace 0

``--trace 0`` measures set-up (the median of three cold session starts,
plus one Python-worker spawn), runs a small cold warm-up, then measures one
warm production run. It prints the end-to-end metrics.
``--trace 1`` runs the workload four times in one session: untraced and
cold, untraced, traced, untraced. It prints the traced run's per-layer
metrics, the tracing overhead and the jobs no layer owns. Both modes check
the written clusters against the corpus's planted truth. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 1 when a
correctness check fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)  # the checkout's cpdd_spark, after this directory

import quality  # noqa: E402
import session  # noqa: E402
from procstat import HostConditions, TreeSampler, reap_descendants  # noqa: E402
from tracer import LAYERS, RENAMED, SPECIFIC, TRACE_METRICS, Tracer, per_layer_units  # noqa: E402

NORTH_STAR_RECALL = 0.99  # BASELINE.json: dup-pair recall >= 0.99
MAX_FALSE_MERGE = 0.01


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _log(line: str) -> None:
    print(line, flush=True)


def _check(label: str, q: dict, res) -> list[str]:
    """Correctness failures of one run, as messages."""
    bad = []
    if res.failed:
        bad.append(f"{label}: {res.failed}/{res.attempted} failed: {res.error}")
        return bad
    if q["missing"] or res.duplicate_rows:
        bad.append(f"{label}: {q['missing']} conversations unassigned, {res.duplicate_rows} assigned twice")
    if q["dup_recall"] < NORTH_STAR_RECALL:
        bad.append(f"{label}: dup_recall {q['dup_recall']:.4f} < {NORTH_STAR_RECALL}")
    if q["false_merge_rate"] > MAX_FALSE_MERGE:
        bad.append(f"{label}: false_merge_rate {q['false_merge_rate']:.4f} > {MAX_FALSE_MERGE}")
    return bad


def _score(label: str, truth: dict, res, dup_kinds) -> tuple[dict, list[str]]:
    """Quality of one run against its truth, reported; and its failures."""
    q = quality.quality(truth, res.predicted, dup_kinds)
    _log(
        f"quality[{label}] dup_recall={q['dup_recall']:.4f} (of {q['dup_members']} members) "
        f"false_merge_rate={q['false_merge_rate']:.4f} (of {q['unique_convs']} unique) "
        f"error_rate={res.failed / res.attempted:.4f} (of {res.attempted} attempted)"
    )
    return q, _check(label, q, res)


def run_untraced(spec, work, inputs):
    import workloads

    runner = workloads.pipeline_run if spec.kind == "pipeline" else workloads.stream_run
    spark, starts, spawn = session.start_measured(work)
    setups = [s + spawn for s in starts]
    try:
        # the measured run is warm: a small cold run first pays the JIT and
        # first-plan costs, into separate state (setup_s and the traced
        # run's trace.cold_extra_s report the cold cost)
        warm = runner(spark, inputs.warmup_dir, os.path.join(work, "warmup"))
        workloads.read_back(spark, warm)
        sampler = TreeSampler()
        sampler.start()
        res = runner(spark, inputs.run_dir, os.path.join(work, "run"))
        cpu_s, rss = sampler.stop()
        workloads.read_back(spark, res)
    finally:
        session.stop(spark)
    peak = max(rss)
    parts = sampler.peak_parts
    _log(
        f"rss: peak {peak / 2**20:.0f} MB of {len(rss)} samples = jvm {parts['jvm'] / 2**20:.0f} MB "
        f"+ {parts['n_py_workers']} python workers {parts['py_workers'] / 2**20:.0f} MB "
        f"+ driver {parts['other'] / 2**20:.0f} MB"
    )

    _, bad = _score("warm-up", inputs.warmup_truth, warm, spec.dup_kinds)
    q, bad_run = _score("run", inputs.truth, res, spec.dup_kinds)
    bad += bad_run
    attempted = warm.attempted + res.attempted
    failed = warm.failed + res.failed
    lat = res.latencies or [res.wall_s]
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (res.wall_s, "s"),
        "turns_per_s": (inputs.turns / res.wall_s, "turns/s"),
        "cpu_s": (cpu_s, "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "batch_latency_p50_s": (statistics.median(lat), "s"),
        "batch_latency_p90_s": (quality.nearest_rank(sorted(lat), 90), "s"),
        "dup_recall": (q["dup_recall"], "ratio"),
        # 0 on a correct run, so not in BENCHMARK.json (a median of 0 has
        # no spread); the gate bounds them instead
        "false_merge_rate": (q["false_merge_rate"], "ratio"),
        "error_rate": (failed / attempted, "ratio"),
    }
    samples = {"setup_s": setups, "wall_s": [res.wall_s], "batch_latency": lat}
    for name, values in samples.items():
        s = quality.summarize(values)
        tail = f", p{s['tail_p']:g} {s['tail']:.4f}" if "tail" in s else ", no percentile has 10 samples beyond it"
        listed = " [" + ", ".join(f"{v:.3f}" for v in values) + "]" if len(values) <= 10 else ""
        _log(f"samples {name}: n={s['n']} median {s['median']:.4f}{tail}{listed}")
    return metrics, attempted, failed, bad


def run_traced(spec, work, inputs):
    import workloads

    runner = workloads.pipeline_run if spec.kind == "pipeline" else workloads.stream_run
    spark, _, _ = session.start(work)
    try:
        cold = runner(spark, inputs.run_dir, os.path.join(work, "cold"))
        # the traced run sits between two warm untraced ones, so that
        # warm-up still under way after the cold run is not counted as
        # tracing overhead
        before = runner(spark, inputs.run_dir, os.path.join(work, "before"))
        tracer = Tracer(spark)
        floor = tracer.max_job_id()
        seen = workloads.trace_pipeline(tracer) if spec.kind == "pipeline" else {}
        try:
            traced = runner(spark, inputs.run_dir, os.path.join(work, "traced"), tracer=tracer)
        finally:
            tracer.unwrap()
        layers, coverage = tracer.collect(floor)
        # everything below runs after the traced window
        extra = dict(traced.extra)
        if spec.kind == "pipeline" and not traced.failed:
            extra.update(workloads.pipeline_counts(spark, os.path.join(work, "traced"), seen, layers))
        elif spec.kind == "stream":
            extra["io.bytes_written"] = sum(l.get("output_bytes", 0.0) for l in layers.values())
        after = runner(spark, inputs.run_dir, os.path.join(work, "after"))
        runs = {"cold": cold, "before": before, "traced": traced, "after": after}
        for res in runs.values():
            workloads.read_back(spark, res)
    finally:
        session.stop(spark)

    bad = []
    for label, res in runs.items():
        bad += _score(label, inputs.truth, res, spec.dup_kinds)[1]
    for label, res in runs.items():
        diff = sum(res.predicted.get(c) != traced.predicted.get(c) for c in inputs.truth)
        if diff:
            bad.append(f"{label} and traced cluster assignments differ on {diff} conversations")
    warm_wall = (before.wall_s + after.wall_s) / 2

    units = per_layer_units()
    metrics = {}
    for layer in LAYERS:
        for m, v in layers[layer].items():
            name = RENAMED.get(f"{layer}.{m}", f"{layer}.{m}")
            if name in units:
                metrics[name] = (v, units[name])
    for name in SPECIFIC:
        if name in extra:
            metrics[name] = (extra[name], units[name])
    span_wall = sum(layers[l].get("wall_s", 0.0) for l in LAYERS)
    trace = {
        "trace.wall_s": traced.wall_s,
        "trace.overhead_s": traced.wall_s - warm_wall,
        "trace.cold_extra_s": cold.wall_s - warm_wall,
        "trace.residual_jobs": coverage["residual_jobs"],
        "trace.residual_s": traced.wall_s - span_wall,
    }
    for name in TRACE_METRICS:
        metrics[name] = (trace[name], units[name])
    # a layer this workload never enters reads 0
    for name, unit in units.items():
        metrics.setdefault(name, (0, unit))

    _log(
        f"coverage: {coverage['jobs']} jobs in the traced run, "
        f"{coverage['residual_jobs']} owned by no layer"
    )
    for r in coverage["residual"]:
        _log(f"  untagged job {r['job']} group={r['group']} {r['name']}")
    _log(
        f"tracing overhead: traced {traced.wall_s:.3f} s - untraced mean {warm_wall:.3f} s "
        f"(before {before.wall_s:.3f} s, after {after.wall_s:.3f} s) "
        f"= {traced.wall_s - warm_wall:.3f} s; cold run {cold.wall_s:.3f} s"
    )
    attempted = sum(r.attempted for r in runs.values())
    failed = sum(r.failed for r in runs.values())
    return metrics, attempted, failed, bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cpdd_spark")):
        print(f"perfbench: no cpdd_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = workloads.SPECS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{spec.name}-{args.seed}-{os.getpid()}")
    session.prepare_env(work)
    host = HostConditions()
    t_start = time.perf_counter()
    try:
        inputs = spec.make(args.seed, os.path.join(work, "input"))
        _log(
            f"workload {spec.name}: {len(inputs.truth)} conversations, {inputs.turns} turns, "
            f"seed {args.seed}; warm-up {len(inputs.warmup_truth)} conversations"
        )
        runner = run_traced if args.trace else run_untraced
        metrics, attempted, failed, bad = runner(spec, work, inputs)
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    cond = host.record()
    _log(
        f"host: nproc={cond['nproc']} mem_total_mb={cond['mem_total_mb']} "
        f"loadavg={cond['loadavg'][0]:.2f},{cond['loadavg'][1]:.2f},{cond['loadavg'][2]:.2f} "
        f"steal_share={cond['steal_share']:.4f} over {cond['window_s']:.1f} s"
    )
    wanted = [m["name"] for m in _bench_spec()["per_layer" if args.trace else "end_to_end"]]
    for name in wanted + [n for n in metrics if n not in wanted]:
        value, unit = metrics[name]
        _log(f"metric {name} = {value} {unit}")
    for msg in bad:
        _log(f"CHECK FAILED: {msg}")
    _log(f"invocation took {time.perf_counter() - t_start:.1f} s")
    print(
        json.dumps(
            {
                "correct": not bad,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in wanted},
            }
        ),
        flush=True,
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
