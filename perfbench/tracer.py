"""Per-layer tracing from outside the program.

A :class:`Tracer` wraps calls into the program's public functions with
spans. Each span tags the Spark jobs it issues through ``setJobGroup``
and takes ``/proc`` snapshots of the Python workers' CPU. After the run,
:meth:`Tracer.collect` reads Spark's own job, stage and task metrics from
the driver's status REST API and folds them into per-layer numbers.

Lazy DataFrame functions do their work when a stage is written, so the
pipeline's spans sit on ``DedupPipeline._stage`` (named by the stage being
written) rather than on the lazy calls. The innermost span owns a job:
``candidate_pairs``' eager checkpoint counts as ``lsh`` although it runs
inside the ``verified_pairs`` stage, and ``DedupPipeline._record``'s
lineage append and collect count as ``pipeline`` (overhead) inside every
stage.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlsplit

from procstat import python_worker_cpu

LAYERS = (
    "io",
    "assemble",
    "exact",
    "signatures",
    "lsh",
    "verify",
    "substring",
    "cc",
    "pipeline",
    "streaming",
)

# pipeline stage table -> the layer whose work its write commits
STAGE_LAYER = {
    "documents": "assemble",
    "exact_clusters": "exact",
    "signatures": "signatures",
    "verified_pairs": "verify",
    "substring_pairs": "substring",
    "clusters": "cc",
    "clusters_docs": "io",
}

_MISSING = object()  # an attribute the patched owner did not define itself

GROUP_PREFIX = "perfbench."

# Spark metrics every layer reports (from its jobs' stages)
SPARK_METRICS = (
    "jobs",
    "tasks",
    "task_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
)
SPAN_METRICS = ("wall_s", "py_cpu_s")
GENERIC = SPAN_METRICS + SPARK_METRICS

# where a layer's generic metric has a more specific name
RENAMED = {"pipeline.wall_s": "pipeline.overhead_s", "pipeline.jobs": "pipeline.overhead_jobs"}

STREAM_PHASES = (
    "docs_ckpt",
    "exact_out",
    "sigs_kernel",
    "resolve",
    "cc",
    "index_append",
    "clusters_append",
    "total",
)

SPECIFIC = (
    "exact.reps_ratio",
    "lsh.candidates",
    "verify.accept_ratio",
    "substring.pairs",
    "cc.rounds",
    "cc.edges",
    "io.bytes_written",
    "io.files_written",
    "streaming.batches",
    "streaming.state_files",
) + tuple(f"streaming.{p}_s" for p in STREAM_PHASES)

TRACE_METRICS = (
    "trace.wall_s",
    "trace.overhead_s",
    "trace.cold_extra_s",
    "trace.residual_jobs",
    "trace.residual_s",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = [RENAMED.get(f"{l}.{m}", f"{l}.{m}") for l in LAYERS for m in GENERIC]
    return names + list(SPECIFIC) + list(TRACE_METRICS)


def _unit(name: str) -> str:
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio") or name.endswith("_skew"):
        return "ratio"
    return "count"


def per_layer_units() -> dict[str, str]:
    return {n: _unit(n) for n in per_layer_names()}


class Span:
    __slots__ = ("layer", "t0", "t1", "py0", "py1", "child_wall", "child_py")

    def __init__(self, layer: str):
        self.layer = layer
        self.child_wall = 0.0
        self.child_py = 0.0


class Tracer:
    """Spans around calls into the program, and the Spark metrics of the
    jobs each span issued."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.stack: list[Span] = []
        self.done: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.extra_groups: dict[str, str] = {}  # foreign job group -> layer
        url = urlsplit(self.sc.uiWebUrl)
        self.api = (
            f"http://127.0.0.1:{url.port}/api/v1/applications/{self.sc.applicationId}"
        )

    # ---- spans ----------------------------------------------------------

    def _tag(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + layer, layer)

    @contextmanager
    def span(self, layer: str):
        s = Span(layer)
        self.stack.append(s)
        self._tag(layer)
        s.py0 = python_worker_cpu()
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.py1 = python_worker_cpu()
            self.stack.pop()
            if self.stack:
                parent = self.stack[-1]
                parent.child_wall += s.t1 - s.t0
                parent.child_py += s.py1 - s.py0
                self._tag(parent.layer)
            else:
                self._tag(None)
            self.done.append(s)

    def wrap(self, owner, attr: str, layer_of, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``layer_of(args,
        kwargs)`` names the layer; ``on_result`` sees the return value."""
        orig = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(layer_of(args, kwargs)):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        self._patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, spanned)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, replacement)

    def unwrap(self) -> None:
        for owner, attr, prev in reversed(self._patches):
            if prev is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, prev)
        self._patches.clear()

    # ---- Spark status ---------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.load(r)

    def max_job_id(self) -> int:
        jobs = self._get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def _settled_jobs(self, after: int) -> list[dict]:
        """Jobs with id > ``after``, once the status store has caught up
        with the listener bus (no running job, same count twice)."""
        prev = None
        for _ in range(100):
            jobs = [j for j in self._get("/jobs") if j["jobId"] > after]
            if all(j["status"] != "RUNNING" for j in jobs) and prev == len(jobs):
                return jobs
            prev = len(jobs)
            time.sleep(0.2)
        return jobs

    def layer_of_group(self, group: str | None) -> str | None:
        if group and group.startswith(GROUP_PREFIX):
            return group[len(GROUP_PREFIX) :]
        return self.extra_groups.get(group or "")

    def collect(self, after: int) -> tuple[dict[str, dict], dict]:
        """Per-layer Spark and span metrics of jobs issued since job id
        ``after``, plus the coverage record of untagged jobs."""
        jobs = self._settled_jobs(after)
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("/stages")
            if s["status"] == "COMPLETE"
        }
        by_stage_id = defaultdict(list)
        for key in stages:
            by_stage_id[key[0]].append(key)

        layers: dict[str, dict] = {l: defaultdict(float) for l in LAYERS}
        heaviest: dict[str, tuple[float, tuple]] = {}
        owned: set[int] = set()
        residual = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            layer = self.layer_of_group(j.get("jobGroup"))
            if layer is None:
                residual.append(
                    {"job": j["jobId"], "group": j.get("jobGroup"), "name": j.get("name", "")[:80]}
                )
                continue
            agg = layers[layer]
            agg["jobs"] += 1
            for sid in j["stageIds"]:
                # a stage reused by a later job runs once: the first job
                # that lists it owns its metrics
                if sid in owned:
                    continue
                owned.add(sid)
                for key in by_stage_id.get(sid, []):
                    s = stages[key]
                    agg["tasks"] += s["numCompleteTasks"]
                    agg["task_cpu_s"] += s["executorCpuTime"] / 1e9
                    agg["shuffle_read_bytes"] += s["shuffleReadBytes"]
                    agg["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    agg["spill_bytes"] += s["diskBytesSpilled"]
                    agg["output_bytes"] += s["outputBytes"]
                    busy = s["executorRunTime"]
                    if busy > heaviest.get(layer, (-1.0, None))[0]:
                        heaviest[layer] = (busy, key)

        for layer, (_, (sid, att)) in heaviest.items():
            q = self._get(f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0")
            p50, top = q["duration"]
            layers[layer]["task_skew"] = top / p50 if p50 > 0 else 1.0

        for s in self.done:
            agg = layers[s.layer]
            agg["wall_s"] += (s.t1 - s.t0) - s.child_wall
            agg["py_cpu_s"] += (s.py1 - s.py0) - s.child_py

        coverage = {
            "jobs": len(jobs),
            "residual_jobs": len(residual),
            "residual": residual[:20],
        }
        return {l: dict(v) for l, v in layers.items()}, coverage
