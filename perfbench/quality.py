"""Pure-Python arithmetic of the benchmark: quality against planted truth,
the percentile rule for timings, and the spread figure.

Nothing here imports Spark, so the unit tests in ``perfbench/tests`` run in
milliseconds.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from typing import Iterable, Mapping, Sequence

# percentiles the report may quote, in rising order
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(sorted_values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile of already sorted values."""
    if not sorted_values:
        raise ValueError("no samples")
    return sorted_values[_rank(p, len(sorted_values)) - 1]


def tail_percentile(values: Iterable[float]) -> tuple[float, float] | None:
    """The highest ladder percentile that still has at least ten samples
    beyond it, as ``(p, value)``; None when no ladder step qualifies
    (fewer than 20 samples)."""
    xs = sorted(values)
    best = None
    for p in PERCENTILE_LADDER:
        beyond = len(xs) - _rank(p, len(xs))
        if beyond >= MIN_BEYOND:
            best = (p, nearest_rank(xs, p))
    return best


def summarize(values: Sequence[float]) -> dict:
    """Median, sample count and the rule's tail percentile of a timing."""
    out: dict = {"n": len(values), "median": statistics.median(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_p"], out["tail"] = tail
    return out


def quality(
    truth: Mapping[str, tuple[str, str]],
    predicted: Mapping[str, str],
    dup_kinds: Iterable[str],
) -> dict:
    """Score predicted clusters against planted truth.

    ``truth`` maps conv_id -> (kind, source conv_id or "") and
    ``predicted`` maps conv_id -> predicted cluster id.

    - ``dup_recall``: share of planted duplicate members (kinds in
      ``dup_kinds``) whose predicted cluster is their source's;
    - ``false_merge_rate``: share of planted-unique conversations whose
      predicted cluster holds a conversation from another truth cluster.
      A source sharing a cluster with its own duplicates is not a false
      merge, whatever tier found them;
    - ``missing``: truth conversations absent from the prediction, which
      count against recall and as false merges.
    """
    dup_kinds = set(dup_kinds)

    def truth_root(cid: str) -> str:
        seen = set()
        while truth[cid][1] and cid not in seen:
            seen.add(cid)
            cid = truth[cid][1]
        return cid

    roots = {cid: truth_root(cid) for cid in truth}
    members = defaultdict(set)
    for cid, cl in predicted.items():
        members[cl].add(cid)

    n_dup = hit = 0
    n_unique = merged = 0
    missing = 0
    for cid, (kind, src) in truth.items():
        pred = predicted.get(cid)
        if pred is None:
            missing += 1
        if kind in dup_kinds:
            n_dup += 1
            if pred is not None and pred == predicted.get(src):
                hit += 1
        elif kind == "unique":
            n_unique += 1
            if pred is None or any(
                roots.get(other) != roots[cid] for other in members[pred]
            ):
                merged += 1
    return {
        "dup_recall": hit / n_dup if n_dup else 1.0,
        "false_merge_rate": merged / n_unique if n_unique else 0.0,
        "dup_members": n_dup,
        "unique_convs": n_unique,
        "missing": missing,
    }


def iqr_share(values: Sequence[float]) -> float:
    """Quartile distance over the median, as ``statistics.quantiles(n=4)``
    gives the quartiles: the spread figure the bounds are checked with."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
