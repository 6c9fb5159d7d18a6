"""Unit tests of the benchmark's own arithmetic (no Spark).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import json
import os
import re

import pytest

import quality
from tracer import per_layer_names, per_layer_units

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the grammar BENCHMARK.json's names and units must follow
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


# ---- metric-name grammar ------------------------------------------------


@pytest.mark.parametrize("name", ["wall_s", "lsh.task_skew", "p90-latency", "9lives", "a" * 64])
def test_valid_names(name):
    assert valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "-x", "a b", "a/b", "lat(ms)", "a" * 65, "é"])
def test_invalid_names(name):
    assert not valid_name(name)


def test_every_declared_name_and_unit_is_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(valid_name(n) for n in names)
    assert len(names) == len(set(names))
    units = [m["unit"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(UNIT_RE.fullmatch(u) for u in units)


def test_per_layer_list_matches_the_tracer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = per_layer_units()
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    assert all(m["unit"] == units[m["name"]] for m in spec["per_layer"])


# ---- recall and false-merge arithmetic -----------------------------------

# a: source of exact dup b and near dup c; d: source of substring dup e;
# f, g: unrelated uniques
TRUTH = {
    "a": ("unique", ""),
    "b": ("exact_dup", "a"),
    "c": ("near_dup", "a"),
    "d": ("unique", ""),
    "e": ("substring_dup", "d"),
    "f": ("unique", ""),
    "g": ("unique", ""),
}
ALL_KINDS = ("exact_dup", "near_dup", "substring_dup")


def test_perfect_prediction():
    pred = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f", "g": "g"}
    q = quality.quality(TRUTH, pred, ALL_KINDS)
    assert q["dup_recall"] == 1.0
    assert q["false_merge_rate"] == 0.0
    assert (q["dup_members"], q["unique_convs"], q["missing"]) == (3, 4, 0)


def test_missed_duplicate_lowers_recall_only():
    # the substring dup stays alone: 2 of 3 members found, nothing merged
    pred = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "f", "g": "g"}
    q = quality.quality(TRUTH, pred, ALL_KINDS)
    assert q["dup_recall"] == pytest.approx(2 / 3)
    assert q["false_merge_rate"] == 0.0


def test_recall_counts_only_the_named_kinds():
    # a stream has no substring tier: its recall ignores substring dups
    pred = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "f", "g": "g"}
    q = quality.quality(TRUTH, pred, ("exact_dup", "near_dup"))
    assert q["dup_recall"] == 1.0
    assert q["dup_members"] == 2


def test_false_merge_of_two_uniques():
    # f and g merged: both are planted uniques sharing a cluster with a
    # conversation from another truth cluster
    pred = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f", "g": "f"}
    q = quality.quality(TRUTH, pred, ALL_KINDS)
    assert q["false_merge_rate"] == pytest.approx(2 / 4)
    assert q["dup_recall"] == 1.0


def test_merging_two_true_clusters_counts_both_sources():
    pred = {c: "a" for c in "abcde"} | {"f": "f", "g": "g"}
    q = quality.quality(TRUTH, pred, ALL_KINDS)
    assert q["false_merge_rate"] == pytest.approx(2 / 4)  # a and d
    assert q["dup_recall"] == 1.0


def test_unassigned_conversations():
    pred = {"a": "a", "b": "a", "d": "d", "e": "d", "f": "f"}
    q = quality.quality(TRUTH, pred, ALL_KINDS)
    assert q["missing"] == 2
    assert q["dup_recall"] == pytest.approx(2 / 3)  # c lost
    assert q["false_merge_rate"] == pytest.approx(1 / 4)  # g lost


# ---- percentile rule -------------------------------------------------------


def test_no_percentile_below_twenty_samples():
    assert quality.tail_percentile(range(19)) is None
    assert quality.summarize([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0}


def test_median_is_the_first_to_qualify():
    # 20 samples: 10 beyond p50, 5 beyond p75
    assert quality.tail_percentile(range(1, 21)) == (50.0, 10)


def test_highest_qualifying_percentile():
    xs = list(range(1, 101))  # 100 samples
    assert quality.tail_percentile(xs) == (90.0, 90)  # 10 beyond p90, 5 beyond p95
    xs = list(range(1, 201))
    assert quality.tail_percentile(xs) == (95.0, 190)
    xs = list(range(1, 1001))
    assert quality.tail_percentile(xs) == (99.0, 990)
    xs = list(range(1, 10001))
    assert quality.tail_percentile(xs) == (99.9, 9990)


def test_order_does_not_matter():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
    assert quality.tail_percentile(xs) == quality.tail_percentile(sorted(xs))


def test_iqr_share():
    assert quality.iqr_share([1.0, 1.0, 1.0, 1.0]) == 0.0
    q1, med, q3 = 1.5, 3.0, 4.5  # statistics.quantiles([1..5], n=4), exclusive
    assert quality.iqr_share([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((q3 - q1) / med)
