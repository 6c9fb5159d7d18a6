"""The near tier's micro-batch shape: one driver resolve for verify, links
and components, a bounded job count, and the older-layout check on the
state's footers."""

from __future__ import annotations

import os
import random
import re

import pandas as pd
import pytest

from cpdd_spark.streaming import IncrementalDedup, resolve_batch

REBUILD = re.escape(
    "python -m cpdd_spark --stream --input <turns dir> --workdir <fresh>"
)


def _doc(n, start=0):
    return " ".join(f"tok{i}" for i in range(start, start + n))


def _turns(spark, batch):
    return spark.createDataFrame(
        [(c, 0, "user", text, "", None) for c, text in batch],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )


def _model(rows):
    """Brute-force resolve: components by graph search over the ``w``
    edges, each labeled with the minimum stored cluster any member links
    to, else the component's minimum conv_id."""
    fresh = {a for k, a, _ in rows if k == "v"}
    nbrs = {v: set() for v in fresh}
    for k, a, b in rows:
        if k == "w":
            nbrs[a].add(b)
            nbrs[b].add(a)
    links = {}
    for k, a, b in rows:
        if k == "x":
            links.setdefault(a, set()).add(b)
    stored = {a for k, a, _ in rows if k == "s"}
    want = {}
    for v in fresh:
        seen, todo = {v}, [v]
        while todo:
            for u in nbrs[todo.pop()] - seen:
                seen.add(u)
                todo.append(u)
        linked = set().union(*(links.get(u, set()) for u in seen))
        want[v] = (min(linked) if linked else min(seen), v in stored)
    return want


def test_resolve_batch_matches_model():
    """Random small graphs: chains, links to several stored clusters,
    duplicate rows (a replayed batch collects some rows twice), stored
    fresh ids and isolated fresh ids."""
    rng = random.Random(11)
    for _ in range(300):
        fresh = [f"c{i:02d}" for i in rng.sample(range(60), rng.randint(1, 12))]
        rows = [("v", v, None) for v in fresh]
        chain = rng.sample(fresh, rng.randint(1, len(fresh)))
        rows += [("w", a, b) for a, b in zip(chain, chain[1:])]
        rows += [("w", *rng.sample(fresh, 2)) for _ in range(rng.randint(0, 3)) if len(fresh) > 1]
        rows += [
            ("x", rng.choice(fresh), f"k{rng.randint(0, 9)}")
            for _ in range(rng.randint(0, 4))
        ]
        rows += [("s", v, None) for v in fresh if rng.random() < 0.2]
        rows += rng.sample(rows, rng.randint(0, len(rows)))
        rng.shuffle(rows)
        got = resolve_batch(pd.DataFrame(rows, columns=["kind", "a", "b"]))
        assert list(got["conv_id"]) == sorted(set(fresh))
        assert {
            r.conv_id: (r.final_cluster, r.indexed) for r in got.itertuples()
        } == _model(rows)


def test_near_batch_job_count(spark, tmp_path, count_jobs):
    """A 5-document near batch against a small stored index issues at most
    30 Spark jobs, and links its near duplicates."""
    dedup = IncrementalDedup(
        spark, str(tmp_path / "clusters"), near_index_dir=str(tmp_path / "nearidx")
    )
    dedup.process_batch(
        _turns(spark, [("a1", _doc(60)), ("u1", _doc(40, start=500))]), 0
    )
    batch = _turns(
        spark,
        [
            ("b1", _doc(52)),  # near a1
            ("b2", _doc(50)),  # near a1 and b1
            ("b3", _doc(45, start=500)),  # near u1
            ("b4", _doc(60)),  # exact dup of a1
            ("b5", _doc(40, start=900)),
        ],
    )
    assert count_jobs(lambda: dedup.process_batch(batch, 1)) <= 30
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "clusters")).collect()
    }
    assert got == {
        "a1": "a1", "u1": "u1", "b1": "a1", "b2": "a1", "b3": "u1", "b4": "a1",
        "b5": "b5",
    }, got


def test_legacy_docs_row_no_candidate_touches(spark, tmp_path):
    """An older-layout index docs row fails the batch before any append even
    when no candidate of the batch would read it: the check reads the part
    files' footers, not the rows a probe touches."""
    clusters, index = str(tmp_path / "clusters"), str(tmp_path / "nearidx")
    dedup = IncrementalDedup(spark, clusters, near_index_dir=index)
    dedup.process_batch(_turns(spark, [("orig", _doc(60))]), 0)
    docs_dir = os.path.join(index, "docs")
    pd.DataFrame(
        {"conv_id": ["old9"], "doc": [_doc(60, start=3000)], "cluster_id": ["old9"]}
    ).to_parquet(os.path.join(docs_dir, "legacy.parquet"), index=False)
    state = [clusters, docs_dir, os.path.join(index, "bands")]
    before = [sorted(os.listdir(d)) for d in state]
    with pytest.raises(Exception, match=REBUILD):
        dedup.process_batch(_turns(spark, [("new1", _doc(50, start=7000))]), 1)
    assert [sorted(os.listdir(d)) for d in state] == before


def test_layout_check_reads_footers(spark, tmp_path, monkeypatch, count_jobs):
    """The older-layout check reads part-file footers, locally and through
    the Hadoop FileSystem branch for remote paths: a clusters file without
    ``xxh64``, or with a null one, fails it; a current one passes; no read
    issues a job."""
    import cpdd_spark.io as io_mod

    good = str(tmp_path / "good")
    dedup = IncrementalDedup(spark, good)
    dedup.process_batch(_turns(spark, [("x1", _doc(30))]), 0)
    bad = {"no_column": None, "null": pd.array([None], dtype="Int64")}
    for name, xxh in bad.items():
        os.makedirs(tmp_path / name)
        cols = {"conv_id": ["o1"], "md5": ["m"], "cluster_id": ["o1"]}
        if xxh is not None:
            cols["xxh64"] = xxh
        pd.DataFrame(cols).to_parquet(tmp_path / name / "old.parquet", index=False)
    for prefix in ("", "file://"):
        if prefix:
            monkeypatch.setattr(io_mod, "_is_remote", lambda path: True)
        assert count_jobs(lambda: dedup._read_state(prefix + good, "clusters")) == 0
        for name in bad:
            with pytest.raises(ValueError, match=REBUILD):
                dedup._read_state(f"{prefix}{tmp_path / name}", "clusters")


def test_layout_check_reads_each_footer_once(spark, tmp_path, monkeypatch):
    """Part files are never rewritten, so the older-layout check reads the
    footer of each one once per instance: a batch reads only the footers of
    the files appended since the last one."""
    import cpdd_spark.streaming as streaming

    reads = []
    part_footers = streaming.part_footers

    def counted(path, column=None, skip=()):
        found = part_footers(path, column, skip)
        reads.extend(found)
        return found

    monkeypatch.setattr(streaming, "part_footers", counted)
    clusters = str(tmp_path / "clusters")
    dedup = IncrementalDedup(spark, clusters)
    dedup.process_batch(_turns(spark, [("x1", _doc(30))]), 0)
    assert reads == []
    dedup._read_state(clusters, "clusters")
    first = sorted(reads)
    assert first and all(f.endswith(".parquet") for f in first)
    reads.clear()
    dedup.process_batch(_turns(spark, [("x2", _doc(30, start=100))]), 1)
    assert reads == []  # the first batch's files were read already
    dedup._read_state(clusters, "clusters")
    assert reads and not set(reads) & set(first)
