"""Structured Streaming incremental dedup: arriving duplicates link to
existing canonicals; replays are idempotent."""

from __future__ import annotations

import os
import re

import pytest

from cpdd_spark.fixtures import FixtureParams, generate
from cpdd_spark.streaming import IncrementalDedup


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "clusters", "ckpt")}
    os.makedirs(d["in"])
    return d


def _write_batch(fx, conv_ids, path):
    part = fx.transcripts[fx.transcripts["conv_id"].isin(conv_ids)]
    part.to_parquet(path, index=False)


def test_incremental_dedup_stream(spark, dirs):
    fx = generate(FixtureParams(num_convs=60, seed=21))
    truth = fx.truth.set_index("conv_id")
    all_ids = sorted(fx.truth["conv_id"])
    first, second = all_ids[:30], all_ids[30:]

    dedup = IncrementalDedup(spark, dirs["clusters"])

    _write_batch(fx, first, os.path.join(dirs["in"], "batch1.parquet"))
    dedup.start(dirs["in"], dirs["ckpt"]).awaitTermination(120)
    _write_batch(fx, second, os.path.join(dirs["in"], "batch2.parquet"))
    dedup.start(dirs["in"], dirs["ckpt"]).awaitTermination(120)

    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(dirs["clusters"]).collect()
    }
    assert len(got) == 60  # every conv assigned exactly once
    # every exact_dup (the only kind the exact tier must catch) shares its
    # source's cluster, even across the batch boundary
    for cid, row in truth.iterrows():
        if row["kind"] == "exact_dup":
            assert got[cid] == got[row["source_conv"]], cid


def test_legacy_md5_only_clusters_rebuild(spark, dirs, tmp_path):
    """A clusters_dir written by the md5-only version (no xxh64 column) is
    rejected: the batch raises the error that names the rebuild command and
    appends no row. Replaying the same turns into fresh directories with
    that command links the arriving duplicate to the legacy canonical."""
    import shutil

    b1 = [("old1", "same text here")]
    b2 = [("new1", "same text here"), ("new2", "different text")]
    dedup = IncrementalDedup(spark, dirs["clusters"])
    dedup.process_batch(_turns(spark, _rows(b1)), 0)
    # rewrite the clusters table in the LEGACY layout (drop xxh64)
    legacy = spark.read.parquet(dirs["clusters"]).drop("xxh64").toPandas()
    shutil.rmtree(dirs["clusters"])
    os.makedirs(dirs["clusters"])
    legacy.to_parquet(os.path.join(dirs["clusters"], "legacy.parquet"), index=False)

    with pytest.raises(Exception, match=REBUILD):
        dedup.process_batch(_turns(spark, _rows(b2)), 1)
    assert os.listdir(dirs["clusters"]) == ["legacy.parquet"]  # no row appended

    work = _rebuild(spark, tmp_path, [b1, b2])
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(work, "clusters")).collect()
    }
    assert got == {"old1": "old1", "new1": "old1", "new2": "new2"}


def test_stream_replay_idempotent(spark, dirs):
    fx = generate(FixtureParams(num_convs=30, seed=22))
    _write_batch(fx, list(fx.truth["conv_id"]), os.path.join(dirs["in"], "b.parquet"))
    dedup = IncrementalDedup(spark, dirs["clusters"])
    dedup.start(dirs["in"], dirs["ckpt"]).awaitTermination(120)
    before = sorted(
        map(tuple, spark.read.parquet(dirs["clusters"]).collect())
    )
    # re-deliver the same batch outside the checkpoint (simulated replay)
    turns = spark.read.parquet(os.path.join(dirs["in"], "b.parquet"))
    dedup.process_batch(turns, 99)
    after = sorted(map(tuple, spark.read.parquet(dirs["clusters"]).collect()))
    assert before == after  # anti-join made the replay a no-op

def _turns(spark, rows):
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    return spark.createDataFrame(rows, schema)


def _doc(n, start=0):
    return " ".join(f"tok{i}" for i in range(start, start + n))


def _rows(batch):
    """``(conv_id, text)`` pairs -> one-turn rows for :func:`_turns`."""
    return [(c, 0, "user", text, "", None) for c, text in batch]


# the rebuild command a legacy-layout error names
REBUILD = re.escape(
    "python -m cpdd_spark --stream --input <turns dir> --workdir <fresh>"
)


def _drop_turns(path, batch):
    """One turn file of one-turn ``(conv_id, text)`` conversations."""
    _ts_file(path, [(c, 0, text, None) for c, text in batch])


def _rebuild(spark, tmp_path, batches, near=False):
    """Replay turn batches into fresh directories with the CLI command the
    legacy-layout error names, one run per original batch (each run drains
    what has landed, as the original stream did). Returns the workdir."""
    from cpdd_spark.cli import main

    in_dir = tmp_path / "replay_in"
    in_dir.mkdir()
    work = str(tmp_path / "replay_work")
    argv = ["--input", str(in_dir), "--workdir", work, "--stream"]
    if near:
        argv += ["--near-index", str(tmp_path / "replay_nearidx")]
    for i, batch in enumerate(batches):
        _drop_turns(in_dir / f"b{i}.parquet", batch)
        assert main(argv, spark=spark) == 0
    return work


@pytest.fixture()
def near_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "clusters", "ckpt", "nearidx")}
    os.makedirs(d["in"])
    return d


def test_stream_near_dup_links_across_batches(spark, near_dirs):
    """Verdict item 6: a NEAR-duplicate (not exact) arriving in batch 2
    must link to batch 1's canonical through the persisted LSH index."""
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    # batch 1: one 60-token conversation
    dedup.process_batch(_turns(spark, [("orig", 0, "user", _doc(60), "", None)]), 0)
    # batch 2: 50-token prefix (jaccard (50-4)/(60-4) ~ 0.82 >= tau) + one
    # unrelated doc
    dedup.process_batch(
        _turns(
            spark,
            [
                ("near1", 0, "user", _doc(50), "", None),
                ("other", 0, "user", _doc(40, start=500), "", None),
            ],
        ),
        1,
    )
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(near_dirs["clusters"]).collect()
    }
    assert got["near1"] == got["orig"], got
    assert got["other"] == "other"


def test_stream_near_dup_within_batch_and_chain(spark, near_dirs):
    """Within-batch near-dups resolve through CC with min-id canonical;
    a later near-dup of a LINKED (non-canonical) rep inherits the stored
    cluster (chain inheritance through the index labels)."""
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    # batch 1: a1 and a2 are near-dups of each other (within-batch)
    dedup.process_batch(
        _turns(
            spark,
            [
                ("a1", 0, "user", _doc(60), "", None),
                ("a2", 0, "user", _doc(52), "", None),
            ],
        ),
        0,
    )
    # batch 2: b1 near a2 (48/52-gram overlap) — links through a2's stored
    # cluster label, which is a1
    dedup.process_batch(
        _turns(spark, [("b1", 0, "user", _doc(48), "", None)]), 1
    )
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(near_dirs["clusters"]).collect()
    }
    assert got == {"a1": "a1", "a2": "a1", "b1": "a1"}, got


def test_stream_near_exact_dup_still_exact_tier(spark, near_dirs):
    """With the near tier on, byte-identical arrivals still link via the
    exact probe (and don't bloat the near index with duplicate reps)."""
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    dedup.process_batch(_turns(spark, [("x1", 0, "user", _doc(60), "", None)]), 0)
    dedup.process_batch(_turns(spark, [("x2", 0, "user", _doc(60), "", None)]), 1)
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(near_dirs["clusters"]).collect()
    }
    assert got == {"x1": "x1", "x2": "x1"}
    idx = spark.read.parquet(os.path.join(near_dirs["nearidx"], "docs"))
    assert [r["conv_id"] for r in idx.collect()] == ["x1"]  # one rep stored


# ---------------------------------------------------------------------------
# streaming assembly (watermark + session window / stateful)
# ---------------------------------------------------------------------------

def _ts_file(path, rows):
    """One parquet FILE of turns with real event times."""
    import pandas as pd

    pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
            "role": ["user"] * len(rows),
            "text": [r[2] for r in rows],
            "tool": [""] * len(rows),
            "ts": pd.array(
                [pd.Timestamp(r[3]) for r in rows], dtype="datetime64[us]"
            ),
        }
    ).to_parquet(path, index=False)


def _drive_assembly(spark, tmp_path, make_stream):
    """Feed out-of-order + cross-batch turns, advance the watermark with
    later traffic, return {conv_id: doc} from the append sink."""
    import pandas as pd

    in_dir = tmp_path / "sin"
    in_dir.mkdir()
    out_dir = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")

    # conv a: turns out of order IN the file and ACROSS files (turn 2 is late)
    _ts_file(in_dir / "f1.parquet", [
        ("a", 1, "middle part", "2024-01-01 10:00:30"),
        ("a", 0, "first part", "2024-01-01 10:00:00"),
    ])
    _ts_file(in_dir / "f2.parquet", [
        ("a", 2, "late part", "2024-01-01 10:01:00"),
    ])
    # later unrelated traffic advances the event-time watermark past
    # a's last turn + gap so a's session/state closes
    _ts_file(in_dir / "f3.parquet", [("zz", 0, "later traffic", "2024-01-01 12:00:00")])
    _ts_file(in_dir / "f4.parquet", [("zz2", 0, "even later", "2024-01-01 13:00:00")])

    from cpdd_spark.streaming import TURNS_SCHEMA

    def run():
        stream = (
            spark.readStream.schema(TURNS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        (
            make_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    run()
    # second pass: restores the checkpointed watermark and lets the final
    # no-data/timeout batch emit anything still pending
    _ts_file(in_dir / "f5.parquet", [("zz3", 0, "flush", "2024-01-01 14:00:00")])
    run()
    out = spark.read.parquet(out_dir)
    return {r["conv_id"]: (r["n_turns"], r["doc"]) for r in out.collect()}


def test_assemble_stream_stateful(spark, tmp_path):
    """applyInPandasWithState assembly (EventTimeTimeout): out-of-order and
    cross-batch turns of one conversation emit ONE document, identical to
    the batch assembler's semantics; one persistent state per conv_id."""
    from cpdd_spark.streaming import assemble_stream_stateful

    got = _drive_assembly(
        spark, tmp_path, lambda s: assemble_stream_stateful(s, gap_seconds=300)
    )
    assert got.get("a") == (3, "first part\nmiddle part\nlate part"), got


def test_start_turn_level_end_to_end(spark, tmp_path):
    """Full late-data path: turn-level stream -> stateful watermarked
    assembly -> incremental dedup. A conversation whose turns arrive out
    of order ACROSS files must, once complete, dedup against an earlier
    byte-identical conversation."""
    import os

    in_dir = tmp_path / "tin"
    in_dir.mkdir()
    clusters = str(tmp_path / "tclusters")
    ckpt = str(tmp_path / "tckpt")

    # conv "orig" complete at 10:00-10:01; conv "copy" = SAME text, turns
    # split across two files and delivered out of order, later that day
    _ts_file(in_dir / "f1.parquet", [
        ("orig", 0, "hello world", "2024-01-01 10:00:00"),
        ("orig", 1, "goodbye world", "2024-01-01 10:00:30"),
        ("copy", 1, "goodbye world", "2024-01-01 11:00:30"),
    ])
    _ts_file(in_dir / "f2.parquet", [
        ("copy", 0, "hello world", "2024-01-01 11:00:00"),
    ])
    # watermark advancers
    _ts_file(in_dir / "f3.parquet", [("w1", 0, "advance", "2024-01-01 13:00:00")])
    _ts_file(in_dir / "f4.parquet", [("w2", 0, "advance more", "2024-01-01 14:00:00")])

    dedup = IncrementalDedup(spark, clusters)
    dedup.start_turn_level(
        str(in_dir), ckpt, gap_seconds=600, max_files_per_trigger=1
    ).awaitTermination(120)
    # flush pass: restored watermark lets pending states time out
    _ts_file(in_dir / "f5.parquet", [("w3", 0, "flush", "2024-01-01 15:00:00")])
    dedup.start_turn_level(
        str(in_dir), ckpt, gap_seconds=600, max_files_per_trigger=1
    ).awaitTermination(120)

    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(clusters).collect()
    }
    assert got.get("orig") == "orig" and got.get("copy") == "orig", got
    # the split-arrival conversation assembled to the SAME content key
    n2 = {r["conv_id"]: r["n_turns"] for r in spark.read.parquet(clusters).collect()}
    assert n2["copy"] == 2


# ---------------------------------------------------------------------------
# round-4: set-based near index (no text, JVM verify), compaction lifecycle,
# stateful-assembly timeout monotonicity
# ---------------------------------------------------------------------------

def test_near_index_stores_sets_not_text(spark, near_dirs):
    """The near index must hold shingle-hash SETS, never document text:
    text in the index is the scale hazard the batch pipeline eliminated."""
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    dedup.process_batch(_turns(spark, [("r1", 0, "user", _doc(60), "", None)]), 0)
    idx = spark.read.parquet(os.path.join(near_dirs["nearidx"], "docs"))
    assert "doc" not in idx.columns
    assert set(idx.columns) == {"conv_id", "shingles", "cluster_id"}


def test_near_probe_verify_is_jvm_only(spark, near_dirs, monkeypatch):
    """Every verification the near tier runs must go through
    verify_pairs_sets with a Python-free plan: the only Python of the batch
    is the one materialized signature pass over fresh canonicals."""
    import cpdd_spark.streaming as st

    captured = []
    orig = st.verify_pairs_sets

    def spy(pairs, sets, cfg, **kw):
        df = orig(pairs, sets, cfg, **kw)
        captured.append(df)
        return df

    monkeypatch.setattr(st, "verify_pairs_sets", spy)
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    dedup.process_batch(_turns(spark, [("p1", 0, "user", _doc(60), "", None)]), 0)
    dedup.process_batch(_turns(spark, [("p2", 0, "user", _doc(50), "", None)]), 1)
    # batch 1: within-batch only; batch 2: ONE fused call verifying both
    # the within-batch pairs and the cross-batch probe candidates
    assert len(captured) >= 2
    for df in captured:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for marker in ("MapInPandas", "PythonUDF", "ArrowEval", "BatchEvalPython"):
            assert marker not in plan, f"{marker} in near-verify plan:\n{plan}"
    # and the link actually happened through those JVM plans
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(near_dirs["clusters"]).collect()
    }
    assert got == {"p1": "p1", "p2": "p1"}, got


def test_legacy_text_index_rebuild(spark, near_dirs, tmp_path):
    """A round-3 index stored (conv_id, doc, cluster_id) raw text: a batch
    over it raises the error that names the rebuild command and no state
    table gains a row. The replay into fresh directories links the near
    duplicate, and its index compacts and probes like any other."""
    import shutil

    import pandas as pd

    b1, b2 = [("orig", _doc(60))], [("near1", _doc(50))]
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    dedup.process_batch(_turns(spark, _rows(b1)), 0)
    # rewrite the docs index in the LEGACY raw-text layout
    docs_dir = os.path.join(near_dirs["nearidx"], "docs")
    stored = spark.read.parquet(docs_dir).toPandas()
    shutil.rmtree(docs_dir)
    os.makedirs(docs_dir)
    pd.DataFrame(
        {
            "conv_id": stored["conv_id"],
            "doc": [_doc(60)] * len(stored),
            "cluster_id": stored["cluster_id"],
        }
    ).to_parquet(os.path.join(docs_dir, "legacy.parquet"), index=False)

    state = [
        near_dirs["clusters"], docs_dir, os.path.join(near_dirs["nearidx"], "bands")
    ]
    rows_before = [spark.read.parquet(d).count() for d in state]
    with pytest.raises(Exception, match=REBUILD):
        dedup.process_batch(_turns(spark, _rows(b2)), 1)
    assert [spark.read.parquet(d).count() for d in state] == rows_before

    work = _rebuild(spark, tmp_path, [b1, b2], near=True)
    clusters_dir = os.path.join(work, "clusters")
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(clusters_dir).collect()
    }
    assert got["near1"] == "orig", got

    rebuilt_idx = str(tmp_path / "replay_nearidx")
    rebuilt = IncrementalDedup(spark, clusters_dir, near_index_dir=rebuilt_idx)
    res = rebuilt.compact_index()
    idx = spark.read.parquet(os.path.join(rebuilt_idx, "docs"))
    assert "shingles" in idx.columns and "doc" not in idx.columns
    assert res["docs_after"] == 2  # orig + near1
    rebuilt.process_batch(_turns(spark, _rows([("near2", _doc(48))])), 2)
    got2 = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(clusters_dir).collect()
    }
    assert got2["near2"] == "orig", got2


def test_compact_index_shrinks_and_preserves_probe(spark, near_dirs):
    """Lifecycle (round-3 verdict item 4): after replay-style duplicate
    appends, compaction strictly shrinks both index tables and leaves probe
    behavior identical (bands REBUILT from the stored sets must reproduce
    the original collisions)."""
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    dedup.process_batch(
        _turns(
            spark,
            [
                ("a1", 0, "user", _doc(60), "", None),
                ("a2", 0, "user", _doc(52), "", None),
            ],
        ),
        0,
    )
    dedup.process_batch(_turns(spark, [("b1", 0, "user", _doc(48), "", None)]), 1)

    # simulate a crash replay that re-appended every index row
    for sub in ("docs", "bands"):
        path = os.path.join(near_dirs["nearidx"], sub)
        dup = spark.read.parquet(path).localCheckpoint(eager=True)
        dup.write.mode("append").parquet(path)

    res = dedup.compact_index()
    assert res["docs_after"] < res["docs_before"], res
    assert res["bands_after"] < res["bands_before"], res
    # every distinct representative survives
    assert res["docs_after"] == 3
    docs_ids = {
        r["conv_id"]
        for r in spark.read.parquet(
            os.path.join(near_dirs["nearidx"], "docs")
        ).collect()
    }
    assert docs_ids == {"a1", "a2", "b1"}

    # probe after compaction: near-dup of b1's content chains to cluster a1
    dedup.process_batch(_turns(spark, [("c1", 0, "user", _doc(46), "", None)]), 2)
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(near_dirs["clusters"]).collect()
    }
    assert got["c1"] == "a1", got


def test_compact_crash_windows_never_lose_index(spark, near_dirs):
    """A crash between compact_index's two renames must not lose stored
    representatives: whichever surviving dir holds the index (``__old``
    aside, or a fully-written ``__compact``) is found AND promoted back to
    the live name, so the very next probe batch still links against it
    (an un-promoted fallback would be shadowed by that batch's append)."""
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    dedup.process_batch(_turns(spark, [("a1", 0, "user", _doc(60), "", None)]), 0)
    docs_dir = os.path.join(near_dirs["nearidx"], "docs")

    # window 1: live dir renamed aside, replacement not yet promoted
    os.rename(docs_dir, docs_dir + "__old")
    assert dedup._read_index("docs").count() == 1
    assert os.path.isdir(docs_dir)  # repaired in place

    # window 2: only the fully-written __compact build exists
    os.rename(docs_dir, docs_dir + "__compact")
    assert dedup._read_index("docs").count() == 1
    assert os.path.isdir(docs_dir)

    # the probe after repair still links a near-dup to the stored rep
    dedup.process_batch(_turns(spark, [("b1", 0, "user", _doc(58), "", None)]), 1)
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(near_dirs["clusters"]).collect()
    }
    assert got["b1"] == "a1", got


def test_stateful_assembly_late_batch_no_rewind(spark, tmp_path):
    """A micro-batch containing ONLY late/older turns for an open
    conversation must not rewind its timeout below last-seen-turn + gap:
    the conversation stays open, absorbs a subsequent turn, and emits ONE
    row (the rewind bug split it into duplicate conv_id rows)."""
    from cpdd_spark.streaming import TURNS_SCHEMA, assemble_stream_stateful

    in_dir = tmp_path / "nri"
    in_dir.mkdir()
    out_dir = str(tmp_path / "nro")
    ckpt = str(tmp_path / "nrc")

    _ts_file(in_dir / "f1.parquet", [
        ("x", 0, "t0", "2024-01-01 10:00:00"),
        ("x", 1, "t1", "2024-01-01 10:10:00"),
    ])
    # ONLY an older (late but above-watermark) turn for x: must not rewind
    _ts_file(in_dir / "f2.parquet", [("x", 2, "late", "2024-01-01 10:06:00")])
    _ts_file(in_dir / "f3.parquet", [("adv1", 0, "a", "2024-01-01 10:17:00")])
    # arrives while x must STILL be open (watermark 10:12 < 10:10+gap)
    _ts_file(in_dir / "f4.parquet", [("x", 3, "post", "2024-01-01 10:14:00")])
    _ts_file(in_dir / "f5.parquet", [("adv2", 0, "a", "2024-01-01 10:30:00")])
    _ts_file(in_dir / "f6.parquet", [("adv3", 0, "a", "2024-01-01 11:00:00")])

    def run():
        stream = (
            spark.readStream.schema(TURNS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        (
            assemble_stream_stateful(stream, gap_seconds=300)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    run()
    _ts_file(in_dir / "f7.parquet", [("adv4", 0, "flush", "2024-01-01 11:30:00")])
    run()
    rows = [
        r for r in spark.read.parquet(out_dir).collect() if r["conv_id"] == "x"
    ]
    assert len(rows) == 1, rows  # early-close would emit two x rows
    assert rows[0]["n_turns"] == 4
    assert rows[0]["doc"] == "t0\nt1\nlate\npost"


def test_near_tier_empty_and_all_dup_batches(spark, near_dirs):
    """Degenerate micro-batches through the near tier: an all-duplicate
    batch (no fresh canonicals) and an empty batch must both no-op cleanly
    against the index."""
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    dedup.process_batch(_turns(spark, [("e1", 0, "user", _doc(60), "", None)]), 0)
    # batch 2: byte-identical to e1 -> exact probe catches it, fresh set empty
    dedup.process_batch(_turns(spark, [("e2", 0, "user", _doc(60), "", None)]), 1)
    # batch 3: zero rows
    dedup.process_batch(
        spark.createDataFrame(
            [],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp",
        ),
        2,
    )
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(near_dirs["clusters"]).collect()
    }
    assert got == {"e1": "e1", "e2": "e1"}
    idx = spark.read.parquet(os.path.join(near_dirs["nearidx"], "docs"))
    assert idx.count() == 1  # only e1 ever stored


def test_mid_stream_compaction_equivalence(spark, tmp_path):
    """Compacting BETWEEN micro-batches must not change any subsequent
    assignment: run batches 1-2, compact, batch 3 — final clusters equal a
    parallel run that never compacted, and the batch after the compaction
    still links exact and near duplicates to their stored clusters."""
    outcomes = {}
    for mode in ("plain", "compacted"):
        cl = str(tmp_path / f"{mode}_cl")
        ni = str(tmp_path / f"{mode}_ni")
        dedup = IncrementalDedup(spark, cl, near_index_dir=ni)
        dedup.process_batch(
            _turns(spark, _rows([("a1", _doc(60)), ("a2", _doc(52))])), 0
        )
        dedup.process_batch(
            _turns(
                spark,
                _rows([("b1", _doc(48)), ("b2", _doc(40, start=500))]),
            ),
            1,
        )
        if mode == "compacted":
            res = dedup.compact_index()
            assert res is not None
        dedup.process_batch(
            _turns(
                spark,
                _rows(
                    [
                        ("c1", _doc(46)),  # near b1, which chains to a1
                        ("c2", _doc(45, start=500)),  # near b2
                        ("c3", _doc(60)),  # exact dup of a1
                        ("d1", _doc(40, start=900)),
                    ]
                ),
            ),
            2,
        )
        outcomes[mode] = {
            r["conv_id"]: r["cluster_id"]
            for r in spark.read.parquet(cl).collect()
        }
    assert outcomes["plain"] == outcomes["compacted"], outcomes
    got = outcomes["compacted"]
    assert got["c1"] == got["a1"] and got["b1"] == got["a1"], got
    assert got["c3"] == got["a1"], got
    assert got["c2"] == got["b2"], got
    assert got["d1"] == "d1", got


def test_state_reads_issue_no_jobs(spark, near_dirs, count_jobs):
    """Every state table is read with its declared schema, so the reads a
    batch makes issue no Spark job (no schema inference, no footer scan),
    also on a new instance's first contact with the directories."""
    IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    ).process_batch(_turns(spark, _rows([("s1", _doc(60))])), 0)
    dedup = IncrementalDedup(
        spark, near_dirs["clusters"], near_index_dir=near_dirs["nearidx"]
    )
    assert count_jobs(dedup._existing) == 0
    assert count_jobs(lambda: dedup._read_index("docs")) == 0
    assert count_jobs(lambda: dedup._read_index("bands")) == 0


# ---------------------------------------------------------------------------
# crash contract: a near-tier batch fails partway and the stream restarts
# ---------------------------------------------------------------------------

CRASH_BATCHES = [
    [("a1", _doc(60)), ("a2", _doc(52)), ("u1", _doc(40, start=500))],
    [
        ("b1", _doc(48)),  # near a2 -> cluster a1
        ("x1", _doc(60)),  # exact dup of a1
        ("b2", _doc(45, start=500)),  # near u1
        ("u2", _doc(40, start=900)),
    ],
    [("c1", _doc(46)), ("c2", _doc(44, start=900)), ("u3", _doc(40, start=1300))],
]


def _drain(dedup, in_dir, work):
    dedup.start(
        in_dir, os.path.join(work, "ckpt"), max_files_per_trigger=1
    ).awaitTermination(300)


def _assignments(spark, clusters_dir):
    rows = spark.read.parquet(clusters_dir).collect()
    got = {r["conv_id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows), "a conversation was assigned twice"
    return got


@pytest.fixture(scope="module")
def crash_baseline(spark, tmp_path_factory):
    """Three turn files (one micro-batch each) and the assignments and
    compacted index sizes of an uninterrupted drain over them."""
    base = tmp_path_factory.mktemp("crash_baseline")
    in_dir = base / "in"
    in_dir.mkdir()
    for i, batch in enumerate(CRASH_BATCHES):
        path = in_dir / f"f{i}.parquet"
        _drop_turns(path, batch)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # file order
    work = str(base / "work")
    dedup = IncrementalDedup(
        spark, os.path.join(work, "clusters"), near_index_dir=str(base / "nearidx")
    )
    _drain(dedup, str(in_dir), work)
    got = _assignments(spark, os.path.join(work, "clusters"))
    assert got["b1"] == got["x1"] == got["c1"] == "a1", got
    assert got["b2"] == "u1" and got["c2"] == "u2", got
    res = dedup.compact_index()
    return str(in_dir), got, (res["docs_after"], res["bands_after"])


@pytest.mark.parametrize(
    "fault", ["after_bands", "after_docs", "after_clusters", "clusters_task"]
)
def test_crash_mid_batch_restart(spark, tmp_path, monkeypatch, crash_baseline, fault):
    """The second of three near-tier batches fails partway: it raises right
    after its bands, docs or clusters append, or one task of its clusters
    write fails. Restarted from the same streaming checkpoint, the stream
    replays that batch and ends with the uninterrupted run's assignments,
    and compaction leaves the uninterrupted run's index sizes."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    in_dir, want, want_index = crash_baseline
    work = str(tmp_path / "work")
    clusters_dir = os.path.join(work, "clusters")
    target = {"after_bands": "bands", "after_docs": "docs"}.get(fault, "clusters")
    writes = {"n": 0}
    parquet = DataFrameWriter.parquet

    def faulty(self, path, *args, **kwargs):
        if os.path.basename(path) != target:
            return parquet(self, path, *args, **kwargs)
        writes["n"] += 1
        if writes["n"] != 2:  # the first and third batches write untouched
            return parquet(self, path, *args, **kwargs)
        if fault == "clusters_task":
            failing = self._df.withColumn(
                "cluster_id",
                F.when(
                    F.spark_partition_id() == 0,
                    F.raise_error("injected task failure"),
                ).otherwise(F.col("cluster_id")),
            )
            return parquet(failing.write.mode("append"), path)
        parquet(self, path, *args, **kwargs)
        raise RuntimeError(f"injected crash after the {target} append")

    monkeypatch.setattr(DataFrameWriter, "parquet", faulty)
    dedup = IncrementalDedup(
        spark, clusters_dir, near_index_dir=str(tmp_path / "nearidx")
    )
    with pytest.raises(Exception, match="injected"):
        _drain(dedup, in_dir, work)
    assert writes["n"] == 2
    monkeypatch.undo()

    _drain(dedup, in_dir, work)  # restart from the same checkpoint
    assert _assignments(spark, clusters_dir) == want
    res = dedup.compact_index()
    assert (res["docs_after"], res["bands_after"]) == want_index
