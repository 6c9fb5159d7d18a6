"""Unit tests of the benchmark's corpus generators (pandas only, no Spark).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os

import pandas as pd

import corpus


def _flat(transcripts: pd.DataFrame, conv_id: str) -> list[str]:
    rows = transcripts[transcripts["conv_id"] == conv_id].sort_values("turn_idx")
    return " ".join(rows["text"]).split()


def test_padding_reaches_the_turn_count_with_unique_conversations():
    base, base_truth = corpus._padded(5, 100, 0)
    transcripts, truth = corpus._padded(5, 100, len(base) + 500)
    assert len(transcripts) >= len(base) + 500
    assert set(truth["conv_id"]) == set(transcripts["conv_id"])
    assert truth["conv_id"].is_unique
    pads = truth[truth["conv_id"].str.startswith("pad_")]
    assert len(pads) and (pads["kind"] == "unique").all()
    # arrival order: base uniques, then padding, then the duplicates
    kinds = list(truth["kind"])
    first_dup = next(i for i, k in enumerate(kinds) if k != "unique")
    assert all(k == "unique" for k in kinds[:first_dup])
    assert pads.index.max() < first_dup
    # the base corpus is unchanged
    assert base_truth["conv_id"].isin(truth["conv_id"]).all()


def test_hotband_members_are_distinct_near_copies_of_one_source():
    transcripts, truth = corpus.hotband_frames(seed=3, num_unique=80, members=25)
    hot = truth[truth["kind"] == "hot_dup"]
    assert len(hot) == 25
    assert hot["source_conv"].nunique() == 1
    src = _flat(transcripts, hot["source_conv"].iloc[0])
    src_sh = corpus._shingles(src, 5)
    copies = {tuple(_flat(transcripts, c)) for c in hot["conv_id"]}
    assert len(copies) == 25 and tuple(src) not in copies
    for tokens in copies:
        assert corpus._jaccard(src_sh, corpus._shingles(list(tokens), 5)) >= 0.75
    # Spark's parquet reader rejects nanosecond timestamps
    assert str(transcripts["ts"].dtype) == "datetime64[us]"
    assert set(truth["conv_id"]) == set(transcripts["conv_id"])


def test_stream_batches_are_cut_by_kind(tmp_path):
    batches, truth, turns = corpus.stream_batches(7, 120, 2500, 4, str(tmp_path))
    kinds = dict(zip(truth["conv_id"], truth["kind"]))
    files = sorted(os.listdir(batches))
    assert len(files) == 4
    mtimes = [os.path.getmtime(os.path.join(batches, f)) for f in files]
    assert mtimes == sorted(mtimes)  # the file source's arrival order
    got = [
        {kinds[c] for c in pd.read_parquet(os.path.join(batches, f))["conv_id"]}
        for f in files
    ]
    assert got[0] == got[1] == {"unique"}
    assert got[2] == {"exact_dup"}
    assert got[3] <= {"near_dup", "substring_dup"}
    total = sum(len(pd.read_parquet(os.path.join(batches, f))) for f in files)
    assert total == turns


def test_stream_warmup_shares_no_content_with_the_measured_batches(tmp_path):
    batches, _, _ = corpus.stream_batches(7, 120, 2500, 4, str(tmp_path / "batches"))
    warm, truth = corpus.stream_warmup(7, str(tmp_path / "warmup"))
    assert os.listdir(warm) == ["batch-0000.parquet"]
    assert (truth["kind"] == "unique").all()
    texts = set(pd.read_parquet(os.path.join(warm, "batch-0000.parquet"))["text"])
    measured = set(pd.concat(pd.read_parquet(os.path.join(batches, f)) for f in os.listdir(batches))["text"])
    assert len(texts) > 0 and not texts & measured
