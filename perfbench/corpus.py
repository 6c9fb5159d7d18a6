"""Seeded corpora for the benchmark workloads, written as parquet with the
planted truth beside them.

The program under test only ever sees the parquet; ``truth`` stays in the
benchmark's process for the correctness gate.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from cpdd_spark.fixtures import EPOCH_2026, FixtureParams, generate

TRUTH_COLS = ["conv_id", "kind", "source_conv"]
N_FILES = 4  # parquet files of a batch corpus, one per core

# hot band: per-token mutation rate, and the shingle Jaccard (over
# SHINGLE_W-token shingles) every member keeps with its source
HOT_MUTATION = 0.015
HOT_MIN_JACCARD = 0.75
SHINGLE_W = 5

# conversations of the stream's warm-up micro-batch
STREAM_WARMUP_CONVS = 30
# warm-up corpora are seeded apart from the measured one, so that they share
# no content with it that a cache could carry over
WARMUP_SEED_OFFSET = 104729


def _write_parts(transcripts: pd.DataFrame, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(transcripts) // N_FILES)
    for i in range(N_FILES):
        part = transcripts.iloc[i * step : (i + 1) * step]
        if len(part):
            part.to_parquet(os.path.join(out_dir, f"part-{i:04d}.parquet"), index=False)
    return out_dir


def _uniques(seed: int, num_convs: int):
    """A fixtures corpus of ``num_convs`` planted-unique conversations."""
    return generate(
        FixtureParams(
            num_convs=num_convs,
            exact_dup_pct=0.0,
            near_dup_pct=0.0,
            substring_dup_pct=0.0,
            seed=seed,
        )
    )


def _padded(seed: int, num_convs: int, turns: int):
    """The fixtures' default mix of ``num_convs`` conversations, topped up
    with planted-unique conversations (``pad_*``, from a second seeded
    fixture) until it holds at least ``turns`` turns.

    Conversation lengths are heavy-tailed, so the total turn count of a
    fixed number of conversations swings by about 5% from seed to seed.
    Topping up to a fixed total keeps the input size, and with it
    ``turns_per_s``, comparable across seeds. Returns (transcripts, truth)
    with conversations in arrival order: the base uniques, the padding,
    then the duplicates."""
    fx = generate(FixtureParams(num_convs=num_convs, seed=seed))
    transcripts, truth = fx.transcripts, fx.truth[TRUTH_COLS]
    need = turns - len(transcripts)
    if need <= 0:
        return transcripts, truth
    extra = _uniques(seed + 7919, need // 8 + 50)
    sizes = extra.transcripts.groupby("conv_id").size().sort_index()
    keep = sizes.index[: int((sizes.cumsum() < need).sum()) + 1]
    pad = extra.transcripts[extra.transcripts["conv_id"].isin(set(keep))].copy()
    pad["conv_id"] = "pad_" + pad["conv_id"]
    pad_truth = pd.DataFrame({"conv_id": "pad_" + pd.Series(keep), "kind": "unique", "source_conv": ""})
    n_unique = int((truth["kind"] == "unique").sum())
    truth = pd.concat([truth.iloc[:n_unique], pad_truth, truth.iloc[n_unique:]], ignore_index=True)
    return pd.concat([transcripts, pad], ignore_index=True), truth


def mixed(seed: int, num_convs: int, turns: int, out_dir: str):
    """The fixtures' default mix (30% exact, 20% near, 5% substring
    duplicates), padded to ``turns`` turns. Returns (parquet dir, truth
    frame, turns)."""
    transcripts, truth = _padded(seed, num_convs, turns)
    path = _write_parts(transcripts, out_dir)
    return path, truth, len(transcripts)


def _shingles(tokens: list[str], w: int) -> set[tuple[str, ...]]:
    return {tuple(tokens[i : i + w]) for i in range(len(tokens) - w + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def hotband_frames(seed: int, num_unique: int, members: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A unique-only fixtures corpus plus ``members`` DISTINCT token-mutated
    near-duplicates of one source conversation.

    At ``HOT_MUTATION`` most MinHash bands of a member match the
    source's, so the whole block lands in the same LSH buckets and shares
    substring fingerprints: every pair in it becomes a candidate. Members
    are distinct from each other and from the source, so the exact tier
    collapses nothing. Each member keeps at least ``HOT_MIN_JACCARD`` of the
    source's shingles (rate halved and retried otherwise), so its truth
    label is honest with respect to the pinned tau.
    """
    fx = _uniques(seed, num_unique)
    base = fx.transcripts
    rng = np.random.default_rng(seed + 1)
    vocab = pd.unique(base["text"].str.split().explode().dropna()).astype(object)

    # the source: the median-length conversation among those long enough
    # to carry shingle mass
    lens = base.groupby("conv_id")["text"].apply(lambda s: s.str.split().str.len().sum())
    long_enough = lens[lens >= 200].sort_values()
    src_id = long_enough.index[len(long_enough) // 2] if len(long_enough) else lens.idxmax()
    src = base[base["conv_id"] == src_id].sort_values("turn_idx")
    src_turns = [t.split() for t in src["text"]]
    src_sh = _shingles([w for t in src_turns for w in t], SHINGLE_W)

    seen = {tuple(w for t in src_turns for w in t)}
    rows = []
    for k in range(members):
        rate = HOT_MUTATION
        while True:
            turns = []
            for t in src_turns:
                t = list(t)
                for pos in np.flatnonzero(rng.random(len(t)) < rate):
                    t[pos] = vocab[rng.integers(0, len(vocab))]
                turns.append(t)
            flat = tuple(w for t in turns for w in t)
            if flat in seen:
                continue  # identical to the source or another member
            if _jaccard(src_sh, _shingles(list(flat), SHINGLE_W)) >= HOT_MIN_JACCARD:
                break
            rate /= 2.0
        seen.add(flat)
        cid = f"hot_{k:06d}"
        for j, (t, role, tool) in enumerate(zip(turns, src["role"], src["tool"])):
            rows.append((cid, j, role, " ".join(t), tool, EPOCH_2026 + k * 60 + j))

    hot = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    hot = hot.astype(
        {"conv_id": "string", "turn_idx": "int32", "role": "string", "text": "string", "tool": "string"}
    )
    # microsecond precision: Spark's parquet reader rejects TIMESTAMP(NANOS),
    # pandas' default resolution
    hot["ts"] = pd.to_datetime(hot["ts"].to_numpy(dtype="int64"), unit="s").astype(
        "datetime64[us]"
    )
    transcripts = pd.concat([base, hot], ignore_index=True)
    transcripts = transcripts.iloc[rng.permutation(len(transcripts))].reset_index(drop=True)

    truth = pd.concat(
        [
            fx.truth[TRUTH_COLS],
            pd.DataFrame(
                {
                    "conv_id": [f"hot_{k:06d}" for k in range(members)],
                    "kind": "hot_dup",
                    "source_conv": src_id,
                }
            ),
        ],
        ignore_index=True,
    )
    return transcripts, truth


def hotband(seed: int, num_unique: int, members: int, out_dir: str):
    """Write :func:`hotband_frames` as parquet. Returns (dir, truth, turns)."""
    transcripts, truth = hotband_frames(seed, num_unique, members)
    path = _write_parts(transcripts, out_dir)
    return path, truth, len(transcripts)


def stream_batches(seed: int, num_convs: int, turns: int, n_batches: int, out_dir: str):
    """The padded mix cut into single-file micro-batches of whole
    conversations, in arrival order, originals before their duplicates:
    ``n_batches - 2`` batches of unique content, then one batch of every
    exact copy (all exact-tier hits), then one of the near and substring
    copies. Cutting by kind rather than by count keeps each batch's kind
    fixed across seeds: one near copy landing in the exact-hit batch would
    send it down the near tier's full path. Returns (dir, truth, turns)."""
    transcripts, truth = _padded(seed, num_convs, turns)
    kinds = dict(zip(truth["conv_id"], truth["kind"]))
    order = list(truth["conv_id"])
    uniques = [c for c in order if kinds[c] == "unique"]
    per = -(-len(uniques) // (n_batches - 2))
    files = [uniques[i * per : (i + 1) * per] for i in range(n_batches - 2)]
    files.append([c for c in order if kinds[c] == "exact_dup"])
    files.append([c for c in order if kinds[c] in ("near_dup", "substring_dup")])
    os.makedirs(out_dir, exist_ok=True)
    # the file source orders by modification time: space them a second apart
    t0 = time.time() - len(files) - 60
    for i, ids in enumerate(files):
        part = transcripts[transcripts["conv_id"].isin(set(ids))]
        path = os.path.join(out_dir, f"batch-{i:04d}.parquet")
        part.to_parquet(path, index=False)
        os.utime(path, (t0 + i, t0 + i))
    return out_dir, truth, len(transcripts)


def stream_warmup(seed: int, out_dir: str):
    """One micro-batch of ``STREAM_WARMUP_CONVS`` unique conversations, for
    a drain into separate state before the measured one. Returns (dir,
    truth)."""
    fx = _uniques(seed + WARMUP_SEED_OFFSET, STREAM_WARMUP_CONVS)
    os.makedirs(out_dir)
    fx.transcripts.to_parquet(os.path.join(out_dir, "batch-0000.parquet"), index=False)
    return out_dir, fx.truth[TRUTH_COLS]
