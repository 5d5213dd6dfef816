"""Benchmark inputs, made from the seed with numpy and written with pyarrow.

The tables have the shapes of ``feature_extraction_spark.synth``
(transcripts: conv_id, turn_idx, role, text, tool, ts; embeddings:
vec_id, embedding, label) and the same vocabulary and edge cases:
truncated-Pareto conversation sizes, empty turns, '' tokens, tool turns,
sub-second, zero and above-session-gap pauses. They are written without
Spark, so set-up does not depend on the generator's speed or on the JIT.
Every table is split into ``FILES`` parquet files, so a scan has as many
input splits whatever the host.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from feature_extraction_spark.synth import _ROLES, _TOOLS, _VOCAB

FILES = 4
PARETO_ALPHA = 1.2
MEAN_WORDS = 12
SESSION_GAP_MS = 300_000.0

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def transcripts(seed: int, turns: int, max_turns: int) -> pa.Table:
    """Exactly ``turns`` rows in (conv_id, turn_idx) order; the last
    conversation is cut short where it crosses the total."""
    rng = np.random.default_rng(seed)
    sizes = []
    total = 0
    while total < turns:
        u = rng.random(1024)
        n = np.minimum(max_turns, np.ceil((1.0 - u) ** (-1.0 / PARETO_ALPHA)))
        sizes.extend(int(x) for x in n)
        total += int(n.sum())
    sizes = np.array(sizes, dtype=np.int64)
    ends = np.cumsum(sizes)
    n_convs = int(np.searchsorted(ends, turns) + 1)
    sizes = sizes[:n_convs]
    sizes[-1] -= int(ends[n_convs - 1]) - turns

    conv = np.repeat(np.arange(n_convs), sizes)
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    turn_idx = np.arange(turns) - starts

    role_idx = (turn_idx + (rng.random(turns) < 0.15)) % len(_ROLES)
    roles = np.array(_ROLES, dtype=object)[role_idx]
    tools = np.where(roles == "tool",
                     np.array(_TOOLS, dtype=object)[rng.integers(0, len(_TOOLS), turns)],
                     None)

    u_nw = rng.random(turns)
    n_words = np.where(u_nw < 0.02, 0, (u_nw * 2 * MEAN_WORDS).astype(np.int64) + 1)
    vocab = np.array(_VOCAB, dtype=object)
    words = vocab[rng.integers(0, len(_VOCAB), int(n_words.sum()))]
    words[rng.random(len(words)) < 0.01] = ""  # '' tokens give double spaces
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]

    u_gap = rng.random(turns)
    gap_ms = np.select(
        [u_gap < 0.01, u_gap < 0.89, u_gap < 0.98],
        [0.0, 200.0 + u_gap * 5_000.0, 5_000.0 + u_gap * 60_000.0],
        2 * SESSION_GAP_MS + u_gap * 1e6,
    )
    gap_ms[turn_idx == 0] = 0.0
    cum = np.cumsum(gap_ms)
    conv_cum = cum - np.repeat(cum[np.cumsum(sizes) - sizes], sizes)
    epoch_ms = (1_700_000_000 + (conv % 10_000) * 7_200) * 1000
    ts_us = (epoch_ms + conv_cum.astype(np.int64)) * 1000

    return pa.table({
        "conv_id": [f"conv_{c:06d}" for c in conv],
        "turn_idx": turn_idx.astype(np.int32),
        "role": roles.tolist(),
        "text": texts,
        "tool": tools.tolist(),
        "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
    }, schema=TRANSCRIPT_SCHEMA)


def embeddings(seed: int, n: int, dim: int, labels: int = 16) -> pa.Table:
    """Clustered vectors: a per-label center in [-2, 2) per dimension plus
    uniform noise in [-0.5, 0.5), so IVF and PQ have structure to use."""
    rng = np.random.default_rng(seed)
    label = np.arange(n) % labels
    centers = rng.random((labels, dim)) * 4.0 - 2.0
    vecs = (centers[label] + rng.random((n, dim)) - 0.5).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write(table: pa.Table, path: str, files: int = FILES) -> None:
    """``files`` parquet files of consecutive rows under ``path``."""
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
