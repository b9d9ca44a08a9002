"""Seeded benchmark inputs.

Every field of a generated turn is a pure function of its global
conversation index (joern_spark.generator), so a seed picks a window of
conversation indices and the corpus inside it keeps the generator's
shape: the 1-in-509 mega-conversation tail and the five hub cities.
Different seeds give different conversations, timestamps and
parameter draws; the same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np

from joern_spark import generator as G

# Conversation windows start below this index; conv_block_counts is
# materialised up to the window end, so it bounds generator memory.
_MAX_OFFSET = 1_000_000
_ROW_GROUP = 32768


def window_start(seed: int, salt: int) -> int:
    """First conversation index of the window for (seed, salt)."""
    h = G.mix(np.uint64(seed), np.uint64(salt))
    return int(h % np.uint64(_MAX_OFFSET))


def conversations(lo: int, n_convs: int):
    """Rows of conversations [lo, lo + n_convs) as a pandas frame."""
    nblocks = G.conv_block_counts(lo + n_convs)[lo:]
    return G._generate_conv_range(lo, lo + n_convs, nblocks)


def write_corpus(path: str, lo: int, n_turns: int, parts: int) -> dict:
    """Write about `n_turns` turns as `parts` parquet files under `path`
    (the generator's on-disk layout); returns the corpus statistics."""
    # the fewest conversations that reach n_turns (every conversation
    # has at least 4 turns), so every seed gives the same corpus size
    n_blocks = G.conv_block_counts(lo + n_turns // 4)[lo:]
    n_convs = max(parts, int(np.searchsorted(np.cumsum(n_blocks * 4), n_turns)) + 1)
    bounds = np.linspace(0, n_convs, parts + 1).astype(int)
    os.makedirs(path, exist_ok=True)
    turns = mega = 0
    for i in range(parts):
        df = conversations(lo + int(bounds[i]), int(bounds[i + 1] - bounds[i]))
        df.to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"),
            index=False,
            row_group_size=_ROW_GROUP,
        )
        turns += len(df)
        mega += int((df.groupby("conv_id").size() >= 1024).sum())
    return {
        "turns": turns,
        "conversations": n_convs,
        "mega_conversations": mega,
        "first_conversation": lo,
        "files": parts,
        "bytes": dir_bytes(path),
    }


def land_delta(landing_dir: str, staging_dir: str, lo: int, n_convs: int, idx: int) -> int:
    """Land conversations [lo, lo + n_convs) as one parquet file. The file
    is written aside and renamed in, so a stream never lists a partial
    file. Returns the number of turns landed."""
    df = conversations(lo, n_convs)
    os.makedirs(staging_dir, exist_ok=True)
    tmp = os.path.join(staging_dir, f"delta-{idx:05d}.parquet")
    df.to_parquet(tmp, index=False, row_group_size=_ROW_GROUP)
    os.replace(tmp, os.path.join(landing_dir, f"delta-{idx:05d}.parquet"))
    return len(df)


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under `path` (0 when absent)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
