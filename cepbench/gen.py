"""Seeded event-log generator for the CEP benchmark.

Every workload fixes its own shape here (key count, events per key,
type mix, value range); the only run-time input is the seed.  The same
seed always yields the same log, byte for byte.

An event log is a pandas frame ``user_id | event_id | event_type |
value`` sorted by ``event_id``.  ``event_id`` is a global clock: keys
are interleaved uniformly at random over it, so each key's rows are in
``event_id`` order and ``within`` bounds expressed in ``event_id``
units behave like time bounds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

TYPES = ("signup", "purchase", "error", "click", "view")


@dataclass(frozen=True)
class Shape:
    """What a workload's event log looks like."""

    keys: int
    min_len: int  # events per key, spread evenly over [min_len, max_len]
    max_len: int
    type_mix: tuple  # probabilities, aligned with TYPES
    value_max: float  # values are uniform in [1, value_max], 2 decimals


# ~400 events per key: per-group costs amortise and the NFA's run-set
# work dominates.  Signup-heavy so several runs are live per event.
LONG_KEYS = Shape(
    keys=80, min_len=250, max_len=550,
    type_mix=(0.12, 0.40, 0.08, 0.25, 0.15), value_max=100.0,
)
# ~15 events per key over many keys: the "millions of users" shape.
# The fast path runs no Python, so it gets through many more events
# than the kernel in a pass.
FUNNEL = Shape(
    keys=12_000, min_len=10, max_len=20,
    type_mix=(0.10, 0.45, 0.10, 0.20, 0.15), value_max=200.0,
)
# The long-keys mix over fewer events per key, replayed as a stream.
STREAM = Shape(
    keys=400, min_len=40, max_len=80,
    type_mix=LONG_KEYS.type_mix, value_max=LONG_KEYS.value_max,
)


def events(shape: Shape, seed: int, scale: float = 1.0) -> pd.DataFrame:
    """The event log for ``shape`` and ``seed``.

    ``scale`` shrinks the key count (tests use it for tiny smoke runs);
    the per-key shape is unchanged."""
    rng = np.random.default_rng(seed)
    n_keys = max(2, int(shape.keys * scale))
    # Key ids, key lengths and each key's count of every event type are
    # the same for every seed: with few keys per partition, seed-drawn
    # keys or type counts would move the slowest task, and with it the
    # pass time, from seed to seed.  The seed draws the interleaving
    # (hence each key's event order) and the values.
    key_ids = np.arange(n_keys, dtype=np.int64) * 7919 + 1
    lengths = np.linspace(shape.min_len, shape.max_len, n_keys).round().astype(np.int64)
    type_idx = np.concatenate(
        [np.repeat(np.arange(len(TYPES)), _type_counts(n, shape.type_mix)) for n in lengths]
    )
    perm = rng.permutation(int(lengths.sum()))
    user = np.repeat(key_ids, lengths)[perm]
    types = np.asarray(TYPES, dtype=object)[type_idx[perm]]
    value = np.round(rng.uniform(1.0, shape.value_max, size=len(perm)), 2)
    return pd.DataFrame(
        {
            "user_id": user,
            "event_id": np.arange(len(perm), dtype=np.int64),
            "event_type": types,
            "value": value,
        }
    )


def _type_counts(length: int, mix) -> np.ndarray:
    """``length`` split over the types in proportion ``mix``
    (largest-remainder rounding)."""
    raw = np.asarray(mix, dtype=float) * length
    counts = np.floor(raw).astype(np.int64)
    counts[np.argsort(counts - raw)[: length - counts.sum()]] += 1
    return counts


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)


def write_stream_files(df: pd.DataFrame, directory: str, n_files: int) -> list[str]:
    """Split ``df`` into ``n_files`` consecutive ``event_id`` ranges,
    one parquet file each, with strictly increasing mtimes.

    A file source reads files oldest first, so every key's rows reach
    the stream in ``event_id`` order across micro-batches."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    base = 1_000_000_000  # fixed, so mtimes do not depend on the clock
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:04d}.parquet")
        df.iloc[bounds[i]:bounds[i + 1]].to_parquet(path, index=False)
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return paths
