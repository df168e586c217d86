"""Inputs for every workload.

The batch workload reads the query registry's own sf 0.01 fixtures, a
copy of which is kept in ``perfbench/tables/`` (``TABLES_DIR``) so a run
reads nothing outside the checkout. The streaming workload reads parquet
files of keyed events, generated from the seed and staged into a watched
directory; the same seed always gives the same events.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00, the first event time of a stream


def file_checksum(paths: list[str]) -> str:
    """Content hash of input files, the key for cached oracle results."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]


# ------------------------------------------------------------- streaming

EVENT_SCHEMA = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP_NTZ, amount BIGINT, sched_us BIGINT"


def event_table(event_id: np.ndarray, user_id: np.ndarray, ts_us: np.ndarray, amount: np.ndarray,
                sched_us: np.ndarray) -> pa.Table:
    """One file's worth of streaming events (``EVENT_SCHEMA``)."""
    return pa.table({
        "event_id": pa.array(event_id.astype(np.int64)),
        "user_id": pa.array(user_id.astype(np.int64)),
        "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
        "amount": pa.array(amount.astype(np.int64)),
        "sched_us": pa.array(sched_us.astype(np.int64)),
    })


def publish(table: pa.Table, staging: str, watched: str, name: str, mtime: float) -> None:
    """Write ``table`` outside the watched directory, give it ``mtime``,
    then rename it in, so the file source never lists a partial file and
    orders files by strictly increasing modification time."""
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, os.path.join(watched, name))


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float = 1.1) -> np.ndarray:
    """``n`` keys drawn from ``n_keys`` users with Zipf(s) popularity."""
    weights = 1.0 / np.arange(1, n_keys + 1) ** s
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=n, p=weights / weights.sum())]
