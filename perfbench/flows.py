"""The benchmark's own user callables, shipped to Python workers.

Workers import this module by name, so it must stay importable from the
repository root. With ``PERFBENCH_FN_DIR`` set, the ``traced_*`` variants
also keep, per worker process, the total time spent inside the callable
in a small file that the driver reads when the query ends.
"""

from __future__ import annotations

import os
import time

import pandas as pd

WINDOW_SCHEMA = (
    "key BIGINT, window_start TIMESTAMP, window_end TIMESTAMP, n BIGINT, total BIGINT, max_event_id BIGINT"
)


def running_mean(state, value):
    """``stateful_map`` mapper: the key's running mean of ``value``."""
    count, total = state if state is not None else (0, 0)
    count, total = count + 1, total + int(value)
    return (count, total), total / count


def window_totals(pdf: pd.DataFrame) -> pd.DataFrame:
    """``fold_window`` fold: event count, amount total and newest event."""
    return pd.DataFrame({
        "key": [int(pdf["key"].iat[0])],
        "window_start": [pdf["window_start"].iat[0]],
        "window_end": [pdf["window_end"].iat[0]],
        "n": [len(pdf)],
        "total": [int(pdf["amount"].sum())],
        "max_event_id": [int(pdf["event_id"].max())],
    })


_fn_ns = 0
_fn_fd: int | None = None


def _record(ns: int) -> None:
    global _fn_ns, _fn_fd
    _fn_ns += ns
    if _fn_fd is None:
        path = os.path.join(os.environ["PERFBENCH_FN_DIR"], f"{os.getpid()}.ns")
        _fn_fd = os.open(path, os.O_WRONLY | os.O_CREAT, 0o644)
    os.pwrite(_fn_fd, b"%20d" % _fn_ns, 0)


def traced_running_mean(state, value):
    t0 = time.perf_counter_ns()
    out = running_mean(state, value)
    _record(time.perf_counter_ns() - t0)
    return out


def traced_window_totals(pdf: pd.DataFrame) -> pd.DataFrame:
    t0 = time.perf_counter_ns()
    out = window_totals(pdf)
    _record(time.perf_counter_ns() - t0)
    return out


def user_fn_ms(fn_dir: str) -> float:
    """Total time, over all worker processes, spent in traced callables."""
    total = 0
    for name in os.listdir(fn_dir):
        with open(os.path.join(fn_dir, name), "rb") as f:
            total += int(f.read().strip() or 0)
    return total / 1e6
