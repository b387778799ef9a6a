"""Seeded tick stream for the ``tick_store`` workload, with its own ground
truth.

The generator owns every row it hands to ``TickStore.write``, so each read
and scan can be checked against a pandas recomputation instead of against
the store itself.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

N_UIDS = 64
VALUE_COLUMNS = ("price", "size", "side")
SCHEMA = "uid string, ts timestamp, price double, size long, side string"
T0 = pd.Timestamp("2024-01-02 00:00:00")
BATCH_SPAN = pd.Timedelta(hours=6)
MIN_WINDOW = pd.Timedelta(minutes=1)
# Bytes of one row as the user holds it: 3-char uid, three 8-byte fields
# and a 1-char side flag. The denominator of space amplification.
RAW_ROW_BYTES = 3 + 8 + 8 + 8 + 1


@dataclass(frozen=True)
class Read:
    """One point-range request: ``TickStore.read([uid], start, end, columns)``."""

    uid: str
    start: pd.Timestamp
    end: pd.Timestamp
    columns: tuple[str, ...]


@dataclass(frozen=True)
class Batch:
    index: int
    frame: pd.DataFrame
    reads: tuple[Read, ...]


def _ts_arg(ts: pd.Timestamp) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S.%f")


def read_args(r: Read) -> dict:
    """Keyword arguments of the ``TickStore.read`` call for ``r``."""
    return {
        "uids": [r.uid],
        "start": _ts_arg(r.start),
        "end": _ts_arg(r.end),
        "columns": list(r.columns),
    }


class TickGen:
    """Deterministic batches of ticks over 64 uids with skewed sizes, each
    followed by a burst of reads that favour popular uids and recent
    windows. The same seed gives the same rows and the same requests."""

    def __init__(self, seed: int, batches: int, rows_per_batch: int, reads_per_batch: int):
        self.seed = seed
        self.n_batches = batches
        self.rows_per_batch = rows_per_batch
        self.reads_per_batch = reads_per_batch
        self.uids = [f"U{i:02d}" for i in range(N_UIDS)]
        rng = np.random.default_rng(seed)
        # Zipf-like popularity over a seed-permuted uid order: a few uids
        # hold most rows and draw most reads.
        w = 1.0 / np.arange(1, N_UIDS + 1) ** 1.2
        self.weights = (w / w.sum())[rng.permutation(N_UIDS)]

    def batches(self) -> list[Batch]:
        rng = np.random.default_rng([self.seed, 1])
        out = []
        for b in range(self.n_batches):
            lo = T0 + b * BATCH_SPAN
            counts = rng.multinomial(self.rows_per_batch, self.weights)
            uid = np.repeat(np.array(self.uids, dtype=object), counts)
            n = len(uid)
            offs = rng.integers(0, BATCH_SPAN // pd.Timedelta(microseconds=1), n)
            frame = pd.DataFrame(
                {
                    "uid": uid,
                    "ts": (lo + pd.to_timedelta(offs, unit="us")).astype("datetime64[ns]"),
                    "price": np.round(rng.lognormal(4.0, 0.5, n), 4),
                    "size": rng.integers(1, 10_000, n, dtype=np.int64),
                    "side": np.where(rng.random(n) < 0.5, "B", "S").astype(object),
                }
            )
            out.append(Batch(b, frame, self._reads(rng, hwm=lo + BATCH_SPAN)))
        return out

    def _reads(self, rng: np.random.Generator, hwm: pd.Timestamp) -> tuple[Read, ...]:
        history = hwm - T0
        reads = []
        for _ in range(self.reads_per_batch):
            uid = self.uids[rng.choice(N_UIDS, p=self.weights)]
            # recent windows: the end sits an exponential distance behind the
            # high-water mark; widths are log-uniform from 1 minute to the
            # whole history
            back = pd.Timedelta(seconds=float(rng.exponential(0.1 * history.total_seconds())))
            end = max(hwm - back, T0 + MIN_WINDOW)
            width = pd.Timedelta(
                seconds=float(
                    math.exp(
                        rng.uniform(
                            math.log(MIN_WINDOW.total_seconds()),
                            math.log(history.total_seconds()),
                        )
                    )
                )
            )
            start = max(end - width, T0)
            k = int(rng.integers(1, len(VALUE_COLUMNS) + 1))
            cols = tuple(sorted(rng.choice(VALUE_COLUMNS, k, replace=False)))
            reads.append(Read(uid, start.floor("us"), end.floor("us"), cols))
        return tuple(reads)


def _column_sum(s: pd.Series, col: str):
    if col == "ts":
        return int(pd.to_datetime(s).astype("int64").sum())
    if col == "side":
        return int((s == "B").sum())
    if col == "price":
        return math.fsum(s.tolist())  # correctly rounded: order-independent
    return int(s.sum())


def check_read(truth: pd.DataFrame, r: Read, got: pd.DataFrame) -> list[str]:
    """Compare one read's result with the rows the generator wrote: row count
    and the sum of every returned column (``ts`` as epoch ns, ``side`` as
    the count of "B")."""
    want = truth[(truth.uid == r.uid) & (truth.ts >= r.start) & (truth.ts <= r.end)]
    problems = []
    expected_cols = ["uid", "ts", *r.columns]
    if list(got.columns) != expected_cols:
        return [f"columns {list(got.columns)} != {expected_cols}"]
    if len(got) != len(want):
        problems.append(f"rows {len(got)} != {len(want)}")
    if len(got) and set(got.uid) != {r.uid}:
        problems.append(f"uids {sorted(set(got.uid))} != [{r.uid}]")
    for col in ("ts", *r.columns):
        gs, ws = _column_sum(got[col], col), _column_sum(want[col], col)
        if gs != ws:
            problems.append(f"sum({col}) {gs} != {ws}")
    return problems


def check_scan(truth: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """Compare ``list_uids()`` with per-uid count/min/max of every row
    written so far, so each acknowledged write must be readable."""
    want = truth.groupby("uid").ts.agg(["count", "min", "max"])
    have = got.set_index("uid").sort_index()
    problems = []
    if sorted(have.index) != sorted(want.index):
        return [f"uids {len(have)} listed, {len(want)} written"]
    for uid, row in want.iterrows():
        h = have.loc[uid]
        if int(h.n_rows) != int(row["count"]):
            problems.append(f"{uid}: n_rows {int(h.n_rows)} != {int(row['count'])}")
        if pd.Timestamp(h.start) != row["min"] or pd.Timestamp(h.end) != row["max"]:
            problems.append(f"{uid}: extent [{h.start}, {h.end}] != [{row['min']}, {row['max']}]")
    return problems
