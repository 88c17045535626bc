"""Seeded synthetic minute bars for the ``bar_ingest`` workload, and the
independent checker that decides whether the ingested table is right.

The traffic follows the reference's ingest service: one initial load of
``FETCH_DAYS_HISTORY`` = 30 day-partitions (``app/config.py:35``), then
scheduled runs that each re-fetch that whole 30-day window, as the
reference does on every run (``app/alpaca_service.py:117-121``): 29
already-stored days and one new day. Some bars on the re-fetched days come
back corrected (the provider revised them); every other re-delivered bar is
byte-for-byte what is stored.

A day holds the 390 minute bars of a regular US session, 09:30-16:00 New
York; ``Minute`` is one of the reference's timeframes
(``app/config.py:62-71``). The reference gives no revision rate, so the
corrected share is an assumption; the upsert sink rewrites every partition
a delivery touches whether or not its bars changed, so the share only
decides which values the checker must see, not how much the sink writes.

The checker never asks the engine what the answer is. The expected
last-wins state per ``(symbol, timeframe, ts)`` lives in numpy arrays
updated by the generator, and the table is read back with pyarrow, not
Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TIMEFRAME = "Minute"
BASE_DAY = np.datetime64("2024-01-01", "D")
OPEN_MINUTE = 14 * 60 + 30  # 09:30 New York = 14:30 UTC
US_PER_MINUTE = 60_000_000
US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class BarShape:
    # A few hundred symbols would make every run a 1.5M-bar delivery, about
    # 13 s at local[4]. The benchmark's checks repeat each workload tens of
    # times, so the symbols and the runs are cut until a run of the whole
    # workload, warm-up included, takes about 40 s on a 4-core host: one
    # 30-day delivery is then 117k bars.
    symbols: int = 10
    bars_per_day: int = 390  # 09:30-16:00, one bar a minute
    history_days: int = 30  # reference FETCH_DAYS_HISTORY, re-fetched every run
    runs: int = 3  # scheduled runs per pass; a replay of the last follows
    corrected_share: float = 0.02


def symbol_names(n: int) -> np.ndarray:
    return np.array([f"SYM{i:04d}" for i in range(n)], dtype=object)


@dataclass
class BarState:
    """Expected table contents: one slot per (day, symbol, minute).

    ``present`` marks the keys stored so far; the value arrays hold the
    last delivered version of each key. Arrays are sized for the whole
    pass up front, so a day index is also its position.
    """

    shape: BarShape
    seed: int
    present: np.ndarray = field(init=False)
    ohlc: np.ndarray = field(init=False)  # (days, symbols, minutes, 4) in cents
    volume: np.ndarray = field(init=False)
    rng: np.random.Generator = field(init=False)
    runs_done: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        s = self.shape
        days = s.history_days + s.runs
        self.present = np.zeros((days, s.symbols, s.bars_per_day), dtype=bool)
        self.ohlc = np.zeros((days, s.symbols, s.bars_per_day, 4), dtype=np.int64)
        self.volume = np.zeros((days, s.symbols, s.bars_per_day), dtype=np.int64)
        self.rng = np.random.default_rng(self.seed)
        self._fill_days(0, s.history_days)

    def _fill_days(self, lo: int, hi: int) -> None:
        """Draw fresh bars for days [lo, hi): a per-symbol random walk in
        whole cents, so the double prices written are exact."""
        s = self.shape
        n = (hi - lo, s.symbols, s.bars_per_day)
        base = self.rng.integers(1_000, 50_000, size=(1, s.symbols, 1))
        walk = np.cumsum(self.rng.integers(-25, 26, size=n), axis=2)
        close = np.maximum(base + walk, 100)
        open_ = np.maximum(close + self.rng.integers(-20, 21, size=n), 100)
        high = np.maximum(open_, close) + self.rng.integers(0, 30, size=n)
        low = np.maximum(np.minimum(open_, close) - self.rng.integers(0, 30, size=n), 50)
        self.ohlc[lo:hi] = np.stack([open_, high, low, close], axis=-1)
        self.volume[lo:hi] = self.rng.integers(100, 100_000, size=n)
        self.present[lo:hi] = True

    def initial_days(self) -> range:
        return range(0, self.shape.history_days)

    def next_run(self) -> range:
        """Advance the state by one scheduled run and return the days its
        delivery covers: the trailing history window, whose newest day is
        new."""
        s = self.shape
        new_day = s.history_days + self.runs_done
        self._fill_days(new_day, new_day + 1)
        lo = new_day - s.history_days + 1
        ohlc, volume = self.ohlc[lo:new_day], self.volume[lo:new_day]  # views
        fix = self.rng.random(volume.shape) < s.corrected_share
        close = ohlc[..., 3]
        close[fix] += self.rng.integers(1, 50, size=int(fix.sum()))
        np.maximum(ohlc[..., 1], close, out=ohlc[..., 1])  # high stays >= close
        volume[fix] += 1
        self.runs_done += 1
        return range(lo, new_day + 1)

    def delivery(self, days: range) -> pa.Table:
        """The raw provider rows for ``days``: short column names (t/o/h/l/c/v)
        exactly as the ingest's RAW_BAR_SCHEMA expects them."""
        s = self.shape
        d = np.arange(days.start, days.stop)
        sym = symbol_names(s.symbols)
        n = len(d) * s.symbols * s.bars_per_day
        day_us = (BASE_DAY - np.datetime64("1970-01-01", "D")).astype(np.int64) * US_PER_DAY
        t = (
            day_us
            + d[:, None, None] * US_PER_DAY
            + (OPEN_MINUTE + np.arange(s.bars_per_day))[None, None, :] * US_PER_MINUTE
        )
        t = np.broadcast_to(t, (len(d), s.symbols, s.bars_per_day)).reshape(n)
        px = self.ohlc[days.start : days.stop].reshape(n, 4) / 100.0
        return pa.table(
            {
                "symbol": pa.array(np.tile(np.repeat(sym, s.bars_per_day), len(d)), pa.string()),
                "timeframe": pa.array([TIMEFRAME] * n, pa.string()),
                "t": pa.array(t, pa.timestamp("us", tz="UTC")),
                "o": px[:, 0],
                "h": px[:, 1],
                "l": px[:, 2],
                "c": px[:, 3],
                "v": pa.array(self.volume[days.start : days.stop].reshape(n), pa.int64()),
            }
        )

    def expected(self) -> tuple[int, int]:
        """(row count, checksum) of the state the table must hold."""
        days = np.flatnonzero(self.present.any(axis=(1, 2)))
        tbl = self.delivery(range(int(days.min()), int(days.max()) + 1))
        keep = self.present[days.min() : days.max() + 1].reshape(-1)
        return tbl.num_rows - int((~keep).sum()), checksum(
            tbl.filter(pa.array(keep)), names=("symbol", "t", "o", "h", "l", "c", "v")
        )

    @staticmethod
    def day_name(day: int) -> str:
        return str(BASE_DAY + np.timedelta64(day, "D"))


def checksum(tbl: pa.Table, names=("symbol", "ts", "open", "high", "low", "close", "volume")) -> int:
    """Order-insensitive checksum of the value columns: the sum (mod 2^64)
    of a per-row hash over symbol, ts in microseconds, the four prices and
    the volume. Timeframe is constant; audit columns are excluded."""
    cols = [tbl.column(n) for n in names]
    ts = cols[1]
    if pa.types.is_timestamp(ts.type):
        ts = ts.cast(pa.timestamp("us", tz=ts.type.tz)).cast(pa.int64())
    frame = pd.DataFrame(
        {
            "symbol": cols[0].to_numpy(zero_copy_only=False),
            "ts": np.asarray(ts.to_numpy(zero_copy_only=False), dtype=np.int64),
            **{f"p{i}": np.asarray(c.to_numpy(), dtype=np.float64) for i, c in enumerate(cols[2:6])},
            "volume": np.asarray(cols[6].to_numpy(), dtype=np.int64),
        }
    )
    return int(pd.util.hash_pandas_object(frame, index=False).to_numpy().sum(dtype=np.uint64))


def read_table(path: str | os.PathLike) -> pa.Table:
    """Read the ingested bar table (a hive-partitioned directory) with pyarrow."""
    dataset = ds.dataset(str(path), format="parquet", partitioning="hive")
    return dataset.to_table(columns=["symbol", "timeframe", "ts", "open", "high", "low", "close", "volume"])


def table_state(path: str | os.PathLike) -> tuple[int, int]:
    tbl = read_table(path)
    return tbl.num_rows, checksum(tbl)


def partition_files(path: str | os.PathLike) -> dict[str, dict[str, tuple[int, int]]]:
    """{bar_date: {file: (size, mtime_ns)}}: the byte-identity fingerprint
    used to prove a run left the partitions outside its window alone."""
    out: dict[str, dict[str, tuple[int, int]]] = {}
    root = Path(path)
    for pdir in root.glob("bar_date=*"):
        out[pdir.name.split("=", 1)[1]] = {
            f.name: (f.stat().st_size, f.stat().st_mtime_ns) for f in pdir.glob("*.parquet")
        }
    return out


def changed_untouched(before: dict, after: dict, touched: set[str]) -> list[str]:
    """Partitions outside ``touched`` whose files changed between the two
    fingerprints; an empty list means the run kept them byte-identical."""
    return sorted(d for d in before if d not in touched and before[d] != after.get(d))


def write_delivery(tbl: pa.Table, path: str | os.PathLike) -> int:
    """Stage one delivery as a parquet file; returns its size in bytes."""
    pq.write_table(tbl, path)
    return Path(path).stat().st_size
