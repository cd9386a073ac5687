"""Answers computed without the engine: numpy over the generated rows.

A lookup result is compared by row count and an order-insensitive
checksum (a wrapping uint64 sum of a per-row mix of the projected
columns), so neither row order nor batch boundaries matter.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .data import DATE0

_US_PER_DAY = 86_400_000_000
#: Epoch day of the request stream's day 0.
_DAY0 = int(DATE0.astype(np.int64))


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, wrapping uint64 arithmetic."""
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _row_hashes(orderkey, custkey, date_us, price) -> np.ndarray:
    cents = np.round(np.asarray(price, dtype=np.float64) * 100.0).astype(np.int64)
    h = _mix(np.asarray(orderkey, dtype=np.int64).view(np.uint64))
    h = _mix(h ^ np.asarray(custkey, dtype=np.int64).view(np.uint64))
    h = _mix(h ^ np.asarray(date_us, dtype=np.int64).view(np.uint64))
    return _mix(h ^ cents.view(np.uint64))


def checksum_table(table: pa.Table) -> tuple[int, int]:
    """(row count, checksum) of a lookup result with the benchmark's
    projection, whatever its row order or timestamp zone."""
    if table.num_rows == 0:
        return 0, 0
    date = table.column("o_orderdate")
    if pa.types.is_timestamp(date.type):
        date = pc.cast(date, pa.timestamp("us", date.type.tz)).cast(pa.int64())
    h = _row_hashes(
        table.column("o_orderkey").to_numpy(),
        table.column("o_custkey").to_numpy(),
        date.to_numpy(),
        table.column("o_totalprice").to_numpy(),
    )
    return table.num_rows, int(h.sum(dtype=np.uint64))


class OrdersOracle:
    """Expected (count, checksum) for any lookup over ``table``'s rows,
    which it indexes by customer key."""

    def __init__(self, table: pa.Table) -> None:
        cust = table.column("o_custkey").to_numpy()
        order = np.argsort(cust, kind="stable")
        self.cust = cust[order]
        date_us = table.column("o_orderdate").cast(pa.int64()).to_numpy()[order]
        self.days = date_us // _US_PER_DAY - _DAY0
        self.hashes = _row_hashes(
            table.column("o_orderkey").to_numpy()[order],
            self.cust,
            date_us,
            table.column("o_totalprice").to_numpy()[order],
        )

    def answer(
        self, keys: Iterable[int], date_range: tuple[int, int] | None
    ) -> tuple[int, int]:
        keys = np.unique(np.asarray(list(keys), dtype=np.int64))
        lo = np.searchsorted(self.cust, keys, "left")
        hi = np.searchsorted(self.cust, keys, "right")
        idx = np.concatenate([np.arange(a, b) for a, b in zip(lo, hi)] + [np.empty(0, np.int64)])
        if date_range is not None:
            d = self.days[idx]
            idx = idx[(d >= date_range[0]) & (d < date_range[1])]
        return len(idx), int(self.hashes[idx].sum(dtype=np.uint64))


class FileKeys:
    """Per-file (customer key, day) columns read with pyarrow, to count
    candidate files that hold at least one matching row."""

    def __init__(self) -> None:
        self._cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def _load(self, path: str) -> tuple[np.ndarray, np.ndarray]:
        got = self._cache.get(path)
        if got is None:
            import pyarrow.parquet as pq

            t = pq.read_table(
                path.removeprefix("file:"), columns=["o_custkey", "o_orderdate"]
            )
            got = (
                t.column("o_custkey").to_numpy(),
                t.column("o_orderdate").cast(pa.int64()).to_numpy() // _US_PER_DAY - _DAY0,
            )
            self._cache[path] = got
        return got

    def useful(
        self, files: Iterable[str], keys: Iterable[int], date_range: tuple[int, int] | None
    ) -> int:
        keys = np.asarray(list(keys), dtype=np.int64)
        n = 0
        for f in files:
            cust, days = self._load(f)
            m = np.isin(cust, keys)
            if date_range is not None:
                m &= (days >= date_range[0]) & (days < date_range[1])
            n += bool(m.any())
        return n
