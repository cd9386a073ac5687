"""Seeded inputs: the ``orders`` and ``documents`` tables and the request
streams. Pure numpy/pyarrow, no Spark: the program under test only ever
sees what these functions return.

Shapes follow the sf0.1 test tables: ``orders`` has 150,000 rows over
15,000 customer keys (about 10 orders per key), order dates uniform over
1995-01-01 .. 2001-08-01; ``documents`` has 2,500 docs (half the sf0.1
table: a full pass costs about the same at 1,500 or 2,500 documents and
a third more at 5,000) of 10-100 words
drawn from a 30-word vocabulary, 5% of them planted near-duplicates (a
copy of another doc plus the token ``dup``).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

ORDERS_ROWS = 150_000
N_CUSTKEYS = 15_000
DATE0 = np.datetime64("1995-01-01", "D")
BASE_DAYS = 2404  # 1995-01-01 .. 2001-08-01
DOCS = 2_500

_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_VOCAB = np.array(
    (
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row "
        "the agg key query a scan batch"
    ).split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])

#: Columns every lookup projects (``o_orderkey`` makes the checksum
#: row-identifying).
PROJECTION = ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]


def orders(seed: int, rows: int = ORDERS_ROWS) -> pa.Table:
    """The ``orders`` table: uniform customer keys and dates."""
    rng = np.random.default_rng([seed, 1])
    custkeys = rng.integers(0, N_CUSTKEYS, rows)
    days = rng.integers(0, BASE_DAYS, rows)
    dates = (DATE0 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(rows, dtype=np.int64), pa.int64()),
            "o_custkey": pa.array(custkeys, pa.int64()),
            "o_orderstatus": pa.array(_STATUS[rng.integers(0, 3, rows)]),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000.0, 500000.0, rows), 2), pa.float64()
            ),
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, rows)]),
        }
    )


def day_to_datetime(day: int) -> dt.datetime:
    return dt.datetime(1995, 1, 1) + dt.timedelta(days=int(day))


def documents(seed: int, n: int = DOCS) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(10, 101, n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos : pos + k]))
        pos += k
    planted = rng.choice(n, n // 20, replace=False)
    sources = rng.integers(0, n, len(planted))
    for i, j in zip(planted, sources):
        if i != j:
            texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# ------------------------------------------------------------ request stream


@dataclass(frozen=True)
class Lookup:
    """One request: ``cls`` is ``point`` or ``wide``; ``date_range`` is a
    half-open ``[lo, hi)`` day interval on ``o_orderdate`` or None."""

    cls: str
    keys: tuple[int, ...]
    date_range: tuple[int, int] | None

    def clauses(self) -> list[tuple[str, str, dt.datetime]]:
        if self.date_range is None:
            return []
        lo, hi = self.date_range
        return [
            ("o_orderdate", ">=", day_to_datetime(lo)),
            ("o_orderdate", "<", day_to_datetime(hi)),
        ]


class LookupStream:
    """Seeded, endless lookup generator for the static lake, in blocks.

    Every block holds 4 ``point`` requests (1, 2, 3 and 4 keys) and
    3 ``wide`` requests (64-96 keys each, about 54 of 128 files) in a
    seeded order; about half of each class's requests carry an
    ``o_orderdate`` range clause. Stratifying by block keeps every run's
    class mix and key-count mix the same, so seeds change which keys are
    asked, not how much work a run holds. Wide key counts stay in a narrow
    band so that every wide request informs the class median (over a
    64-256 band a run's median rested on its few mid-sized requests and
    read 15% apart run to run). Keys are Zipf-skewed over a seeded
    ranking of the customer keys, and 10% of keys lie outside the key
    domain (zero candidate files)."""

    POINT_SIZES = ((1, 2), (2, 3), (3, 4), (4, 5))
    WIDE_SIZES = ((64, 97), (64, 97), (64, 97))
    ABSENT_SHARE = 0.10
    ZIPF_S = 0.8

    def __init__(self, seed: int, salt: int = 0):
        self.rng = np.random.default_rng([seed, 4, salt])
        self.ranking = self.rng.permutation(N_CUSTKEYS)
        w = 1.0 / np.arange(1, N_CUSTKEYS + 1) ** self.ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()
        self._blocks = 0

    def _keys(self, k: int) -> tuple[int, ...]:
        ranks = np.searchsorted(self.cdf, self.rng.random(k))
        keys = self.ranking[np.minimum(ranks, N_CUSTKEYS - 1)]
        absent = self.rng.random(k) < self.ABSENT_SHARE
        keys = np.where(absent, N_CUSTKEYS + self.rng.integers(0, N_CUSTKEYS, k), keys)
        return tuple(sorted({int(x) for x in keys}))

    def _date_range(self) -> tuple[int, int]:
        span = int(self.rng.integers(180, 720))
        lo = int(self.rng.integers(0, BASE_DAYS - span))
        return lo, lo + span

    def block(self) -> list[Lookup]:
        out = []
        for cls, bins in (("point", self.POINT_SIZES), ("wide", self.WIDE_SIZES)):
            # alternate blocks round the odd half up and down
            n_dated = (len(bins) + self._blocks % 2) // 2
            dated = self.rng.permutation(len(bins)) < n_dated
            for (lo, hi), with_dates in zip(bins, dated):
                size = int(self.rng.integers(lo, hi))
                dates = self._date_range() if with_dates else None
                out.append(Lookup(cls, self._keys(size), dates))
        self._blocks += 1
        return [out[i] for i in self.rng.permutation(len(out))]

