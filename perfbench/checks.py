"""Output checks: order-insensitive result digests for the query
workloads, and the pandas model of the ``txtable_ingest`` operations.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import numpy as np
import pandas as pd

# Doubles are compared to 9 significant digits: enough to catch a wrong
# answer, loose enough that partition order in a floating-point sum does
# not flip the digest.
SIG_DIGITS = 9


def canon(v):
    """A hashable, type-tagged token for one result cell."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else ("f", float(f"{f:.{SIG_DIGITS}g}"))
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, Decimal):
        return ("d", str(v))
    if isinstance(v, np.datetime64):
        return None if np.isnat(v) else ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("t", dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (bytes, bytearray)):
        return ("x", bytes(v).hex())
    if isinstance(v, dict):
        return ("m", tuple(sorted((repr(canon(k)), canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(canon(x) for x in v))
    if hasattr(v, "asDict"):  # pyspark Row inside a cell (struct)
        return canon(v.asDict(recursive=False))
    return ("r", repr(v))


def digest_rows(cols: list[str], rows) -> str:
    """sha256 over the sorted canonical rows, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def same_rows(got, want) -> bool:
    """Multiset equality of two row lists under ``canon``."""
    key = lambda rows: sorted(repr(tuple(canon(v) for v in r)) for r in rows)  # noqa: E731
    return key(got) == key(want)


def digest_pandas(pdf: pd.DataFrame) -> tuple[int, str]:
    rows = list(pdf.itertuples(index=False, name=None))
    return len(rows), digest_rows(list(pdf.columns), rows)


class TableModel:
    """In-memory model of the keyed ``TxTable`` the ingest loop writes:
    key -> row, with merge (batch rows win), delete and point/range
    reads."""

    def __init__(self, key: str):
        self.key = key
        self.rows: dict[int, tuple] = {}
        self.cols: list[str] = []

    def merge(self, batch: pd.DataFrame) -> None:
        self.cols = list(batch.columns)
        for row in batch.itertuples(index=False, name=None):
            self.rows[row[self.cols.index(self.key)]] = row

    def delete(self, keys) -> None:
        for k in keys:
            self.rows.pop(int(k), None)

    def lookup(self, k: int) -> list[tuple]:
        r = self.rows.get(int(k))
        return [r] if r is not None else []

    def slice(self, lo: int, hi: int, value_col: str) -> tuple[int, float]:
        i = self.cols.index(value_col)
        hit = [r for k, r in self.rows.items() if lo <= k <= hi]
        return len(hit), sum(r[i] for r in hit)

    def digest(self) -> tuple[int, str]:
        return len(self.rows), digest_rows(self.cols, self.rows.values())
