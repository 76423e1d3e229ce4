"""Stable, order-insensitive digest of a query result.

Each row is rendered with the oracle comparator's cell normaliser
(`data_framework_spark.oracle._norm`), columns in name order, and the
sorted row keys are hashed with blake2b. Unlike `oracle._digest`, which
sums Python's salted `hash()`, the value is the same in every process,
so it can be stored with the benchmark and checked in later runs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Sequence


def result_digest(rows: Iterable[Sequence], columns: Sequence[str]) -> str:
    from data_framework_spark.oracle import _norm

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted("|".join(_norm(row[i]) for i in order) for row in rows)
    h = hashlib.blake2b(digest_size=16)
    for key in keys:
        h.update(key.encode())
        h.update(b"\n")
    return h.hexdigest()


def result_record(rows: Sequence[Sequence], columns: Sequence[str]) -> dict:
    """What a run is checked against: row count, sorted column names, digest."""
    return {
        "rows": len(rows),
        "columns": sorted(columns),
        "digest": result_digest(rows, columns),
    }
