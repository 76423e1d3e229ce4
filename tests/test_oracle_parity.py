"""Replicates the driver's DuckDB-oracle comparison for every
registered query at the small scale factor. This is the primary
correctness gate during development (SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

from data_framework_spark.oracle import compare, diff_sample
from data_framework_spark.registry import QUERIES


@pytest.mark.slow  # r18: the 160-query digest is the suite's main
# wall cost (>20 min); the round driver hash-checks the same surface
# at sf0.01 every round, and developers run it via `-m slow`
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(spark, sf_dir, name):
    report = compare(spark, sf_dir, name)
    if not report["ok"] and report.get("mode") == "oracle":
        report["diff"] = diff_sample(spark, sf_dir, name)
    assert report["ok"], report


_DUCK_INTEGRAL = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_FLOATING = {"FLOAT", "DOUBLE"}
_SPARK_INTEGRAL = {"byte", "short", "int", "long"}
_SPARK_FLOATING = {"float", "double"}


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_oracle_output_types(spark, sf_dir):
    """The driver fetches oracle results via pandas/Arrow, where DuckDB
    HUGEINT (e.g. an uncast window sum over BIGINT) canonicalizes to
    float64 and fails the type-sensitive digest even when values match
    (round-3 pack_sequences red row). Pin the whole class: DESCRIBE each
    oracle (no execution) and assert (a) no HUGEINT output column
    anywhere, (b) integral/floating type class agrees with the Spark
    schema column-by-column."""
    from data_framework_spark.oracle import duckdb_connection

    con = duckdb_connection(sf_dir)
    problems = []
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        duck_types = {
            c: t.upper()
            for c, t, *_ in con.execute("DESCRIBE " + q.oracle).fetchall()
        }
        spark_types = {
            f.name: f.dataType.simpleString()
            for f in q.fn(spark, sf_dir).schema.fields
        }
        for col, dt in duck_types.items():
            if "HUGEINT" in dt:
                problems.append(f"{name}.{col}: oracle emits {dt}")
                continue
            st = spark_types.get(col)
            if st in _SPARK_INTEGRAL and dt in _DUCK_FLOATING:
                problems.append(f"{name}.{col}: spark {st} vs oracle {dt}")
            elif st in _SPARK_FLOATING and dt in _DUCK_INTEGRAL:
                problems.append(f"{name}.{col}: spark {st} vs oracle {dt}")
    assert not problems, problems


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_every_query_returns_rows(spark, sf_dir):
    """Queries should be non-trivially populated at sf0.001 (a 0-row
    result can hash-match while verifying nothing)."""
    empty = []
    for name, q in QUERIES.items():
        if q.fn(spark, sf_dir).limit(1).count() == 0:
            empty.append(name)
    assert not empty, f"queries returning 0 rows at sf0.001: {empty}"


_DIGEST_IN_CHILD = """
from datetime import datetime
from decimal import Decimal
from data_framework_spark.oracle import _digest
rows = [(1, "x", 2.5, Decimal("1.10"), datetime(2024, 1, 2, 3, 4, 5)),
        (2, None, float("nan"), None, None)]
print(_digest(rows, ["id", "s", "f", "d", "ts"]))
"""


def test_digest_is_stable_across_hash_seeds():
    """The digest is a stored-comparable value: two processes with
    differently salted `hash()` compute the same one."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {
        subprocess.run(
            [sys.executable, "-c", _DIGEST_IN_CHILD],
            cwd=root,
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
        for seed in ("0", "12345")
    }
    assert len(out) == 1, out
