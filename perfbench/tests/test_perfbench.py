"""Checks of the benchmark's own definitions (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import digest  # noqa: E402
import workloads  # noqa: E402
from data_framework_spark.registry import QUERIES  # noqa: E402


def test_every_workload_query_is_registered():
    for name, queries in workloads.WORKLOADS.items():
        missing = [q for q in queries if q not in QUERIES]
        assert not missing, f"{name}: not in QUERIES: {missing}"
        assert len(set(queries)) == len(queries), f"{name} repeats a query"


def test_excluded_queries_are_registered_and_unused():
    used = {q for queries in workloads.WORKLOADS.values() for q in queries}
    for name in workloads.EXCLUDED:
        assert name in QUERIES
        assert name not in used


def test_layers_come_from_the_defining_module():
    for queries in workloads.WORKLOADS.values():
        for q in queries:
            layer = workloads.layer_of(q)
            assert layer in workloads.LAYERS
            assert QUERIES[q].fn.__module__.startswith(f"data_framework_spark.{layer}.")


def test_every_workload_query_has_a_golden_record():
    golden = workloads.golden()
    for queries in workloads.WORKLOADS.values():
        for q in queries:
            rec = golden[q]
            if QUERIES[q].oracle is None:
                assert rec == {"rows_only": True}
            else:
                assert set(rec) == {"rows", "columns", "digest"}


def test_golden_records_match_the_duckdb_oracles():
    from data_framework_spark.oracle import duckdb_connection
    from data_framework_spark.registry import oracle_sql

    oracles = oracle_sql()
    golden = workloads.golden()
    con = duckdb_connection(workloads.DATA_DIR)
    for name in sorted({q for qs in workloads.WORKLOADS.values() for q in qs}):
        if name in oracles:
            res = con.execute(oracles[name])
            got = digest.result_record(res.fetchall(), [d[0] for d in res.description])
            assert got == golden[name], name


def test_digest_ignores_row_order_but_not_values():
    rows = [(1, "a", 0.5), (2, None, -0.0), (2, None, -0.0)]
    cols = ["k", "s", "x"]
    d = digest.result_digest(rows, cols)
    assert digest.result_digest(list(reversed(rows)), cols) == d
    # column order follows the names, not the position
    swapped = [(s, k, x) for k, s, x in rows]
    assert digest.result_digest(swapped, ["s", "k", "x"]) == d
    assert digest.result_digest(rows[:2], cols) != d
    assert digest.result_digest([(1, "a", 0.5), (2, None, 0.0), (2, None, -0.0)], cols) != d


_IN_CHILD = """
import sys
sys.path[:0] = [{bench!r}, {root!r}]
from datetime import datetime
from decimal import Decimal
import digest
rows = [(1, "x", 2.5, Decimal("1.10"), datetime(2024, 1, 2, 3, 4, 5)), (2, None, float("nan"), None, None)]
print(digest.result_digest(rows, ["id", "s", "f", "d", "ts"]))
"""


def test_digest_is_stable_across_hash_seeds():
    code = _IN_CHILD.format(bench=BENCH, root=ROOT)
    out = {
        subprocess.run(
            [sys.executable, "-c", code],
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
        for seed in ("0", "12345")
    }
    assert len(out) == 1, out


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {"setup_s"} <= {m["name"] for m in spec["end_to_end"]}


def test_sql_metric_values_are_parsed_with_units():
    import counters

    text = (
        "HashMap(142 -> 0, 288 -> 4 ms, 93 -> 1,000, 143 -> 0.0 B, "
        "88 -> total (min, med, max (stageId: taskId))\n8.5 KiB (2.1 KiB, 2.1 KiB, "
        "2.1 KiB (stage 2.0: task 33)), 92 -> total (min, med, max (stageId: taskId))\n"
        "7.8 s (1.8 s, 2.0 s, 2.0 s (stage 2.0: task 34)))"
    )
    values = counters._parse_values(text)
    assert values[142] == 0
    assert values[288] == pytest.approx(0.004)
    assert values[93] == 1000
    assert values[88] == pytest.approx(8.5 * 1024)
    assert values[92] == pytest.approx(7.8)
