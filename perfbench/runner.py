"""One benchmark run in a fresh process: set-up, a cold pass, warm passes.

Started by `run.py`, which owns the process tree, the per-run
directories and the environment (`SPARK_GRAFT_*`). This process
imports the package, builds the session, then for every query of the
workload times two calls separately:

- construct: `QUERIES[name].fn(spark, sf_dir)`, the layer's public query
  function plus any eager actions it fires;
- execute: the action, a write to the noop sink.

The cold pass runs the queries in name order, and after each query's
timed action collects the same DataFrame once (untimed) to check it
against the stored golden record. Warm passes then repeat in the same
session, each in an order drawn from the seed: one settling pass, left
out of the measurement, then measured passes until `--seconds` have
passed (at least three). With `--trace 1` every phase runs under its own job group and
its Spark counters are read back (`counters.PhaseTracer`); warm passes
alternate untraced and traced so the tracing overhead is measured in
the same run.

The result (timings, checks, spans) is written as JSON to `--out`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

from workloads import WORKLOADS, golden, layer_of


def _warm_session(spark, sf_dir: str) -> None:
    """JVM + parquet footers, then one Python UDF so the worker pool is
    up (the same warm-up `bench.py` does before timing)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ident(s):
        return s

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    (
        spark.range(256)
        .repartition(8)
        .select(_ident(F.col("id")).alias("x"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _check(df, expected: dict) -> str | None:
    """None when `df` matches the golden record, else what differs."""
    from digest import result_record

    rows = [tuple(r) for r in df.collect()]
    if expected.get("rows_only"):
        return None if rows else "rows-only query returned no rows"
    got = result_record(rows, list(df.columns))
    bad = [k for k in ("rows", "columns", "digest") if got[k] != expected[k]]
    return f"mismatch in {', '.join(bad)}" if bad else None


class Run:
    def __init__(self, spark, sf_dir: str, tracer):
        from data_framework_spark.registry import QUERIES
        from data_framework_spark.similarity.ann import evict_route

        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = QUERIES
        self.evict_route = evict_route
        self.tracer = tracer
        self.spans: list[dict] = []
        self.failures: list[dict] = []

    def _group(self, trace_id: str, phase: str) -> str:
        group = f"{trace_id}/{phase}"
        self.spark.sparkContext.setJobGroup(group, phase)
        return group

    def one(self, pass_name: str, name: str, traced: bool, check: dict | None):
        """Time one query; return (construct_s, execute_s) or None on failure."""
        q = self.queries[name]
        for route in q.cached_routes:
            self.evict_route(self.spark, self.sf_dir, route)
        trace_id = f"{pass_name}/{name}"
        sc = self.spark.sparkContext
        try:
            if traced:
                cgroup = self._group(trace_id, "construct")
            t0 = time.perf_counter()
            df = q.fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if traced:
                c_counts = self.tracer.read(cgroup)
                egroup = self._group(trace_id, "execute")
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            if traced:
                e_counts = self.tracer.read(egroup)
                sc.setJobGroup(f"{trace_id}/check", "check")
            problem = _check(df, check) if check is not None else None
        except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
            self.failures.append(
                {"pass": pass_name, "query": name, "error": traceback.format_exc(limit=3)}
            )
            return None
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if problem is not None:
            self.failures.append({"pass": pass_name, "query": name, "error": problem})
            return None
        if traced:
            layer = layer_of(name)
            self.spans += [
                {"trace_id": trace_id, "span": "query", "parent": None,
                 "layer": layer, "start": t0, "end": t3},
                {"trace_id": trace_id, "span": "construct", "parent": "query",
                 "layer": layer, "start": t0, "end": t1, **c_counts},
                {"trace_id": trace_id, "span": "execute", "parent": "query",
                 "layer": layer, "start": t2, "end": t3, **e_counts},
            ]
        return t1 - t0, t3 - t2

    def run_pass(self, pass_name: str, order: list[str], traced: bool, checks=None):
        t0 = time.perf_counter()
        per_query = {}
        for name in order:
            per_query[name] = self.one(
                pass_name, name, traced, None if checks is None else checks[name]
            )
        return {
            "name": pass_name,
            "traced": traced,
            "wall_s": time.perf_counter() - t0,
            "queries": per_query,
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)
    names = sorted(WORKLOADS[args.workload])
    checks = golden()

    # the package's modules are part of set-up: importing the registry
    # imports every layer
    import data_framework_spark.registry  # noqa: F401
    from data_framework_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    t_started = time.monotonic()
    _warm_session(spark, args.data)
    t_ready = time.monotonic()

    tracer = None
    if traced:
        from counters import PhaseTracer

        tracer = PhaseTracer(spark)
    run = Run(spark, args.data, tracer)
    cold = run.run_pass("cold", names, traced, checks)

    rng = random.Random(args.seed)

    def shuffled() -> list[str]:
        order = names[:]
        rng.shuffle(order)
        return order

    # The first pass after the cold one still runs 10-25 % slower than
    # the passes after it (JIT, worker pool), so it settles the session
    # and is not measured.
    settle = run.run_pass("settle", shuffled(), False)
    # Measured warm passes until the next one would end past --seconds;
    # at least three, so a traced run has untraced and traced ones and
    # an untraced run a median of three.
    warm = []
    t_warm = time.perf_counter()
    while len(warm) < 3 or (
        time.perf_counter() - t_warm + warm[-1]["wall_s"] <= args.seconds
    ):
        pass_traced = traced and len(warm) % 2 == 1
        warm.append(run.run_pass(f"warm{len(warm)}", shuffled(), pass_traced))

    result = {
        "session_started": t_started,
        "ready": t_ready,
        "layers": {n: layer_of(n) for n in names},
        "cold": cold,
        "settle": settle,
        "warm": warm,
        "failures": run.failures,
        "spans": run.spans,
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
