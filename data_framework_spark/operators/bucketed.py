"""Bucketed (co-located) joins — pre-shuffling at write time.

The lineitem⋈orders orderkey join appears in half the TPC-H shapes;
on a cluster it costs a full shuffle of both facts EVERY query. The
fix at 100 TB is layout: write both tables bucketed by the join key
(`bucketBy(n, key).sortBy(key)`), after which any equi-join on that
key is exchange-free — each task zips matching buckets (explain shows
SortMergeJoin with NO Exchange under either side). This module
materializes the bucketed twin once per (sf_dir, buckets) into a
session-scoped warehouse and runs the join on it; the plan-property
test pins the no-Exchange invariant.

The driver-checked query compares the bucketed join's result against
the plain SQL join in DuckDB — same rows, different physical plan,
proving layout changes semantics not at all and shuffles entirely.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_framework_spark import cache
from data_framework_spark.sources.tables import load_table


def bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Materialize lineitem/orders bucketed+sorted by orderkey; returns
    the two table names. One-time cost per session, amortized over
    every subsequent orderkey join (exactly the production trade).

    Session-cached per (sf_dir content, n_buckets) (cache.py, family
    "bucketed"), and a hit is validated against the ACTIVE session's
    catalog AND the on-disk data directory: a table dropped from the
    catalog, or a path cleaned externally, is re-materialized instead
    of returned stale. The tag is md5-derived from (sf_dir, n_buckets)
    plus the PID: deterministic within a process (repeated runs reuse
    one directory instead of accumulating mkdtemps) but private across
    processes, so two concurrent benchmarks can't rmtree the parquet
    files backing each other's live external tables. The directory is
    removed at process exit (own dirs only: with /tmp shared across
    PID namespaces, a PID invisible here can still be a live process
    elsewhere)."""
    tag = hashlib.md5(f"{sf_dir}|{n_buckets}".encode()).hexdigest()[:10]
    base = os.path.join(
        tempfile.gettempdir(), f"bucketed_{tag}_{os.getpid()}"
    )

    def ready(names: tuple[str, str]) -> bool:
        return (
            spark.catalog.tableExists(names[0])
            and spark.catalog.tableExists(names[1])
            and os.path.isdir(os.path.join(base, "lineitem"))
            and os.path.isdir(os.path.join(base, "orders"))
        )

    return cache.get_or_build(
        spark, "bucketed", sf_dir, n_buckets,
        lambda: _write_bucketed(spark, sf_dir, n_buckets, tag, base),
        valid=ready,
    )


def _write_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int, tag: str, base: str
) -> tuple[str, str]:
    if os.path.exists(base):
        shutil.rmtree(base)  # replace: the catalog entry is gone/stale
    os.makedirs(cache.track_dir(base))
    li_name, ord_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    for name in (li_name, ord_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    # external tables (explicit path): only metadata lands in the
    # catalog; spark.sql.warehouse.dir is a static conf we can't touch
    (
        load_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(n_buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(base, "lineitem"))
        .saveAsTable(li_name)
    )
    (
        load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .bucketBy(n_buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(base, "orders"))
        .saveAsTable(ord_name)
    )
    return li_name, ord_name


def bucketed_join(spark: SparkSession, sf_dir: str, n_buckets: int = 8) -> DataFrame:
    """Orderkey join over the bucketed twins, with the merge-join path
    forced: at test scale Catalyst would broadcast orders (and skip
    the bucketed read entirely); the point of this operator is the
    big-big plan, where both sides stream their co-located buckets
    with NO exchange and NO sort (bucketBy+sortBy metadata)."""
    li_name, ord_name = bucketed_tables(spark, sf_dir, n_buckets)
    li = spark.table(li_name).hint("merge")
    orders = spark.table(ord_name)
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


def q_bucketed_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority through the BUCKETED orderkey join —
    zero exchanges on either fact (see tests/test_plan_properties.py).
    The oracle runs the plain join: identical rows prove the layout
    path changes the physical plan only."""
    j = bucketed_join(spark, sf_dir)
    return (
        j.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


Q_BUCKETED_JOIN_LINEITEM_SQL = """
SELECT o_orderpriority,
       count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_sketch_accuracy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy CONTRACT: per event_type, the exact distinct
    user count plus booleans asserting the mergeable sketches
    (approx_count_distinct HLL++, approx_percentile) land within
    tolerance of the exact answers computed in the same pass. Sketch
    VALUES are engine-specific so they can't be hash-compared; the
    tolerance booleans can — the oracle states exact values and
    literal TRUEs, so a sketch drifting out of tolerance fails the
    hash. At 100 TB the sketches are the only viable plan (partial-
    aggregatable, bounded memory); this query pins how much accuracy
    that trade costs."""
    ev = load_table(spark, sf_dir, "events")
    # r17 optimization (guide §2.3/§7.2): mixing COUNT(DISTINCT) with
    # the TypedImperativeAggregate sketches in ONE groupBy forces the
    # distinct-rewrite Expand + a SortAggregate that serializes every
    # sketch buffer per phase — measured 2.6-2.8 s warm at sf0.1,
    # while each aggregate alone costs <=0.5 s. Splitting the distinct
    # count from the sketch trio and joining the two 5-row aggregates
    # back (broadcast) runs both as plain hash aggregates: 0.63 s
    # warm, same exact n_users, and the tolerance booleans the oracle
    # pins are unchanged (the sketches stay within 5%/1% by a wide
    # margin at every shipped SF — re-verified against the oracle).
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
    )
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("__acd"),
        F.percentile("value", 0.5).alias("__p50"),
        F.percentile_approx("value", 0.5, 10_000).alias("__ap50"),
    )
    # null-safe equi-join (r18, r17 advisory): the former plain inner
    # join would silently DROP a NULL event_type group that the
    # pre-split single aggregate kept as a row. The shipped corpora
    # have zero NULL event_type values (verified), so rows/values are
    # identical; <=> keeps the split future-proof against a generator
    # change, and BroadcastHashJoin handles EqualNullSafe keys.
    agg = exact.join(
        F.broadcast(sketches),
        exact["event_type"].eqNullSafe(sketches["event_type"]),
    ).drop(sketches["event_type"])
    return agg.select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("__acd") - F.col("n_users"))
            <= F.lit(0.05) * F.col("n_users")
        ).alias("acd_within_5pct"),
        (
            F.abs(F.col("__ap50") - F.col("__p50"))
            <= F.lit(0.01) * F.abs(F.col("__p50"))
        ).alias("p50_within_1pct"),
    ).orderBy("event_type")


Q_SKETCH_ACCURACY_EVENTS_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       TRUE AS acd_within_5pct,
       TRUE AS p50_within_1pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_hll_union_contract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch CONTRACT for DataSketches HLL: per event_type,
    the exact distinct-user count plus a boolean asserting the HLL
    estimate (lgK=12, ~1.6% RSE) lands within 5%; then the per-type
    sketches are UNION-MERGED (hll_union_agg) and the merged estimate
    is checked against the exact global distinct count. The merge is
    the property that matters at 100 TB: per-partition sketches
    combine associatively, so the global estimate needs one tiny
    reduce instead of a full distinct shuffle. Sketch values are
    engine-specific, so (as with q_sketch_accuracy_events) the oracle
    states exact counts and literal TRUEs — an estimate drifting out
    of tolerance fails the hash."""
    ev = load_table(spark, sf_dir, "events")
    # split the distinct count from the sketch aggregate for the same
    # reason as q_sketch_accuracy_events above (distinct + imperative
    # sketch in one groupBy = Expand + sort-aggregate over serialized
    # sketch buffers); the 5-row frames join back broadcast
    exact_t = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
    )
    sk_t = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("__sk"),
    )
    # null-safe for the same reason as q_sketch_accuracy_events above
    per_type = exact_t.join(
        F.broadcast(sk_t),
        exact_t["event_type"].eqNullSafe(sk_t["event_type"]),
    ).drop(sk_t["event_type"])
    global_exact = ev.agg(
        F.countDistinct("user_id").alias("__g_exact")
    )
    merged = sk_t.agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__g_est")
    )
    return (
        per_type.select(
            "event_type",
            "n_users",
            (
                F.abs(
                    F.hll_sketch_estimate(F.col("__sk")) - F.col("n_users")
                )
                <= F.lit(0.05) * F.col("n_users")
            ).alias("hll_within_5pct"),
        )
        .crossJoin(F.broadcast(global_exact))
        .crossJoin(F.broadcast(merged))
        .select(
            "event_type",
            "n_users",
            "hll_within_5pct",
            F.col("__g_exact").alias("global_users"),
            (
                F.abs(F.col("__g_est") - F.col("__g_exact"))
                <= F.lit(0.05) * F.col("__g_exact")
            ).alias("merged_within_5pct"),
        )
        .orderBy("event_type")
    )


Q_HLL_UNION_CONTRACT_EVENTS_SQL = """
WITH g AS (SELECT count(DISTINCT user_id) AS global_users FROM events)
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       TRUE AS hll_within_5pct,
       g.global_users,
       TRUE AS merged_within_5pct
FROM events CROSS JOIN g
GROUP BY event_type, g.global_users
ORDER BY event_type
"""
