"""SparkSession factory.

Single place that encodes the session conventions the whole engine
assumes: UTC session timezone (so timestamp comparisons against
external engines are stable), AQE on (runtime re-planning / skew
handling), Arrow enabled (Pandas-UDF fast path), and shuffle
partitions sized to the local core count rather than the 200 default.

On a real cluster the same factory applies; only `master` and the
shuffle-partition count change (cores × executors × 2-3 is the usual
starting point — AQE coalescing trims the excess at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Runtime-settable SQLConf every entry point pins before touching data.
#: These are the session conventions the whole engine assumes; they are
#: safe to set on ANY session (idempotent, documented):
#:   - UTC session timezone: timestamp literals, NTZ casts, and collected
#:     timestamps must agree with the UTC-assuming DuckDB oracle
#:     regardless of the machine's local TZ or the events.ts encoding.
#:   - nanosAsLong: some driver generations write events.ts as parquet
#:     TIMESTAMP(NANOS), which Spark otherwise refuses to read
#:     (PARQUET_TYPE_ILLEGAL) on a vanilla session.
#:   - TIMESTAMP_MICROS parquet writes: the INT96 legacy default
#:     carries NO min/max column statistics, which silently disables
#:     row-group/file skipping on every timestamp-sorted layout the
#:     engine writes (compaction, export).
RUNTIME_CONVENTIONS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def _pin_process_utc() -> None:
    """Pin the PYTHON process timezone to UTC (POSIX tzset).

    `spark.sql.session.timeZone` does NOT govern `collect()`:
    TimestampType.fromInternal uses `datetime.fromtimestamp`, i.e. the
    process-local zone, so on a non-UTC machine every collected
    timestamp is local wall time while the DuckDB oracle returns UTC —
    a false hash red on every timestamp query despite the session pin
    (round-9 review). No-op where TZ is already UTC (this container)
    or tzset is unavailable (non-POSIX).

    CAUTION — PROCESS-GLOBAL MUTATION: this sets ``os.environ["TZ"]``
    and calls ``time.tzset()``, switching datetime behavior for the
    WHOLE host process, not just this library. A host application
    embedding the engine that relies on local-time semantics can opt
    out by setting ``SPARK_GRAFT_NO_TZSET=1`` (any non-empty value);
    collected timestamps then carry the host's local zone and the
    caller owns reconciling them (round-10 advisory)."""
    import time

    if os.environ.get("SPARK_GRAFT_NO_TZSET"):
        return
    if os.environ.get("TZ") != "UTC" and hasattr(time, "tzset"):
        os.environ["TZ"] = "UTC"
        time.tzset()


def ensure_session_conventions(spark: SparkSession) -> SparkSession:
    """Pin the engine's runtime session conventions on `spark`.

    Called unconditionally at every driver-facing entry point (registry
    query wrappers, `load_table`, streaming sources) so behavior is
    deterministic rather than encoding- or call-order-dependent.
    Sessions built by `get_spark()` already satisfy these; for vanilla
    sessions (the correctness driver's) this is the single sanctioned
    place that mutates session-global conf.

    Side effect: also pins the host PROCESS timezone to UTC via
    `_pin_process_utc` (required for collect() parity); embedders can
    opt out with ``SPARK_GRAFT_NO_TZSET=1`` — see that docstring.
    """
    _pin_process_utc()
    for k, v in RUNTIME_CONVENTIONS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark


def _resources() -> tuple[str, str]:
    """(cpus, driver memory) for get_spark: SPARK_GRAFT_CPUS and
    SPARK_GRAFT_DRIVER_MEM when set, else sized to this host — the CPUs
    this process may run on, and half the physical memory, capped at
    24g, for the driver JVM (in local mode it also runs every task)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus is None:
        if hasattr(os, "sched_getaffinity"):
            cpus = str(len(os.sched_getaffinity(0)))
        else:
            cpus = str(os.cpu_count() or 1)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        mem = f"{min(phys_mb // 2, 24 * 1024)}m"
    return cpus, mem


def get_spark(app_name: str = "data_framework_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus, mem = _resources()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # apply the full runtime convention set at build time too, so a
    # get_spark() session satisfies every convention even on code
    # paths that never hit an entry-point wrapper or load_table
    for k, v in RUNTIME_CONVENTIONS.items():
        builder = builder.config(k, v)
    _pin_process_utc()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
