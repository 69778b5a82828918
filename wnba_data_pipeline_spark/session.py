"""SparkSession factory.

The reference has no engine of its own (SURVEY.md §4) — pandas is eager and
single-threaded, DuckDB is only used for storage and quality SQL. Here the
whole pipeline is one lazy Catalyst plan, so the session config is where the
"optimizer" of the reference (which doesn't exist) is replaced wholesale.

Every conf below is chosen for the 100 TB posture first and the local[32]
test harness second; comments say which is which. The generated-class
cache bound (``CODEGEN_CACHE_ENTRIES``) serves both: wherever the same plans
run again (a warm registry pass here, a long-lived app on a cluster) they
reuse their compiled classes. The driver-listing bound
(``DRIVER_LISTING_MAX_DIRS``) serves the local posture: the raw tables'
month directories are listed on the driver instead of by a
one-task-per-directory job. A 100 TB table with more directories than the
bound keeps the parallel listing; below it, on an object store, each
directory costs the driver one listing call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _disable_thp_madvise() -> None:
    """Opt this process tree out of transparent-hugepage backing
    (PR_SET_THP_DISABLE, inherited across fork/exec — covers the JVM and
    every Python worker it spawns) and numpy's MADV_HUGEPAGE madvise.

    Round-15 root cause of the r14/r15 "host drift": on this testbed
    (THP=madvise) a 2 MiB hugepage allocation intermittently stalls
    ~75 ms in the kernel (measured: a fresh 64 MiB numpy buffer = 33
    hugepage faults = 2.45 s of SYSTEM time, 0.04 GB/s effective, while
    steady-state bandwidth on already-faulted pages is ~9.4 GB/s) —
    numpy madvises MADV_HUGEPAGE on every large buffer, so every Arrow
    batch, shingle pass and shuffle buffer paid it, erratically, which
    is exactly the 5-10x bandwidth-stage degradation BENCH_SCALE_r15
    recorded. With the madvise suppressed the same allocation runs the
    plain 4 KiB fault path at 1-4.7 GB/s (measured 50-100x recovery).
    Cost on a healthy host: slightly more TLB pressure on multi-GiB
    buffers — negligible at our batch sizes (<=64 MiB Arrow batches).
    SPARK_GRAFT_THP=keep opts out of the mitigation."""
    if os.environ.get("SPARK_GRAFT_THP", "disable") == "keep":
        return
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(41, 1, 0, 0, 0)  # PR_SET_THP_DISABLE = 41
    except Exception:
        pass  # non-Linux / restricted sandbox: the env knob above still
        # reaches numpy in every spawned worker


_disable_thp_madvise()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Entries of Spark's compiled generated-class cache (a static SQL conf,
# default 100). The engine's query mix generates 875 distinct classes:
# on 4 cores at sf0.01, counting Janino compiles through
# CodegenMetrics, building the 50 registry plans compiled 118, their first
# run 636 more and one pipelines pass 121 more. At the default the LRU
# evicted every class before its next use, so each warm pass of the
# benchmark's 11 registry queries recompiled about 190-200; at this bound a
# second run of all 50 queries compiled none. 2,048 is over twice the
# working set.
CODEGEN_CACHE_ENTRIES = 2048

# Directory count up to which a file source lists its partition
# directories on the driver (Spark's default is 32; above it the listing is
# a Spark job of one task per directory). The raw tables' handles list one
# directory per month. Measured on 4 cores with a schema-pinned read
# (``sources.sinks._read_written``), three reads each: 83 month
# directories took 0.67-1.07 s as a job and 0.04-0.05 s on the driver,
# 1,024 directories 4.4-6.1 s as a job and 0.17-0.36 s on the driver.
# Above the bound the parallel listing stays.
DRIVER_LISTING_MAX_DIRS = 1024


def get_spark(
    app_name: str = "wnba-pipeline-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    At cluster scale the master/memory settings come from spark-submit; only
    the SQL confs below matter there. In tests we run ``local[N]``.
    ``extra_confs`` lets the bench harness apply local-scale tuning (e.g.
    small ``files.maxPartitionBytes`` so a 10 MB parquet file still fans out
    across cores) without changing the 100 TB-posture defaults here.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime re-planning — shuffle-partition coalescing, skew-join
        # splitting, and dynamic broadcast selection. Essential at 100 TB
        # where static stats lie; harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static shuffle width: start at cores locally. On a real cluster
        # this would be ~2-3x total cores; AQE coalesces the excess.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Arrow for any pandas-UDF hop (similarity / multimodal operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver's events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as raw nanos (long) and convert
        # in sources.tables.load_events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Deterministic timestamp rendering for oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # A plan run again reuses its compiled classes (see
        # CODEGEN_CACHE_ENTRIES). Static: only a session built here has it.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The raw handles' month directories are listed on the driver, not
        # by a job of one task each (see DRIVER_LISTING_MAX_DIRS).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DRIVER_LISTING_MAX_DIRS),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Set the dynamic confs this engine relies on, on a session we did not
    create (the correctness driver hands us its own SparkSession).

    Everything here is load-bearing for oracle parity, not just perf:
    UTC session timezone + NTZ parquet inference keep date/timestamp casts
    byte-identical to the tz-naive DuckDB oracle, and nanosAsLong is required
    to read the driver's TIMESTAMP(NANOS) events table at all.

    Static confs cannot be set on a running session, so a session handed to
    us keeps Spark's default generated-class cache
    (``spark.sql.codegen.cache.maxEntries``, 100 entries): there a warm
    query may recompile its classes. Only ``get_spark`` sizes it. Nor is
    the listing bound set here: it is a speed setting, not a parity one.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
