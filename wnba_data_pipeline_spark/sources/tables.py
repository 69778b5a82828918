"""Parquet table loaders for the driver's synthetic star schema.

Analog of the reference's warehouse scans (SURVEY §2 A4/A5;
``transform_player_stats.py:20-33``, ``feature_engineering.py:28-37``): the
reference SELECTs whole tables out of DuckDB into pandas; here a load is a
lazy scan node that Catalyst prunes (columns) and filters (predicates) at the
parquet reader, so "load then filter" costs only what the query touches.

Scale notes: at 100 TB these would be date/key-partitioned directories (see
``sinks.upsert_partitions`` and the raw layer in
``plans.layers``) so partition pruning kicks in on the date predicates
(SURVEY §2 B2); the loader API is the same.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Lazy-plan handle cache: keyed by (session id, sf_dir, table). A DataFrame
# is an immutable logical plan — reusing the handle skips the ~75 ms
# driver-side cost of re-listing the path and re-reading the parquet footer
# on every query construction (measured locally; the dominant fixed cost of
# sub-second queries). This caches NO data, only the unresolved scan node.
_HANDLES: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; ``events`` gets its TIMESTAMP(NANOS) column normalized.

    The driver's ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS),
    which Spark's reader rejects unless ``spark.sql.legacy.parquet.nanosAsLong``
    is set (done in ``session.ensure_confs``); we rebuild a microsecond
    TIMESTAMP_NTZ column with exact integer arithmetic (``div``, not float
    division: nanos ~1.7e18 exceeds double's 53-bit mantissa).
    """
    # evict handles of stopped sessions first (round-8 review fix: a
    # long-lived process recreating sessions would otherwise pin every
    # dead session's JVM-side state forever through the cached plans; the
    # check is a driver-local attribute read, no RPC). getattr-guarded so
    # Spark Connect / future PySpark without these internals degrades to
    # no eviction instead of raising in the hottest loader path
    # (round-9 advice fix).
    for k in [
        k
        for k, df in _HANDLES.items()
        if getattr(getattr(df.sparkSession, "_sc", None), "_jsc", True) is None
    ]:
        del _HANDLES[k]
    key = (id(spark), sf_dir, name)
    cached = _HANDLES.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
    else:
        df = spark.read.parquet(path)
    _HANDLES[key] = df
    return df


def collect_bounded(df: DataFrame, max_rows: int):
    """``df`` on the driver as a pandas frame, from one collect that returns
    at most ``max_rows + 1`` rows; None when ``df`` has more than
    ``max_rows``. The plan-build collects whose size grows with the data
    go through here, so an oversized side fails fast instead of filling
    the driver."""
    pdf = df.limit(max_rows + 1).toPandas()
    return None if len(pdf) > max_rows else pdf


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
