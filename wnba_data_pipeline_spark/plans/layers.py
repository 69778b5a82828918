"""Layer jobs: the reference's five-DAG medallion pipeline
(raw → analytics → ml_features → dashboard) as composed Spark jobs.

Reference anchors: append raw ingest (``ingest_nba_daily.py:96-148``),
analytics transform (``transform_player_stats.py:175-199``), feature build
(``feature_engineering.py:256-286``), dashboard marts + exports
(``prepare_dashboard_data.py:250-319``).

Each layer is a small write DAG whose only Spark jobs are its writes. The
writes of a layer that do not depend on each other run as concurrent Spark
jobs (``_concurrently``), as Airflow runs a DAG's independent tasks in
parallel: the lineitem ‖ orders upserts, stats ‖ rolling, and the four
dashboard marts, each mart its own write → JSON export chain. At this scale
a write is bound by per-job and per-file latency, not by compute, so the
concurrent jobs fill cores that one- and two-task jobs leave idle.

Hand-off: every sink returns a schema-pinned read of what it wrote
(``sources.sinks.overwrite_table``), and each layer returns those handles
keyed like ``layer_tables``. ``run_all`` passes them to the next layer, so
no read of a table this process just wrote launches a schema-inference job.
A layer run on its own (no handles given) reads its inputs by path from the
partitioned parquet warehouse, which stays the durable interface between
layers, as the reference's DuckDB schemas are between its DAGs.

Determinism (SURVEY G5): the reference stamps ``pd.Timestamp.now()`` audit
columns and seeds nothing; every layer here takes an injected ``as_of``
timestamp literal so reruns are byte-identical.

Scale posture: raw appends are partitioned by a derived month key, so the
reference's 30-day scan windows (B2) prune partitions instead of scanning
history; analytics aggregates shuffle once on the entity key; dashboard
marts are mart-sized (post-agg) before any global window runs.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.windows import avg_rank, rolling_avg
from ..sources.sinks import export_json, overwrite_table, read_table, upsert_partitions
from ..sources.tables import load_table

DEFAULT_AS_OF = "2001-09-01 00:00:00"


def _p(base: str, *parts: str) -> str:
    return os.path.join(base, *parts)


def _concurrently(spark: SparkSession, *tasks: Callable[[], DataFrame]) -> list[DataFrame]:
    """Run each task (a chain of writes) in its own thread, so the tasks'
    Spark jobs run concurrently; return the tasks' results in order.

    Each target is wrapped in ``inheritable_thread_target`` here, in the
    calling thread, so the child threads carry its job tags, job group and
    description, under Spark Connect too. One wrapper per task: a wrapper's
    copy of the local properties is shared by every thread it starts, and a
    tag one thread adds must not reach its siblings' jobs. Once every thread
    has finished, the first failure in task order is re-raised."""

    def inheriting(task: Callable[[], DataFrame]) -> Callable[[], DataFrame]:
        wrap = inheritable_thread_target(spark)
        # without pinned threads (PYSPARK_PIN_THREAD=false) there is no
        # per-thread JVM state to carry, and the helper hands back the session
        return task if wrap is spark else wrap(task)

    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = [pool.submit(inheriting(task)) for task in tasks]
    return [f.result() for f in futures]


def _input(spark: SparkSession, base: str, tables: Mapping[str, DataFrame] | None, name: str) -> DataFrame:
    """A layer's input table: the upstream layer's handle when one is
    passed, else a read by path."""
    if tables is not None and name in tables:
        return tables[name]
    return read_table(spark, layer_tables(base)[name])


def _write_all(
    spark: SparkSession, base: str, frames: dict[str, DataFrame], *, export: bool = False
) -> dict[str, DataFrame]:
    """Overwrite the ``layer_tables`` entry of each frame, each write (and,
    with ``export``, the one-file JSON export of its handle) concurrent with
    the others; returns the written tables' handles under the same names."""
    paths = layer_tables(base)

    def write(name: str, df: DataFrame) -> DataFrame:
        handle = overwrite_table(df, paths[name])
        if export:
            export_json(handle, _p(base, "exports", name.split(".", 1)[1]), single_file=True)
        return handle

    handles = _concurrently(spark, *(partial(write, name, df) for name, df in frames.items()))
    return dict(zip(frames, handles))


def run_raw_layer(
    spark: SparkSession, sf_dir: str, base: str, as_of: str = DEFAULT_AS_OF
) -> dict[str, DataFrame]:
    """Append-only raw ingest with audit column (A6 + B8's ``created_at``
    DDL default, ``ingest_nba_daily.py:136``), partitioned by month so
    date-window scans prune. The lineitem and orders upserts run
    concurrently."""

    def ingest(table: str, date_col: str, month_col: str) -> DataFrame:
        df = load_table(spark, sf_dir, table).withColumns(
            {
                "created_at": F.lit(as_of).cast("timestamp_ntz"),
                month_col: F.date_format(F.col(date_col), "yyyy-MM"),
            }
        )
        # upsert, not append: a re-run of run_all after a mid-pipeline
        # failure replaces the month partitions it carries instead of
        # doubling every raw row, so reruns stay byte-identical
        return upsert_partitions(df, layer_tables(base)[f"raw.{table}_box"], partition_by=(month_col,))

    li, orders = _concurrently(
        spark,
        partial(ingest, "lineitem", "l_shipdate", "ship_ym"),
        partial(ingest, "orders", "o_orderdate", "order_ym"),
    )
    return {"raw.lineitem_box": li, "raw.orders_box": orders}


def run_analytics_layer(
    spark: SparkSession,
    base: str,
    as_of: str = DEFAULT_AS_OF,
    *,
    tables: Mapping[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """raw → analytics: entity aggregates + rolling windows (the
    ``transform_player_stats`` DAG), overwrite sinks (A7) written
    concurrently."""
    li = _input(spark, base, tables, "raw.lineitem_box")
    stats = (
        li.groupBy("l_suppkey")
        .agg(
            F.count_distinct("l_orderkey").alias("games"),
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 6).alias("qty_sum"),
            F.round(F.avg("l_quantity"), 6).alias("qty_mean"),
            F.round(F.avg("l_extendedprice"), 6).alias("price_mean"),
            F.round(F.avg("l_discount"), 6).alias("disc_mean"),
        )
        .withColumn("qty_per_game", F.round(F.col("qty_sum") / F.col("games"), 6))
        .withColumn("last_updated", F.lit(as_of).cast("timestamp_ntz"))
    )

    # l_quantity tie-break: the testdata has duplicate (okey, lineno) pairs,
    # so without it rolling frames are run-order nondeterministic and the
    # "reruns are byte-identical" guarantee above would not hold
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
    rolling = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.round(rolling_avg("l_quantity", w, 5), 6).alias("qty_5"),
        F.round(rolling_avg("l_quantity", w, 10), 6).alias("qty_10"),
    )
    return _write_all(spark, base, {"analytics.supplier_stats": stats, "analytics.supplier_rolling": rolling})


def run_features_layer(
    spark: SparkSession,
    base: str,
    as_of: str = DEFAULT_AS_OF,
    *,
    tables: Mapping[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """analytics → ml_features: weighted linear scores (B6) over the stats
    table (the ``feature_engineering`` DAG)."""
    stats = _input(spark, base, tables, "analytics.supplier_stats")
    feats = stats.select(
        "l_suppkey",
        "games",
        "qty_mean",
        "price_mean",
        "disc_mean",
        F.round(F.col("qty_mean") * 0.4 + F.col("games") * 0.3 + (1 - F.col("disc_mean")) * 0.3, 6).alias(
            "efficiency_score"
        ),
        F.round(F.col("qty_per_game") / (F.col("disc_mean") + F.lit(0.01)), 6).alias("usage_efficiency"),
        F.lit(as_of).cast("timestamp_ntz").alias("feature_date"),
    )
    name = "ml_features.supplier_features"
    return {name: overwrite_table(feats, layer_tables(base)[name])}


def run_dashboard_layer(
    spark: SparkSession,
    base: str,
    as_of: str = DEFAULT_AS_OF,
    *,
    tables: Mapping[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """analytics + ml_features → dashboard marts + JSON exports (the
    ``prepare_dashboard_data`` DAG): top-10, global avg-ranks over the
    mart (E4 — post-agg, mart-sized), league single-row stats (D6), KPI
    JSON row (A9/H10), per-table JSON export (A8). The four marts run
    concurrently, each as a write → export chain."""
    stats = _input(spark, base, tables, "analytics.supplier_stats")
    feats = _input(spark, base, tables, "ml_features.supplier_features")

    top = stats.orderBy(F.col("qty_sum").desc(), F.col("l_suppkey")).limit(10)
    ranked = feats.select(
        "l_suppkey",
        "efficiency_score",
        avg_rank("efficiency_score").cast("double").alias("efficiency_rank"),
    )
    league = stats.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.avg("qty_mean"), 6).alias("league_qty_mean"),
        F.round(F.avg("price_mean"), 6).alias("league_price_mean"),
    ).withColumn("as_of", F.lit(as_of))
    kpi = stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qty_sum").alias("q"),
        # struct tie-break (round-8 review fix): bare max_by on a tied
        # qty_sum picks a partition-order-dependent leader, breaking the
        # G5 byte-identical-rerun contract; the (qty_sum, -l_suppkey)
        # struct makes ties deterministic (lowest suppkey wins)
        F.max_by(
            "l_suppkey", F.struct(F.col("qty_sum"), (-F.col("l_suppkey")).alias("_nk"))
        ).alias("leader"),
    ).select(
        F.concat(
            F.lit('{"n_suppliers":'),
            F.col("n").cast("string"),
            F.lit(',"total_qty":'),
            F.format_string("%.2f", "q"),
            F.lit(',"leader":'),
            F.col("leader").cast("string"),
            F.lit(',"as_of":"'),
            F.lit(as_of),
            F.lit('"}'),
        ).alias("kpi_data")
    )
    marts = {
        "dashboard.top_suppliers": top,
        "dashboard.supplier_ranks": ranked,
        "dashboard.league_stats": league,
        "dashboard.kpi_summary": kpi,
    }
    return _write_all(spark, base, marts, export=True)


def run_all(spark: SparkSession, sf_dir: str, base: str, as_of: str = DEFAULT_AS_OF) -> dict[str, DataFrame]:
    """The full medallion pipeline (the reference's five cron DAGs collapse
    to this chain): each layer reads the handles of the tables the layers
    before it wrote. Returns every written table's handle, keyed like
    ``layer_tables``."""
    tables = run_raw_layer(spark, sf_dir, base, as_of)
    tables |= run_analytics_layer(spark, base, as_of, tables=tables)
    tables |= run_features_layer(spark, base, as_of, tables=tables)
    tables |= run_dashboard_layer(spark, base, as_of, tables=tables)
    return tables


def layer_tables(base: str) -> dict[str, str]:
    return {
        "raw.lineitem_box": _p(base, "raw", "lineitem_box"),
        "raw.orders_box": _p(base, "raw", "orders_box"),
        "analytics.supplier_stats": _p(base, "analytics", "supplier_stats"),
        "analytics.supplier_rolling": _p(base, "analytics", "supplier_rolling"),
        "ml_features.supplier_features": _p(base, "ml_features", "supplier_features"),
        "dashboard.top_suppliers": _p(base, "dashboard", "top_suppliers"),
        "dashboard.supplier_ranks": _p(base, "dashboard", "supplier_ranks"),
        "dashboard.league_stats": _p(base, "dashboard", "league_stats"),
        "dashboard.kpi_summary": _p(base, "dashboard", "kpi_summary"),
    }
