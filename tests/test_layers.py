"""End-to-end layer-job test (SURVEY §5.3): run the full medallion chain on
sf0.001 into a tmp warehouse, assert golden schemas + spot values checked
independently in DuckDB."""

from __future__ import annotations

import glob
import json
import os
import threading
import uuid

import duckdb
import pytest

from wnba_data_pipeline_spark import session
from wnba_data_pipeline_spark.plans import layers
from wnba_data_pipeline_spark.sources import sinks, tables
from wnba_data_pipeline_spark.sources.sinks import json_export_files, read_table

from .conftest import SF_SMOKE, assert_handle_matches_path


def test_full_pipeline(spark, tmp_path):
    base = str(tmp_path / "warehouse")
    layers.run_all(spark, SF_SMOKE, base)
    t = layers.layer_tables(base)

    # raw layer: appended, partitioned, audited
    raw = read_table(spark, t["raw.lineitem_box"])
    con = duckdb.connect()
    n_src = con.execute(f"SELECT count(*) FROM read_parquet('{SF_SMOKE}/lineitem.parquet')").fetchone()[0]
    assert raw.count() == n_src
    assert "created_at" in raw.columns and "ship_ym" in raw.columns

    # re-running the raw layer is IDEMPOTENT (round-8: upsert_partitions
    # replaces the month partitions it carries — a re-run after a
    # mid-pipeline failure must not double the raw rows)
    layers.run_raw_layer(spark, SF_SMOKE, base)
    assert read_table(spark, t["raw.lineitem_box"]).count() == n_src

    # analytics layer: one row per supplier; spot-check a value in DuckDB
    stats = read_table(spark, t["analytics.supplier_stats"])
    golden = con.execute(
        f"""SELECT l_suppkey, count(*) n_lines, round(sum(l_quantity),6) qty_sum
            FROM read_parquet('{SF_SMOKE}/lineitem.parquet')
            GROUP BY l_suppkey ORDER BY l_suppkey LIMIT 3"""
    ).fetchall()
    got = {r["l_suppkey"]: r for r in stats.collect()}
    for suppkey, n_lines, qty_sum in golden:
        assert got[suppkey]["n_lines"] == n_lines
        assert abs(got[suppkey]["qty_sum"] - qty_sum) < 1e-9

    # features layer: scores present, joinable 1:1 with stats
    feats = read_table(spark, t["ml_features.supplier_features"])
    assert feats.count() == stats.count()
    assert {"efficiency_score", "usage_efficiency"} <= set(feats.columns)

    # dashboard layer: top-10 mart, ranks cover all suppliers, KPI row parses
    top = read_table(spark, t["dashboard.top_suppliers"])
    assert top.count() == 10
    ranks = read_table(spark, t["dashboard.supplier_ranks"])
    assert ranks.count() == stats.count()
    kpi = read_table(spark, t["dashboard.kpi_summary"]).collect()
    assert len(kpi) == 1
    parsed = json.loads(kpi[0]["kpi_data"])
    assert parsed["n_suppliers"] == stats.count()
    assert parsed["as_of"] == layers.DEFAULT_AS_OF

    # JSON exports: single shard per mart, records parse and match counts
    files = json_export_files(str(tmp_path / "warehouse" / "exports" / "top_suppliers"))
    assert len(files) == 1
    with open(files[0]) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    assert len(recs) == 10


def test_rerun_overwrite_is_idempotent(spark, tmp_path):
    base = str(tmp_path / "wh2")
    layers.run_raw_layer(spark, SF_SMOKE, base)
    layers.run_analytics_layer(spark, base)
    before = read_table(spark, layers.layer_tables(base)["analytics.supplier_stats"]).count()
    layers.run_analytics_layer(spark, base)  # overwrite, not append
    after = read_table(spark, layers.layer_tables(base)["analytics.supplier_stats"]).count()
    assert before == after


def test_run_all_handles_equal_reads_by_path(spark, tmp_path):
    # the hand-off: every table run_all writes comes back as a
    # schema-pinned handle reading what a fresh read by path reads —
    # partitioned raw tables (partition column last) and timestamp_ntz
    # audit columns included
    base = str(tmp_path / "wh")
    handles = layers.run_all(spark, SF_SMOKE, base)
    assert set(handles) == set(layers.layer_tables(base))
    for name, path in layers.layer_tables(base).items():
        assert_handle_matches_path(spark, handles[name], path)
    assert handles["raw.lineitem_box"].columns[-1] == "ship_ym"
    assert dict(handles["raw.lineitem_box"].dtypes)["created_at"] == "timestamp_ntz"


def test_run_all_job_budget(spark, tmp_path, monkeypatch):
    """With AQE off every write is one Spark job, so run_all's jobs are
    exactly its 13 writes (2 upserts, 2 analytics tables, 1 feature table,
    4 marts, 4 JSON exports) and the schema inference of its 2 fixture
    loads. The raw handles' month directories are listed on the driver
    (``session.DRIVER_LISTING_MAX_DIRS``), so no listing job runs. Any
    other job would be a schema-inference read of a table this process
    wrote."""
    monkeypatch.setattr(tables, "_HANDLES", {})  # fixture loads infer afresh
    base = str(tmp_path / "wh")
    sc = spark.sparkContext
    group = f"run-all-budget-{uuid.uuid4().hex}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "run_all job budget")
    try:
        layers.run_all(spark, SF_SMOKE, base)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    writes, fixture_loads = 13, 2
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == writes + fixture_loads


def test_raw_handle_listed_on_driver(spark, tmp_path):
    # the raw handle of a table with more month directories than Spark's
    # default parallel-discovery threshold (32) but fewer than the
    # session's bound is built without a Spark job; at the default the same
    # build is one listing job of one task per directory
    base = str(tmp_path / "wh")
    path = layers.layer_tables(base)["raw.lineitem_box"]
    written = layers.run_raw_layer(spark, SF_SMOKE, base)["raw.lineitem_box"]
    assert 32 < len(glob.glob(os.path.join(path, "*=*"))) <= session.DRIVER_LISTING_MAX_DIRS
    sc = spark.sparkContext

    def jobs_to_build_handle() -> int:
        group = f"raw-handle-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "raw handle listing")
        try:
            sinks._read_written(written, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(key) == str(session.DRIVER_LISTING_MAX_DIRS)
    assert jobs_to_build_handle() == 0
    spark.conf.set(key, "32")
    try:
        assert jobs_to_build_handle() == 1
    finally:
        spark.conf.set(key, str(session.DRIVER_LISTING_MAX_DIRS))


def _pool_threads() -> set:
    return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


def test_failed_concurrent_write_propagates(spark, tmp_path, monkeypatch):
    # one write of the concurrent stats ‖ rolling group fails: run_all
    # raises that error only after its sibling write has finished, and
    # leaves no worker thread running
    base = str(tmp_path / "wh")
    paths = layers.layer_tables(base)
    real = layers.overwrite_table

    def failing(df, path, *args, **kwargs):
        if path == paths["analytics.supplier_rolling"]:
            raise RuntimeError("planted write failure")
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(layers, "overwrite_table", failing)
    before = _pool_threads()
    with pytest.raises(RuntimeError, match="planted write failure"):
        layers.run_all(spark, SF_SMOKE, base)
    assert not _pool_threads() - before
    assert os.path.exists(os.path.join(paths["analytics.supplier_stats"], "_SUCCESS"))
    assert not os.path.exists(paths["ml_features.supplier_features"])
