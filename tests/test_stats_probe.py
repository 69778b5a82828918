"""Differential gate for the parquet-footer metadata probe
(operators/quality.parquet_stats_probe): footer-derived completeness /
freshness values must equal the scan-derived ones — on the single-file
bench tables, on a multi-file directory, and with planted nulls (footer
null_count is exact per the parquet spec; this pins that we aggregate it
correctly across files and row groups)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnba_data_pipeline_spark.operators import quality
from wnba_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _scan_subset(df):
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).cast("long").alias("null_qty"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).cast("long").alias("null_flag"),
        F.max("l_extendedprice").alias("price_max"),
        F.min("l_extendedprice").alias("price_min"),
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship_date"),
    )


def test_meta_probe_matches_scan_probe(spark):
    got = quality.parquet_stats_probe(spark, f"{SF_ORACLE}/lineitem.parquet").collect()[0].asDict()
    want = _scan_subset(load_table(spark, SF_ORACLE, "lineitem")).collect()[0].asDict()
    assert got == want


@pytest.mark.parametrize("driver_max", [256, 0])
def test_meta_probe_multifile_directory(spark, tmp_path, monkeypatch, driver_max):
    # both physical paths: driver-side footer reads (default at this file
    # count) and the distributed mapInPandas path (forced by a zero cap)
    monkeypatch.setattr(quality, "PROBE_DRIVER_MAX", driver_max)
    out = str(tmp_path / "li_multi")
    load_table(spark, SF_ORACLE, "lineitem").repartition(7).write.parquet(out)
    got = quality.parquet_stats_probe(spark, out).collect()[0].asDict()
    want = _scan_subset(load_table(spark, SF_ORACLE, "lineitem")).collect()[0].asDict()
    assert got == want
    got_n = quality.parquet_rowcount_probe(spark, out).collect()[0][0]
    assert got_n == want["n_rows"]


def test_meta_probe_counts_planted_nulls(spark, tmp_path):
    out = str(tmp_path / "li_nulls")
    li = load_table(spark, SF_ORACLE, "lineitem").withColumn(
        "l_quantity", F.when(F.col("l_orderkey") % 10 == 0, None).otherwise(F.col("l_quantity"))
    )
    li.repartition(3).write.parquet(out)
    got = quality.parquet_stats_probe(spark, out).collect()[0].asDict()
    want = _scan_subset(spark.read.parquet(out)).collect()[0].asDict()
    assert got == want
    assert got["null_qty"] > 0


def test_meta_probe_pre_epoch_ship_date_floors(spark, tmp_path):
    # round-9 advice fix: last_ship_date used `div` (truncates toward zero),
    # so a pre-1970 (negative-microsecond) max timestamp rounded UP a day
    # relative to the driver footer path's datetime floor; the pmod floor
    # must agree with the scan's timestamp->date cast on both sides of epoch
    out = str(tmp_path / "li_preepoch")
    li = load_table(spark, SF_ORACLE, "lineitem").withColumn(
        "l_shipdate",
        (F.col("l_shipdate").cast("timestamp_ntz") - F.expr("INTERVAL 40 YEARS")),
    )
    li.repartition(3).write.parquet(out)
    got = quality.parquet_stats_probe(spark, out).collect()[0].asDict()
    want = _scan_subset(spark.read.parquet(out)).collect()[0].asDict()
    assert got == want
    assert str(want["last_ship_date"]) < "1970-01-01"


def test_meta_probe_refuses_statless_files(spark, tmp_path, monkeypatch):
    # a file whose row groups lack stats must raise, not silently return
    # wrong numbers (no fallback inside the metadata path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "nostats"
    out.mkdir()
    t = pa.table(
        {
            "l_quantity": [1.0, None],
            "l_returnflag": ["A", "B"],
            "l_extendedprice": [1.0, 2.0],
            "l_shipdate": [None, None],
        }
    )
    pq.write_table(t, out / "part.parquet", write_statistics=False)
    with pytest.raises(Exception, match="statistics|PROBE|scan probe"):
        quality.parquet_stats_probe(spark, str(out)).collect()


def test_meta_probe_rejects_schema_only_file(spark, tmp_path):
    # a >0-byte parquet file with ZERO row groups must raise the documented
    # ValueError, not IndexError (ADVICE r6)
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "empty.parquet")
    w = pq.ParquetWriter(path, pa.schema([("l_quantity", pa.float64())]))
    w.close()  # footer only, zero row groups
    with pytest.raises(Exception) as ei:
        quality.parquet_stats_probe(spark, path).collect()
    assert "zero row groups" in str(ei.value)


def test_quality_report_footer_path_rows_identical(spark, duck, monkeypatch):
    # the row gate must be plan selection only: forced footer mode returns
    # byte-identical report rows to the scan shape (and to the oracle)
    monkeypatch.setattr(quality, "FOOTER_STATS_MIN_ROWS", 0)
    footer = quality.q_quality_report(spark, SF_ORACLE)
    monkeypatch.setattr(quality, "FOOTER_STATS_MIN_ROWS", 10**12)
    scan = quality.q_quality_report(spark, SF_ORACLE)
    frows = sorted(tuple(r) for r in footer.collect())
    srows = sorted(tuple(r) for r in scan.collect())
    assert frows == srows
    from .oracle_compare import compare

    monkeypatch.setattr(quality, "FOOTER_STATS_MIN_ROWS", 0)
    compare(
        quality.q_quality_report(spark, SF_ORACLE),
        duck.sql(quality.ORACLE_QUALITY_REPORT).df(),
        "quality_report_footer",
    )


def test_quality_report_footer_path_plan_shape(spark, monkeypatch):
    # at the footer shape: NO orders scan at all, and the one remaining
    # lineitem scan reads only the columns the footers cannot answer
    monkeypatch.setattr(quality, "FOOTER_STATS_MIN_ROWS", 0)
    plan = (
        quality.q_quality_report(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "orders.parquet" not in plan
    import re as _re

    schemas = _re.findall(r"lineitem[^\n]*ReadSchema: ([^\n]+)", plan)
    assert schemas, plan
    for s in schemas:
        assert "l_extendedprice" in s and "l_returnflag" in s
        assert "l_shipdate" not in s and "l_quantity" not in s


def test_rowcount_probe_matches_scan_count(spark):
    got = quality.parquet_rowcount_probe(spark, f"{SF_ORACLE}/orders.parquet").collect()[0][0]
    want = load_table(spark, SF_ORACLE, "orders").count()
    assert got == want


def test_quality_queries_fall_back_to_scan_on_statless_files(spark, tmp_path, monkeypatch):
    # write_statistics=False is legal parquet; at the footer-stats gate
    # the QUERY entry points must fall back to the scan shape and return
    # correct rows, not hard-fail (only the explicit probe entry points
    # keep the strict error).
    from wnba_data_pipeline_spark.operators import relational

    import pyarrow.parquet as pq
    import pyarrow as pa

    sf_dir = str(tmp_path / "statless_sf")
    import os as _os
    _os.makedirs(sf_dir)
    for name in ("lineitem", "orders"):
        tbl = pq.read_table(f"{SF_ORACLE}/{name}.parquet")
        pq.write_table(tbl, f"{sf_dir}/{name}.parquet", write_statistics=False)

    monkeypatch.setattr(quality, "FOOTER_STATS_MIN_ROWS", 0)
    got_probe = relational.q_quality_probe(spark, sf_dir).collect()[0].asDict()
    got_report = {
        r["check_name"]: (r["value"], r["status"])
        for r in quality.q_quality_report(spark, sf_dir).collect()
    }
    monkeypatch.setattr(quality, "FOOTER_STATS_MIN_ROWS", 10**12)
    want_probe = relational.q_quality_probe(spark, sf_dir).collect()[0].asDict()
    want_report = {
        r["check_name"]: (r["value"], r["status"])
        for r in quality.q_quality_report(spark, sf_dir).collect()
    }
    assert got_probe == want_probe
    assert got_report == want_report and len(got_report) == 6
