"""The row gates pick a physical shape from the table's own parquet footer
row count, never from its directory name: the same fixture tables take
the small-data shapes under a directory called ``sf50`` and the
large-data shapes under a neutral name once each threshold sits below
their row count, or once the table has more files than the driver-side
footer read allows."""

from __future__ import annotations

import shutil

from wnba_data_pipeline_spark.operators import quality, relational, similarity

from .conftest import SF_ORACLE

TABLES = ("lineitem", "orders", "events", "embeddings")


def _copy_tables(dst) -> str:
    dst.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{SF_ORACLE}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shapes(spark, sf_dir: str) -> dict[str, bool]:
    """For each gate, True when the query planned its large-data shape,
    read off the plan markers the shape tests assert."""
    probe = _plan(relational.q_quality_probe(spark, sf_dir))
    return {
        # split distinct: the distinct count is broadcast-joined back
        "probe_split": "Join" in probe,
        # footer stats: the lineitem scan no longer reads l_quantity
        "probe_footer": "l_quantity" not in probe,
        # footer stats: the orders scan disappears from the report
        "report_footer": _plan(quality.q_quality_report(spark, sf_dir)).count("Scan parquet") == 1,
        "tumbling_split": "Join" in _plan(relational.q_tumbling_daily(spark, sf_dir)),
        # the pandas shape is one grouped applyInPandas
        "spectrum_gram": "FlatMapGroupsInPandas"
        not in _plan(similarity.q_embedding_spectrum(spark, sf_dir)),
    }


def _lower_thresholds(monkeypatch) -> None:
    monkeypatch.setattr(relational, "SPLIT_DISTINCT_MIN_ROWS", 1)
    monkeypatch.setattr(quality, "FOOTER_STATS_MIN_ROWS", 1)
    monkeypatch.setattr(similarity, "SPECTRUM_GRAM_MIN_ROWS", 1)


def test_sf_token_in_path_keeps_small_shapes(spark, tmp_path):
    sf_dir = _copy_tables(tmp_path / "sf50")
    assert _shapes(spark, sf_dir) == dict.fromkeys(
        ("probe_split", "probe_footer", "report_footer", "tumbling_split", "spectrum_gram"), False
    )


def test_row_count_over_threshold_takes_large_shapes(spark, tmp_path, monkeypatch):
    sf_dir = _copy_tables(tmp_path / "warehouse_tables")
    _lower_thresholds(monkeypatch)
    shapes = _shapes(spark, sf_dir)
    # the footer shape of quality_probe always carries the split distinct
    assert shapes == dict.fromkeys(shapes, True)


def test_too_many_files_takes_large_shapes(spark, tmp_path, monkeypatch):
    # more files than the driver-side footer read allows: the row count is
    # unknown without a Spark job, and the gates treat it as above every
    # threshold
    sf_dir = _copy_tables(tmp_path / "sf0.001")
    monkeypatch.setattr(quality, "PROBE_DRIVER_MAX", 0)
    assert quality.footer_rowcount_value(spark, f"{sf_dir}/lineitem.parquet") is None
    shapes = _shapes(spark, sf_dir)
    assert shapes == dict.fromkeys(shapes, True)
