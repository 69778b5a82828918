"""t2 differential gate, run locally: every queries() entry vs its
oracle_sql() twin on the sf0.01 tables — the same comparison the driver
records in CORRECTNESS_r{N}.json."""

from __future__ import annotations

import pytest

import os

from pyspark.sql.utils import is_remote

import __spark_entry__ as entrymod
from wnba_data_pipeline_spark.operators import clustering, pq
from .conftest import SF_ORACLE
from .oracle_compare import compare

_QUERIES = entrymod.queries()
_ORACLES = dict(entrymod.oracle_sql())

# semantic_dedup's oracle embeds the fitted centroids for the DRIVER's sf
# (sf0.01); when the sweep runs at another scale, swap in that scale's
# checked-in centroid rendering so the comparison stays exact
_SF_NAME = os.path.basename(SF_ORACLE.rstrip("/"))
if _SF_NAME != "sf0.01":
    _ORACLES["semantic_dedup"] = clustering.oracle_semantic_dedup(_SF_NAME)
    _ORACLES["pq_rerank"] = pq.oracle_pq_rerank(_SF_NAME)
    _ORACLES["ivfpq_search"] = pq.oracle_ivfpq(_SF_NAME)


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = _QUERIES[name](spark, SF_ORACLE)
    if name not in _ORACLES:
        assert sdf.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck.sql(_ORACLES[name]).df()
    compare(sdf, ddf, name)


# the benchmark's registry scope: for each operator module with a fit-free
# query its slowest one at sf0.01, plus rolling_5_10
_WARM_SCOPE = (
    "advanced_metrics", "rolling_5_10", "quality_report", "multimodal_features",
    "dedup_minhash", "emb_near_dup", "hll_distinct_daily", "substring_spans",
    "range_join_bins", "doc_winnow", "label_median_split",
)


@pytest.mark.skipif(is_remote(), reason="CodegenMetrics lives in the classic driver JVM")
def test_warm_queries_compile_nothing(spark, duck):
    # a query run again reuses the classes its first run compiled: the
    # session's generated-class cache (session.CODEGEN_CACHE_ENTRIES)
    # holds the scope's working set, where Spark's default of 100 entries
    # recompiled about 200 classes on the second pass. Each run is a new
    # Dataset, as a warm registry pass builds, and the second pass's rows
    # still match the oracle.
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    dfs = {name: _QUERIES[name](spark, SF_ORACLE) for name in _WARM_SCOPE}
    for sdf in dfs.values():
        sdf.select("*").toPandas()
    before = compiles.getCount()
    for name, sdf in dfs.items():
        compare(sdf.select("*"), duck.sql(_ORACLES[name]).df(), name)
    assert compiles.getCount() == before


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_registry_exactly_at_driver_cap():
    # the correctness driver checks at most 50 queries in insertion order
    # (round 2 registered 52 and the last two got no CORRECTNESS row);
    # every registered query must stay inside the checked set
    assert len(_QUERIES) == 50
    # and every oracle belongs to a registered query (no orphans)
    assert set(_ORACLES) <= set(_QUERIES)


def test_sessionize_oracle_deterministic_on_boundary_ties(spark, tmp_path):
    # A session boundary landing exactly on a duplicate (user_id, ts): the
    # flag row and its tie-peer must share the NEW session under both
    # engines regardless of physical tie order (VERDICT r7 item 3 — the
    # oracle's running sum now orders its ROWS frame by (ts, event_id)).
    # Adversarial layout: event_ids of the tie pair are interleaved so an
    # id-ordered OR arrival-ordered scan both exercise the tie.
    import datetime as dt

    import duckdb

    from wnba_data_pipeline_spark.operators import relational
    from .oracle_compare import compare

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(seconds=relational.SESSION_GAP_S + 1)
    rows = [
        # user 1: boundary tie — two events at exactly t0+gap
        (5, t0, 1, "click", 1.0, "{}"),
        (2, t0 + gap, 1, "click", 2.0, "{}"),
        (9, t0 + gap, 1, "view", 3.0, "{}"),
        # user 2: tie at session START (first events of the partition)
        (4, t0, 2, "click", 4.0, "{}"),
        (1, t0, 2, "view", 5.0, "{}"),
        (7, t0 + gap + gap, 2, "click", 6.0, "{}"),
    ]
    sf_dir = str(tmp_path / "tie_sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ev_stage"))
    part = next(
        f for f in os.listdir(str(tmp_path / "ev_stage")) if f.endswith(".parquet")
    )
    os.rename(os.path.join(str(tmp_path / "ev_stage"), part), os.path.join(sf_dir, "events.parquet"))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    sdf = relational.q_sessionize_events(spark, sf_dir)
    ddf = con.sql(relational.ORACLE_SESSIONIZE_EVENTS).df()
    compare(sdf, ddf, "sessionize_boundary_tie")
    # and the expected shape: user 1 has two sessions (1 + 2 tie-peers),
    # user 2 has two sessions (2 tie-peers + 1)
    got = {(r["user_id"], r["session_start"]): r["n_events"] for r in sdf.collect()}
    assert got[(1, "2024-01-01 00:00:00")] == 1
    assert got[(1, "2024-01-01 00:30:01")] == 2
    assert got[(2, "2024-01-01 00:00:00")] == 2
    assert got[(2, "2024-01-01 01:00:02")] == 1
    con.close()


