"""Mergeable HLL sketch gates: stored per-day sketches must union to an
estimate within HLL error of the true distinct count, for the full range
and for arbitrary sub-windows — the property that makes per-day sketch
state a valid substitute for rescanning raw events — and the portable
per-day HLL registers (daily rows and their merged union row) stay within
HLL error of the true distinct counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from wnba_data_pipeline_spark.operators import sketches
from wnba_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_ORACLE

TOL = 0.05  # lg_k=14 gives ~0.8% rsd; 5% is a >5-sigma bound


def test_unioned_sketches_match_exact_distinct(spark):
    daily = sketches.daily_user_sketches(spark, SF_ORACLE).cache()
    est = sketches.distinct_users_over(daily).collect()[0]["distinct_users_est"]
    ev = load_table(spark, SF_ORACLE, "events")
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) / exact < TOL, (est, exact)
    daily.unpersist()


def test_tumbling_daily_approx_shape_error_bound(spark):
    # approx=True swaps the exact-distinct subtree for a
    # per-group HLL estimate: identical groups and exact columns, n_users
    # within HLL error per group, and the plan carries neither an Expand
    # nor a distinct subtree (the ~8M-tuple shuffle is gone)
    from wnba_data_pipeline_spark.operators import relational

    exact = {
        (r["day"], r["event_type"]): r
        for r in relational.q_tumbling_daily(spark, SF_ORACLE).collect()
    }
    approx_df = relational.q_tumbling_daily(spark, SF_ORACLE, approx=True)
    plan = spark._jvm.PythonSQLUtils.explainString(approx_df._jdf.queryExecution(), "formatted")
    assert "Expand" not in plan, plan
    assert plan.count("HashAggregate") <= 4, plan  # one partial+final pair, no distinct subtree
    approx = {(r["day"], r["event_type"]): r for r in approx_df.collect()}
    assert set(approx) == set(exact)
    for key, r in approx.items():
        e = exact[key]
        assert r["n_events"] == e["n_events"]
        assert r["value_sum"] == e["value_sum"]
        assert abs(r["n_users"] - e["n_users"]) <= max(TOL * e["n_users"], 2), (key, r, e)


def test_sub_window_union_matches_exact(spark):
    # the point of mergeable state: ANY day subset answers from sketches
    daily = sketches.daily_user_sketches(spark, SF_ORACLE).cache()
    days = sorted(r["day"] for r in daily.select("day").collect())
    cut = days[len(days) // 2]
    window = daily.filter(F.col("day") >= cut)
    est = sketches.distinct_users_over(window).collect()[0]["distinct_users_est"]
    ev = load_table(spark, SF_ORACLE, "events")
    exact = (
        ev.filter(F.col("ts").cast("date") >= F.lit(cut))
        .select("user_id")
        .distinct()
        .count()
    )
    assert exact > 0
    assert abs(est - exact) / exact < TOL, (est, exact, cut)
    daily.unpersist()


# portable fixed-point HLL (round 13 — the family's hash-exact driver row;
# cross-engine identity is the CORRECTNESS_r13 row + off-registry-style
# oracle in operators/sketches.py; these gates cover accuracy semantics)

HLL_RSD = 1.04 / sketches.HLL_M**0.5  # ≈ 13% at m=64


def _exact_daily_keys(spark):
    ev = load_table(spark, SF_ORACLE, "events")
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type"))
    return {
        r["day"]: r["n"]
        for r in ev.select(
            F.col("ts").cast("date").cast("string").alias("day"), key.alias("k")
        )
        .groupBy("day")
        .agg(F.count_distinct("k").alias("n"))
        .collect()
    }


def test_portable_hll_daily_estimates_within_rsd_bounds(spark):
    exact = _exact_daily_keys(spark)
    got = {
        r["day"]: r["hll_est"]
        for r in sketches.q_hll_distinct_daily(spark, SF_ORACLE).collect()
        if r["day"] != "ALL"
    }
    assert set(got) == set(exact)
    # raw-estimator regime check (module docstring): daily cardinality must
    # sit above 2.5·m for the no-correction contract to be the right one
    assert min(exact.values()) > 2.5 * sketches.HLL_M
    for day, est in got.items():
        err = abs(est - exact[day]) / exact[day]
        assert err < 3.5 * HLL_RSD, (day, est, exact[day], err)


def test_portable_hll_union_row_merges_registers(spark):
    # the day='ALL' row must estimate the all-days cardinality from merged
    # registers — within the same rsd bound of the true global distinct
    ev = load_table(spark, SF_ORACLE, "events")
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type"))
    exact = ev.select(key.alias("k")).distinct().count()
    rows = [r for r in sketches.q_hll_distinct_daily(spark, SF_ORACLE).collect() if r["day"] == "ALL"]
    assert len(rows) == 1
    est = rows[0]["hll_est"]
    assert abs(est - exact) / exact < 3.5 * HLL_RSD, (est, exact)
    # mergeability: the union estimate is NOT the sum of daily estimates
    # (returning users collapse) — it must sit well below that sum
    daily_sum = sum(
        r["hll_est"] for r in sketches.q_hll_distinct_daily(spark, SF_ORACLE).collect() if r["day"] != "ALL"
    )
    assert est < 0.5 * daily_sum


def test_portable_hll_small_range_correction_in_python(spark):
    # the ln-based linear-counting correction deliberately lives OUTSIDE
    # the cross-engine row (module docstring): on a LOW-cardinality slice
    # (single event_type → far fewer keys) the corrected estimate must
    # beat the raw one — the documented repair when v_zero > 0 and the
    # raw estimate falls under 2.5·m
    import math

    ev = load_table(spark, SF_ORACLE, "events")
    one_type = sorted(r["event_type"] for r in ev.select("event_type").distinct().collect())[0]
    sub = ev.filter(F.col("event_type") == one_type)
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type"))
    exact = sub.select(key.alias("k")).distinct().count()
    bucket, rank = sketches._hll_rank_cols(key)
    regs = sub.select(bucket, rank).groupBy("bucket").agg(F.max("rank").alias("mb"))
    row = sketches._hll_estimate(regs, []).collect()[0]
    raw, v = row["hll_est"], row["v_zero"]
    m = sketches.HLL_M
    corrected = m * math.log(m / v) if (v > 0 and raw <= 2.5 * m) else raw
    assert abs(corrected - exact) <= abs(raw - exact) or abs(corrected - exact) / exact < 3.5 * HLL_RSD, (
        raw, corrected, exact, v,
    )

