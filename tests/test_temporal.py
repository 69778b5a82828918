"""Semantic + plan-shape gates for the temporal joins (operators/temporal.py).

The registry queries get the full hash-differential treatment via
test_oracle_parity; these tests pin the edge semantics the sf0.01 corpus
cannot exercise deterministically — left-join nullability, the inclusive
at-timestamp tie, the equal-(key, ts) tie-break, the window's closed/open
bounds — and the plan shapes that make both operators survive scale
(single Exchange for as-of; no nested-loop product for the range join).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from wnba_data_pipeline_spark.operators import temporal

from .conftest import SF_SMOKE


def _ts(s: str):
    return dt.datetime.fromisoformat(s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 12:00:00")),  # match: r2 (latest <=)
            (2, 10, _ts("2024-01-01 10:00:00")),  # tie AT ts: r1 included
            (3, 11, _ts("2024-01-01 09:00:00")),  # no earlier right row
            (4, 12, _ts("2024-01-01 09:00:00")),  # key never on right
        ],
        "lid long, user_id long, lts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01 10:00:00")),  # r1
            (101, 10, _ts("2024-01-01 11:00:00")),  # r2
            (102, 10, _ts("2024-01-01 13:00:00")),  # after every left ts
            (103, 11, _ts("2024-01-01 09:30:00")),
        ],
        "rid long, user_id long, rts timestamp_ntz",
    )
    return left, right


def test_asof_backward_inclusive_and_left_nulls(spark):
    left, right = _frames(spark)
    out = temporal.asof_join(left, right, on="user_id", left_ts="lts", right_ts="rts")
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {1: 101, 2: 100, 3: None, 4: None}
    assert out.count() == left.count()  # every left row survives


def test_asof_equal_ts_dup_right_takes_max_payload(spark):
    left, _ = _frames(spark)
    dup = spark.createDataFrame(
        [(200, 10, _ts("2024-01-01 10:00:00")), (201, 10, _ts("2024-01-01 10:00:00"))],
        "rid long, user_id long, rts timestamp_ntz",
    )
    out = temporal.asof_join(left, dup, on="user_id", left_ts="lts", right_ts="rts")
    got = {r.lid: r.rid for r in out.collect()}
    # deterministic: the max payload struct wins among equal (key, ts) rows
    assert got[1] == 201 and got[2] == 201


def test_range_join_bounds_closed_open(spark):
    hour = 3600 * 1_000_000
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 12:00:00"))], "lid long, user_id long, lts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01 11:00:00")),  # == lts - W: INCLUDED
            (101, 10, _ts("2024-01-01 11:30:00")),  # inside
            (102, 10, _ts("2024-01-01 12:00:00")),  # == lts: EXCLUDED (open end)
            (103, 10, _ts("2024-01-01 10:59:59")),  # before window
            (104, 11, _ts("2024-01-01 11:30:00")),  # other key
        ],
        "rid long, user_id long, rts timestamp_ntz",
    )
    out = temporal.range_join(
        left, right, on="user_id", left_ts="lts", right_ts="rts", window_us=hour
    )
    assert sorted(r.rid for r in out.collect()) == [100, 101]


def test_range_join_left_keeps_unmatched_with_null_skipping_agg(spark):
    hour = 3600 * 1_000_000
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 12:00:00")), (2, 99, _ts("2024-01-01 12:00:00"))],
        "lid long, user_id long, lts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01 11:30:00"))], "rid long, user_id long, rts timestamp_ntz"
    )
    out = (
        temporal.range_join(
            left, right, on="user_id", left_ts="lts", right_ts="rts", window_us=hour, how="left"
        )
        .groupBy("lid")
        .agg(F.count("rid").alias("n"))
    )
    got = {r.lid: r.n for r in out.collect()}
    assert got == {1: 1, 2: 0}


def test_range_join_left_null_rows_only_for_unmatched(spark):
    # The bin fan-out must NOT leak per-bin null padding: a matched left
    # row emits only its pairs, an unmatched one exactly one null row —
    # so count(*) and `rid IS NULL` are faithful on the raw pair output
    # (ADVICE r6: the old behavior emitted a null row per empty bin).
    hour = 3600 * 1_000_000
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 12:00:00")), (2, 99, _ts("2024-01-01 12:00:00"))],
        "lid long, user_id long, lts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01 11:30:00"))], "rid long, user_id long, rts timestamp_ntz"
    )
    rows = temporal.range_join(
        left, right, on="user_id", left_ts="lts", right_ts="rts", window_us=hour, how="left"
    ).collect()
    by_lid = {}
    for r in rows:
        by_lid.setdefault(r.lid, []).append(r.rid)
    assert by_lid == {1: [100], 2: [None]}


def test_asof_plan_single_exchange(spark):
    plan = (
        temporal.q_asof_attribution(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_range_agg_plan_is_single_shuffle_window(spark):
    # the aggregate form runs as a range-frame window: one Exchange on
    # user_id, no join at all (see q_range_join_bins docstring)
    plan = (
        temporal.q_range_join_bins(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Window" in plan


def test_range_join_plan_is_equi_hash_join(spark):
    from wnba_data_pipeline_spark.sources.tables import load_table

    # every same-user event in the 24 hours before each purchase
    events = load_table(spark, SF_SMOKE, "events")
    purchases = events.filter(F.col("event_type") == temporal.ASOF_LEFT_TYPE).select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    prior = events.select("user_id", F.col("event_id").alias("prior_id"), F.col("ts").alias("prior_ts"))
    pairs = temporal.range_join(
        purchases, prior, on="user_id", left_ts="purchase_ts", right_ts="prior_ts"
    ).select("purchase_id", "user_id", "prior_id")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the (key, bin) equality must reach a hash-partitionable join — the
    # whole point of the bin trick; a raw range predicate plans as BNLJ
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_asof_differential_vs_pandas_merge_asof(spark):
    """The full merge_asof surface (direction x allow_exact_matches x
    tolerance) against pandas itself on a deterministic random frame.
    Right (key, ts) pairs are unique so the tie-break difference between
    the engines (max payload vs positional last) cannot bite."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    n_l, n_r, keys = 400, 300, 11
    base = pd.Timestamp("2024-03-01")
    lpd = pd.DataFrame(
        {
            "lid": np.arange(n_l, dtype="int64"),
            "user_id": rng.integers(0, keys, n_l).astype("int64"),
            "lts": base + pd.to_timedelta(rng.integers(0, 3_600_000, n_l), unit="ms"),
        }
    )
    rpd = pd.DataFrame(
        {
            "rid": np.arange(1000, 1000 + n_r, dtype="int64"),
            "user_id": rng.integers(0, keys, n_r).astype("int64"),
            "rts": base + pd.to_timedelta(rng.integers(0, 3_600_000, n_r), unit="ms"),
        }
    ).drop_duplicates(["user_id", "rts"])
    # plant exact-timestamp collisions so allow_exact_matches is exercised
    planted = lpd.iloc[:20].copy()
    rpd = pd.concat(
        [rpd, pd.DataFrame({"rid": np.arange(2000, 2020, dtype="int64"),
                            "user_id": planted["user_id"].values,
                            "lts": planted["lts"].values}).rename(columns={"lts": "rts"})]
    ).drop_duplicates(["user_id", "rts"])

    sl = spark.createDataFrame(lpd.assign(lts=lpd["lts"].astype("datetime64[us]")))
    sr = spark.createDataFrame(rpd.assign(rts=rpd["rts"].astype("datetime64[us]")))

    from wnba_data_pipeline_spark.operators import temporal

    for direction in ("backward", "forward", "nearest"):
        for exact in (True, False):
            for tol in (None, 120_000_000):  # 2 minutes in us
                got = (
                    temporal.asof_join(
                        sl, sr, on="user_id", left_ts="lts", right_ts="rts",
                        direction=direction, allow_exact_matches=exact,
                        tolerance_us=tol,
                    )
                    .select("lid", "rid")
                    .collect()
                )
                got = {r.lid: r.rid for r in got}
                want_df = pd.merge_asof(
                    lpd.sort_values("lts"),
                    rpd.sort_values("rts"),
                    left_on="lts", right_on="rts", by="user_id",
                    direction=direction, allow_exact_matches=exact,
                    tolerance=None if tol is None else pd.Timedelta(microseconds=tol),
                )
                want = {
                    int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
                    for r in want_df.itertuples()
                }
                assert got == want, (direction, exact, tol)
