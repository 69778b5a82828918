"""Hot-key window mitigation gates (operators/chunked.py): the chunked shapes must be VALUE-IDENTICAL to the
plain single-window shapes on real data and on adversarial boundary
cases, the sampled detector must engage exactly on planted hot keys, and
the chunked plan must actually bound the per-task work a hot key can
serialize (the structural max-partition assertion that proxies max task
time deterministically; wall-clock before/after is measured at sf10 in
BENCH_SCALE_r10)."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wnba_data_pipeline_spark.operators import chunked, relational, temporal
from wnba_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_ORACLE

QUERIES = {
    "asof_attribution": temporal.q_asof_attribution,
    "range_join_bins": temporal.q_range_join_bins,
    "rolling_5_10": relational.q_rolling_5_10,
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _force_chunked(monkeypatch, on: bool) -> None:
    """Pin the hot-key gate's decision: a fresh detection cache, and a
    detector that answers ``on`` for every table."""
    monkeypatch.setattr(chunked, "_HOT_EVENTS_CACHE", {})
    monkeypatch.setattr(chunked, "detect_hot_keys", lambda *a, **k: on)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_chunked_equals_plain_on_oracle_corpus(name, spark, monkeypatch):
    _force_chunked(monkeypatch, False)
    plain = _rows(QUERIES[name](spark, SF_ORACLE))
    _force_chunked(monkeypatch, True)
    ck = _rows(QUERIES[name](spark, SF_ORACLE))
    assert plain == ck
    assert len(plain) > 0


# ---------------------------------------------------------------------------
# planted hot key: detection + equality + bounded per-partition work
# ---------------------------------------------------------------------------

HOT_N = 4000  # hot user's events, spread over ~40 days → ~40 chunks
COLD_USERS = 50
COLD_N = 40


@pytest.fixture(scope="module")
def skewed_events(spark):
    """One user with HOT_N events (≈2/3 of the table) + COLD_USERS small
    users; ts ties, chunk-boundary timestamps, and both event types are
    planted deliberately."""
    hot = spark.range(HOT_N).select(
        F.col("id").alias("event_id"),
        F.lit(0).alias("user_id"),
        # ~100 events/day incl. EXACT midnight boundary hits and ts-ties
        # (id and id+1 share a second whenever id % 97 == 0)
        F.to_timestamp(
            F.lit("2001-03-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("id") - F.col("id") % 97 % 2) * 864)
        ).alias("ts"),
        (F.col("id") % 100 / 10.0).alias("value"),
        F.when(F.col("id") % 5 == 0, temporal.ASOF_LEFT_TYPE)
        .when(F.col("id") % 5 == 1, temporal.ASOF_RIGHT_TYPE)
        .otherwise("view")
        .alias("event_type"),
    )
    cold = spark.range(COLD_USERS * COLD_N).select(
        (F.col("id") + 1_000_000).alias("event_id"),
        (F.col("id") % COLD_USERS + 1).alias("user_id"),
        F.to_timestamp(
            F.lit("2001-03-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") * 1800)
        ).alias("ts"),
        (F.col("id") % 7 / 3.0).alias("value"),
        F.when(F.col("id") % 3 == 0, temporal.ASOF_LEFT_TYPE)
        .when(F.col("id") % 3 == 1, temporal.ASOF_RIGHT_TYPE)
        .otherwise("view")
        .alias("event_type"),
    )
    df = hot.unionByName(cold).persist()
    df.count()
    yield df
    df.unpersist()


def test_detector_engages_on_planted_hot_key(spark, skewed_events):
    # lowered threshold so the 4k-row planted key counts as hot (the
    # production HOT_KEY_MIN=64k would need a 64k-row fixture for nothing)
    assert chunked.detect_hot_keys(skewed_events, "user_id", "event_id", hot_key_min=1024)
    uniform = load_table(spark, SF_ORACLE, "events")
    assert not chunked.detect_hot_keys(uniform, "user_id", "event_id")


def test_chunked_running_max_equals_plain_on_skew(spark, skewed_events):
    click = F.when(
        F.col("event_type") == temporal.ASOF_RIGHT_TYPE,
        F.struct(F.col("ts").alias("_ct"), F.col("event_id").alias("_cid")),
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    plain = _rows(
        skewed_events.withColumn("_m", F.max(click).over(w))
        .filter(F.col("_m").isNotNull())
        .select("event_id", "user_id", F.col("_m._cid").alias("cid"), F.col("_m._ct").alias("ct"))
    )
    ck = _rows(
        chunked.chunked_running_max(skewed_events, click)
        .filter(F.col("_m").isNotNull())
        .select("event_id", "user_id", F.col("_m._cid").alias("cid"), F.col("_m._ct").alias("ct"))
    )
    assert plain == ck


def test_chunked_trailing_agg_equals_plain_on_skew(spark, skewed_events):
    fp = "cast(floor(value * 1000000 + 0.5d) as long)"
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = Window.partitionBy("user_id").orderBy(us)
    w_now = base.rangeBetween(Window.unboundedPreceding, -1)
    w_cut = base.rangeBetween(Window.unboundedPreceding, -temporal.WINDOW_US - 1)
    fp_col = F.expr(fp)
    n_col = (F.count(F.lit(1)).over(w_now) - F.count(F.lit(1)).over(w_cut)).cast("long")
    s_col = F.coalesce(F.sum(fp_col).over(w_now), F.lit(0).cast("long")) - F.coalesce(
        F.sum(fp_col).over(w_cut), F.lit(0).cast("long")
    )
    plain = _rows(
        skewed_events.select("event_id", n_col.alias("n"), s_col.alias("s"))
    )
    ck = _rows(
        chunked.chunked_trailing_agg(skewed_events, window_us=temporal.WINDOW_US).select(
            F.col("_id").alias("event_id"),
            F.col("_n_trailing").alias("n"),
            F.col("_s_trailing_fp").alias("s"),
        )
    )
    assert plain == ck


def test_chunked_rolling_equals_plain_on_skewed_lineitem(spark):
    """Rolling means through the cumulative-at-row-offset form on a planted
    hot-supplier lineitem (one supplier takes over 1-in-3 rows), including
    full-ordering ties: identical to the plain ROWS-frame window."""
    from wnba_data_pipeline_spark.functions.windows import rolling_avg_exact
    from wnba_data_pipeline_spark.operators.chunked import chunked_rolling

    li = (
        load_table(spark, SF_ORACLE, "lineitem")
        .withColumn(
            "l_suppkey",
            F.when(F.col("l_orderkey") % 3 == 0, F.lit(7)).otherwise(F.col("l_suppkey")),
        )
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
    )
    plain = _rows(
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            *[F.round(rolling_avg_exact("l_quantity", w, n), 6).alias(f"r{n}") for n in (5, 10)],
        )
    )
    ck = chunked_rolling(li, (5, 10))
    got = _rows(
        ck.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.col("_roll5").alias("r5"),
            F.col("_roll10").alias("r10"),
        )
    )
    assert plain == got


def test_chunked_bounds_per_partition_work(spark, skewed_events):
    """The structural skew bound: the plain window puts the hot key's
    HOT_N rows in ONE partition; the chunked shapes partition by
    (key, day-chunk), so no single window partition may exceed the hot
    key's densest day — an order of magnitude below HOT_N here. This is
    the deterministic proxy for the max-task-time assertion (task wall
    scales with partition rows for these O(n) window passes)."""
    per_chunk = (
        skewed_events.select("user_id", F.expr(f"unix_micros(cast(ts as timestamp)) div {chunked.CHUNK_US}").alias("ck"))
        .groupBy("user_id", "ck")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    hot_total = skewed_events.filter(F.col("user_id") == 0).count()
    assert hot_total == HOT_N
    assert per_chunk * 4 <= hot_total, (per_chunk, hot_total)


def test_registry_queries_equal_under_planted_skew(spark, skewed_events, tmp_path, monkeypatch):
    """End-to-end: write the skewed table as an events.parquet dir, run the
    two event-window registry queries with the gate forced OFF and ON —
    identical rows, and the detector itself must pick the chunked branch
    for this table."""
    from wnba_data_pipeline_spark.sources.sinks import overwrite_table

    detect = chunked.detect_hot_keys
    sf_dir = str(tmp_path / "skewsf")
    overwrite_table(skewed_events, f"{sf_dir}/events.parquet")
    for name, q in QUERIES.items():
        if name == "rolling_5_10":
            continue  # lineitem family — covered by the planted-supplier test
        _force_chunked(monkeypatch, False)
        plain = _rows(q(spark, sf_dir))
        _force_chunked(monkeypatch, True)
        ck = _rows(q(spark, sf_dir))
        assert plain == ck, name
        assert len(plain) > 0, name
    ev = load_table(spark, sf_dir, "events")
    assert detect(ev, "user_id", "event_id", hot_key_min=1024)


# ---------------------------------------------------------------------------
# planted NULL keys: the carry joins must be null-safe
# ---------------------------------------------------------------------------



def _nrows(df):
    """Null-safe row sort: tuples containing None are not orderable."""
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(type(v)), v if v is not None else 0) for v in t),
    )

@pytest.fixture(scope="module")
def nullkey_events(spark):
    """Every third row has a NULL user_id, spread over ~50 day-chunks so
    the NULL key genuinely needs cross-chunk carries. The plain window
    shapes group NULL keys into ONE partition (Spark window partitioning,
    like GROUP BY), so the chunked forms must deliver the same rows — a
    plain `=` carry join silently drops them (the ADVICE r10 bug: totals
    lost -> n_prior understated / sessions dropped)."""
    df = spark.range(600).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.col("id") % 5).alias("user_id"),
        F.to_timestamp(
            F.lit("2001-03-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") * 7200)
        ).alias("ts"),
        (F.col("id") % 11 / 4.0).alias("value"),
        F.when(F.col("id") % 5 == 0, temporal.ASOF_LEFT_TYPE)
        .when(F.col("id") % 5 == 1, temporal.ASOF_RIGHT_TYPE)
        .otherwise("view")
        .alias("event_type"),
    ).persist()
    df.count()
    yield df
    df.unpersist()


def test_chunked_running_max_keeps_null_keys(spark, nullkey_events):
    click = F.when(
        F.col("event_type") == temporal.ASOF_RIGHT_TYPE,
        F.struct(F.col("ts").alias("_ct"), F.col("event_id").alias("_cid")),
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    plain = _nrows(
        nullkey_events.withColumn("_m", F.max(click).over(w))
        .filter(F.col("_m").isNotNull())
        .select("event_id", "user_id", F.col("_m._cid").alias("cid"), F.col("_m._ct").alias("ct"))
    )
    ck = _nrows(
        chunked.chunked_running_max(nullkey_events, click)
        .filter(F.col("_m").isNotNull())
        .select("event_id", "user_id", F.col("_m._cid").alias("cid"), F.col("_m._ct").alias("ct"))
    )
    assert plain == ck
    assert any(r[1] is None for r in plain)


def test_chunked_trailing_agg_keeps_null_keys(spark, nullkey_events):
    fp = "cast(floor(value * 1000000 + 0.5d) as long)"
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = Window.partitionBy("user_id").orderBy(us)
    w_now = base.rangeBetween(Window.unboundedPreceding, -1)
    w_cut = base.rangeBetween(Window.unboundedPreceding, -temporal.WINDOW_US - 1)
    fp_col = F.expr(fp)
    n_col = (F.count(F.lit(1)).over(w_now) - F.count(F.lit(1)).over(w_cut)).cast("long")
    s_col = F.coalesce(F.sum(fp_col).over(w_now), F.lit(0).cast("long")) - F.coalesce(
        F.sum(fp_col).over(w_cut), F.lit(0).cast("long")
    )
    plain = _nrows(nullkey_events.select("event_id", n_col.alias("n"), s_col.alias("s")))
    ck = _nrows(
        chunked.chunked_trailing_agg(nullkey_events, window_us=temporal.WINDOW_US).select(
            F.col("_id").alias("event_id"),
            F.col("_n_trailing").alias("n"),
            F.col("_s_trailing_fp").alias("s"),
        )
    )
    assert plain == ck
    # and nothing went negative (the pre-fix symptom)
    assert all(r[1] >= 0 for r in ck)


def test_chunked_rolling_keeps_null_keys(spark):
    from wnba_data_pipeline_spark.functions.windows import rolling_avg_exact
    from wnba_data_pipeline_spark.operators.chunked import chunked_rolling

    li = (
        load_table(spark, SF_ORACLE, "lineitem")
        .withColumn(
            "l_suppkey",
            F.when(F.col("l_orderkey") % 3 == 0, F.lit(None)).otherwise(F.col("l_suppkey")),
        )
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    plain = _nrows(
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            *[F.round(rolling_avg_exact("l_quantity", w, n), 6).alias(f"r{n}") for n in (5, 10)],
        )
    )
    got = _nrows(
        chunked_rolling(li, (5, 10)).select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.col("_roll5").alias("r5"),
            F.col("_roll10").alias("r10"),
        )
    )
    assert plain == got
    assert any(r[0] is None for r in plain)


def test_hot_key_cache_keyed_by_table(spark, skewed_events, monkeypatch):
    """ADVICE r10 (low): the detection cache must not let two tables that
    share a key-column NAME reuse each other's verdict."""
    uniform = load_table(spark, SF_ORACLE, "events")
    chunked._HOT_EVENTS_CACHE.clear()
    # the bar test_detector_engages_on_planted_hot_key uses, so the planted
    # table is hot and the uniform one is not
    monkeypatch.setattr(
        chunked, "detect_hot_keys", functools.partial(chunked.detect_hot_keys, hot_key_min=1024)
    )
    hot = chunked.use_chunked_table(
        skewed_events, ("cachekey-test", "", "tbl_a"), "user_id", "event_id"
    )
    cold = chunked.use_chunked_table(
        uniform, ("cachekey-test", "", "tbl_b"), "user_id", "event_id"
    )
    # same sf_dir/layout + same key column, different tables -> independent
    # cache entries holding their own verdicts
    keys = [k for k in chunked._HOT_EVENTS_CACHE if k[0] == "cachekey-test"]
    assert len(keys) == 2, keys
    assert hot is True
    assert cold is False
