"""Temporal joins over the ``events`` stream — as-of (most-recent-match)
join and bounded range join, the two join shapes Spark's built-in operators
don't provide directly (build-brief custom-operator examples).

Beyond the reference's surface: the reference pipeline is day-batch
(ingest → transform → quality), so its joins are all equi-joins
(`transform_player_stats.py` merge on player/game keys). A training-data /
attribution pipeline additionally needs:

  * **as-of join** — "attach the most recent right-hand row at-or-before
    each left-hand timestamp" (conversion attribution, slowly-changing
    dims, feature freshness). Naive formulations are O(L·R) per key or a
    per-key collect; the classic distributed formulation used here is
    union + tag + single partitioned sort + ``last(..., ignorenulls)``
    running window: ONE shuffle on the join key, one in-partition sort —
    the same cost family as sessionization, never all-pairs.
  * **bounded range join** — "aggregate right-hand rows with
    ts ∈ [left_ts − W, left_ts)" (trailing-window features). A raw range
    predicate plans as BroadcastNestedLoopJoin (O(L·R) — the scale
    cliff). With the time axis bucketed into W-sized bins, each left row
    probes at most TWO bins and the join is a plain equi-join on
    (key, bin) with the exact range predicate evaluated inside the join:
    shuffle volume is O(L + R), skew bounded by rows-per-key-per-window.

Scale posture (100 TB): both shapes shuffle once on (key[, bin]) — a
uniform composite key — then do per-partition sorted/hashed work. The
as-of window state is one row (``last`` over unbounded-preceding is a
running value, not a buffered frame). The range join's fan-out is exactly
2× on the probe side and 1× on the build side, independent of corpus
size; the equality keys reach the shuffle exchange so AQE's skew-join
splitting applies as usual. Neither operator ever materializes a
cross-product.

Determinism contract: right-side ties at identical (key, ts) are broken
by the max payload struct (lexicographic), and every hash-compared double
sum goes through the 6-decimal fixed-point quantization shared with
``operators/relational._dsum`` — both engines sum exact int64s.

DuckDB oracles are *independent formulations*, not transliterations:
the as-of twin uses DuckDB's native ``ASOF LEFT JOIN`` and the range twin
its IEJoin range predicate — two different executors must agree on every
row at sf0.01 for the driver's hash gate to pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .relational import _dsum, _dsum_sql, _is_bucketed, _layout_table

# 24h trailing window = bin width (window == bin ⇒ each probe touches ≤2 bins)
WINDOW_US = 24 * 3600 * 1_000_000


def _us(c: str | Column) -> Column:
    """Epoch microseconds of a TIMESTAMP_NTZ column. The session timezone
    is pinned to UTC (``session.get_spark``), so the NTZ→TIMESTAMP cast is
    instant-preserving and matches DuckDB's ``epoch_us`` on naive
    timestamps exactly."""
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(c.cast("timestamp"))


def _us_sql_expr(col: str) -> str:
    """Same conversion for F.expr fragments."""
    return f"unix_micros(cast({col} as timestamp))"

ASOF_LEFT_TYPE = "purchase"  # rows being enriched
ASOF_RIGHT_TYPE = "click"  # rows supplying the as-of payload


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance_us: int | None = None,
) -> DataFrame:
    """As-of left join — the distributed ``pandas.merge_asof`` surface
    (direction backward/forward/nearest, exact-match toggle, tolerance),
    differentially tested against pandas itself in tests/test_temporal.py.

    ``backward``: the right row with the greatest ``right_ts`` ≤
    ``left_ts`` per ``on`` key; ``forward``: smallest ``right_ts`` ≥
    ``left_ts``; ``nearest``: whichever of the two is closer in absolute
    microseconds (backward wins exact ties, matching pandas).
    ``allow_exact_matches=False`` makes the comparisons strict.
    ``tolerance_us`` nulls any match farther than the given microseconds.
    Right columns are null when no row qualifies.

    ``left`` and ``right`` column names must be disjoint apart from
    ``on``. Right rows with a null key or timestamp never match.

    Plan: union(tagged) → Exchange hashpartitioning(key) → in-partition
    sort (ts, side, payload) → running ``last(payload, ignorenulls)`` →
    filter to left rows. The right payload is carried as ONE struct
    column so the window state is a single value regardless of how many
    columns ride along; ``forward`` is the same pass over the reversed
    sort, ``nearest`` runs both windows over ONE sorted shuffle (the sort
    orders are trivially derivable, so Spark reuses the exchange).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    r_payload = [c for c in right.columns if c != on]
    lhs = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[left[c] for c in left.columns]).alias("_l"),
    )
    rhs = right.filter(F.col(on).isNotNull() & F.col(right_ts).isNotNull()).select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(*[right[c] for c in r_payload]).alias("_r"),
    )
    u = lhs.withColumn("_r", F.lit(None).cast(rhs.schema["_r"].dataType)).unionByName(
        rhs.withColumn("_l", F.lit(None).cast(lhs.schema["_l"].dataType))
    )
    # side ordering controls the at-timestamp tie: with exact matches the
    # right row at the left's ts must sort BEFORE the left row (visible to
    # the running window); with strict comparison, after it. Equal
    # (key, ts) right-side dups resolve to the max payload struct.
    side = F.col("_side").asc() if allow_exact_matches else F.col("_side").desc()

    def _gapped(m, back: bool):
        # microsecond distance of a candidate match, for tolerance/nearest
        lt = F.unix_micros(F.col("_t").cast("timestamp"))
        rt = F.unix_micros(m["_mt"].cast("timestamp"))
        return (lt - rt) if back else (rt - lt)

    # carry the matched ts inside the struct so tolerance/nearest can
    # measure the gap without re-joining
    rhs_ts = F.struct(F.col("_t").alias("_mt"), F.col("_r").alias("_mr"))
    u = u.withColumn(
        "_rts",
        F.when(F.col("_side") == 0, rhs_ts).otherwise(
            F.lit(None).cast(
                f"struct<_mt:{u.schema['_t'].dataType.simpleString()},"
                f"_mr:{u.schema['_r'].dataType.simpleString()}>"
            )
        ),
    )

    def _windowed(descending: bool):
        t = F.col("_t").desc() if descending else F.col("_t").asc()
        w = (
            Window.partitionBy("_k")
            .orderBy(t, side, F.col("_rts").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("_rts", ignorenulls=True).over(w)

    matched = u.withColumn("_mb", _windowed(False)).withColumn("_mf", _windowed(True))
    matched = matched.filter(F.col("_side") == 1)

    gap_b = _gapped(F.col("_mb"), back=True)
    gap_f = _gapped(F.col("_mf"), back=False)
    if tolerance_us is not None:
        mb = F.when(gap_b <= F.lit(tolerance_us), F.col("_mb"))
        mf = F.when(gap_f <= F.lit(tolerance_us), F.col("_mf"))
    else:
        mb, mf = F.col("_mb"), F.col("_mf")
    if direction == "backward":
        m = mb
    elif direction == "forward":
        m = mf
    else:  # nearest: closer gap wins, backward wins exact ties (pandas)
        m = (
            F.when(F.col("_mb").isNull(), mf)
            .when(F.col("_mf").isNull(), mb)
            .when(gap_f < gap_b, mf)
            .otherwise(mb)
        )
    matched = matched.withColumn("_m", m["_mr"])
    out_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"_m.{c}").alias(c) for c in r_payload]
    return matched.select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    window_us: int = WINDOW_US,
    how: str = "inner",
) -> DataFrame:
    """Bounded range join: pairs every ``left`` row with the ``right``
    rows of the same ``on`` key whose ``right_ts`` falls in
    ``[left_ts − window_us, left_ts)`` (trailing window, end-exclusive —
    a row never joins itself when both sides come from one table).

    ``how='left'`` keeps unmatched left rows with EXACTLY one null-padded
    row each, and matched left rows emit only their match pairs — the bin
    fan-out's spurious per-bin null rows (a matched left row whose OTHER
    bin-row found nothing, or a doubly-unmatched row's second bin) are
    post-filtered per original left row, so ``right_col IS NULL`` on the
    output is a faithful unmatched test. The filter costs one extra
    window shuffle on the left-row id and runs only for ``how='left'``.

    Scalability is the bin trick described in the module docstring: the
    range predicate stays in the JOIN CONDITION (left-join correctness
    and join-time evaluation) while the (key, bin) equality gives
    Catalyst a hash-partitionable equi-join — no BroadcastNestedLoop.
    """
    # Internal renames make both sides' attributes disjoint — left and
    # right usually derive from the SAME table here (trailing self-join),
    # and same-lineage references would trip Spark's ambiguous-self-join
    # detection. Bin INDEX bounds use integer division (exact on int64 —
    # no double rounding at epoch-microsecond magnitude).
    lhs = left.select([F.col(c).alias(f"_l_{c}") for c in left.columns])
    if how == "left":
        # stable per-ORIGINAL-left-row identity, assigned BEFORE the bin
        # explode so both bin-rows of one left row share it
        lhs = lhs.withColumn("_lrow", F.monotonically_increasing_id())
    lhs = lhs.withColumn(
        "_lbin",
        F.explode(
            F.sequence(
                F.expr(f"({_us_sql_expr(f'_l_{left_ts}')} - {window_us}) div {window_us}"),
                F.expr(f"({_us_sql_expr(f'_l_{left_ts}')} - 1) div {window_us}"),
            )
        ),
    )
    rhs = right.select([F.col(c).alias(f"_r_{c}") for c in right.columns]).withColumn(
        "_rbin", F.expr(f"{_us_sql_expr(f'_r_{right_ts}')} div {window_us}")
    )
    us_l, us_r = _us(f"_l_{left_ts}"), _us(f"_r_{right_ts}")
    cond = (
        (F.col(f"_l_{on}") == F.col(f"_r_{on}"))
        & (F.col("_lbin") == F.col("_rbin"))
        & (us_r >= us_l - F.lit(window_us))
        & (us_r < us_l)
    )
    joined = lhs.join(rhs, cond, how)
    if how == "left":
        # Collapse the bin fan-out's null-padding to at most ONE null row
        # per original left row, emitted only when NEITHER bin matched:
        # keep every matched pair; among a left row's null bin-rows keep
        # the first only if the row has zero matches across both bins.
        matched = F.col(f"_r_{on}").isNotNull()
        w = Window.partitionBy("_lrow")
        joined = (
            joined.withColumn("_any", F.max(matched.cast("int")).over(w) == 1)
            .withColumn("_rn", F.row_number().over(w.orderBy(F.col("_lbin"))))
            .filter(matched | (~F.col("_any") & (F.col("_rn") == 1)))
        )
    out = [F.col(f"_l_{c}").alias(c) for c in left.columns]
    out += [F.col(f"_r_{c}").alias(c) for c in right.columns if c != on]
    return joined.select(*out)


# ---------------------------------------------------------------------------
# registry queries


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution: each ``purchase`` event matched to the most
    recent ``click`` by the same user at-or-before it. ``gap_us`` is the
    exact microsecond distance. Registered as the INNER variant (purchases
    with no earlier click are dropped) because the driver's value-hash
    normalization has no contract for NULL timestamps; the left-join path
    of :func:`asof_join` is covered by ``tests/test_temporal.py``.

    Layout-aware (round 8, VERDICT r7 item 2 — the sessionize treatment):
    both sides come from the SAME keyed event stream, so on the
    user-bucketed, (user_id, ts)-sorted layout the union+tag shuffle is
    pure overhead (a Union discards the children's partitioning). The
    bucketed shape runs ONE window over the raw scan instead:
    ``max(click_struct) OVER (PARTITION BY user_id ORDER BY ts)`` with the
    default RANGE frame — tie PEERS are all in-frame, so a click at
    exactly the purchase's ts is visible (allow_exact_matches) under ANY
    physical tie order, and ``max(struct(ts, event_id))`` reproduces the
    generic operator's latest-then-max-payload tie contract. Ordering is
    the RAW ts column — syntactically the scan's advertised sortBy order —
    so the plan runs with ZERO Exchange and ZERO Sort (identical rows
    plan-asserted in tests/test_catalog.py; measured in BENCH_SCALE_r08).
    The general two-table operator stays :func:`asof_join`.

    Hot-KEY gate (round 10, VERDICT r9 item 2): a user holding ≥
    ``chunked.HOT_KEY_MIN`` events serializes the per-user running-max
    window (or the generic path's per-key sorted pass) onto one task; the
    sampled detector switches to ``chunked.chunked_running_max`` —
    within-chunk running max + carried previous-chunk maxima (max is
    associative), identical rows (tests/test_chunked.py)."""
    import os as _os

    from .chunked import chunked_running_max, use_chunked_events

    events = _layout_table(spark, sf_dir, "events")
    if use_chunked_events(events, (sf_dir, _os.environ.get("SPARK_GRAFT_LAYOUT", ""))):
        # same null contract + output as the bucketed running-max shape
        ev = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        click = F.when(
            F.col("event_type") == ASOF_RIGHT_TYPE,
            F.struct(F.col("ts").alias("_ct"), F.col("event_id").alias("_cid")),
        )
        return (
            chunked_running_max(ev, click, out_col="_m")
            .filter((F.col("event_type") == ASOF_LEFT_TYPE) & F.col("_m").isNotNull())
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("ts").alias("purchase_ts"),
                F.col("_m._cid").alias("click_id"),
                F.col("_m._ct").alias("click_ts"),
                (_us("ts") - _us(F.col("_m._ct"))).alias("gap_us"),
            )
        )
    if _is_bucketed(spark, sf_dir, "events"):
        # null-key/null-ts contract must match the generic asof_join
        # (round-8 review fix): a NULL user_id or ts row neither matches
        # nor is matched there (rhs filters both; null-key lhs rows join
        # nothing and drop in the inner filter), while an unfiltered
        # window would group NULL keys into one partition and let a
        # NULL-ts click ride inside a non-null struct. Filter both
        # up front — values on null-free data are untouched.
        events = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        w = Window.partitionBy("user_id").orderBy("ts")  # default RANGE frame
        click = F.when(
            F.col("event_type") == ASOF_RIGHT_TYPE,
            F.struct(F.col("ts").alias("_ct"), F.col("event_id").alias("_cid")),
        )
        return (
            events.withColumn("_m", F.max(click).over(w))
            .filter((F.col("event_type") == ASOF_LEFT_TYPE) & F.col("_m").isNotNull())
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("ts").alias("purchase_ts"),
                F.col("_m._cid").alias("click_id"),
                F.col("_m._ct").alias("click_ts"),
                (_us("ts") - _us(F.col("_m._ct"))).alias("gap_us"),
            )
        )
    purchases = events.filter(F.col("event_type") == ASOF_LEFT_TYPE).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = events.filter(F.col("event_type") == ASOF_RIGHT_TYPE).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="purchase_ts", right_ts="click_ts"
    ).filter(F.col("click_id").isNotNull())
    return out.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        (_us("purchase_ts") - _us("click_ts")).alias("gap_us"),
    )


ORACLE_ASOF_ATTRIBUTION = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = '{ASOF_LEFT_TYPE}'
), c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = '{ASOF_RIGHT_TYPE}'
)
SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts,
       epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us
FROM p ASOF JOIN c
  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
"""


def q_range_join_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h activity features: for each purchase, the count and
    (fixed-point-exact) value sum of ALL same-user events in the 24 hours
    strictly before it. Purchases with a quiet preceding day keep a row
    with zeros.

    Physical shape: when BOTH sides are the same keyed event stream and
    the output is an AGGREGATE (not pairs), the bin-join is dominated by a
    RANGE-FRAME WINDOW over epoch-microseconds — one shuffle on user_id +
    one in-partition sort, no explode, no join, no re-aggregation shuffle
    (measured sf10: 2.40 s bin-join → see BENCH_SCALE_r06 temporal_joins;
    the bin-join materialized ~4.4 M pairs and re-shuffled them to group
    by purchase). The frame [us−W, us−1] over the full per-user stream is
    exactly ts' ∈ [ts−W, ts) — current row self-excluded since (user_id,
    ts) collisions cannot land inside a frame ending at us−1. The
    pair-producing general form stays :func:`range_join` (exercised by
    its unit tests in tests/test_temporal.py).

    Layout-aware (round 8, VERDICT r7 item 2): the epoch-micros ordering
    expression is semantically the raw ``ts`` order, but Spark's ordering
    satisfaction is SYNTACTIC — a window ordered by ``unix_micros(ts)``
    re-sorts even on the (user_id, ts)-sorted bucketed scan. On that
    layout the window orders by the RAW ts column with interval bounds,
    and the plan runs with ZERO Exchange and ZERO Sort (identity asserted
    in tests/test_catalog.py; measured in BENCH_SCALE_r08).

    Frame shape (round 8, second pass): a trailing SLIDING frame
    ``[ts−W, ts)`` makes Spark recompute the aggregate from scratch every
    time a row leaves the frame (``SlidingWindowFunctionFrame`` replays
    the whole buffer — O(rows × frame) adds; DuckDB's segment-tree
    evaluator is O(rows·log frame), which is exactly the measured sf10
    gap). Both trailing aggregates are therefore computed as a DIFFERENCE
    OF CUMULATIVES: frames anchored at UNBOUNDED PRECEDING with a moving
    upper bound only ever ADD rows (``UnboundedPrecedingWindowFunctionFrame``
    — O(rows) total), and WindowExec fuses both frames into the single
    window pass.  count[ts−W, ts) = count(< ts) − count(< ts−W); the 1 µs
    end offsets make both bounds end-exclusive at timestamp precision.
    The value sum subtracts in fixed-point int64 (exact; overflow needs a
    single user exceeding ~9e9 events × avg |value|·1e6 ≈ 1e9, far beyond
    any per-key stream this engine targets — and the subtraction is exact
    even then, since int64 wraparound cancels in the difference).

    Hot-KEY gate (round 10, VERDICT r9 item 2): the cumulative window
    serializes a hot user onto one task; the sampled detector switches to
    ``chunked.chunked_trailing_agg`` — W-wide chunks where the trailing
    window spans ≤ 2 chunks, the cross-chunk cut resolved by per-purchase
    probe rows inside the same window pass (identical values by the same
    exact-int64 difference argument; tests/test_chunked.py)."""
    import os as _os

    from .chunked import chunked_trailing_agg, use_chunked_events

    events = _layout_table(spark, sf_dir, "events")
    fp = "cast(floor(value * 1000000 + 0.5d) as long)"
    if use_chunked_events(events, (sf_dir, _os.environ.get("SPARK_GRAFT_LAYOUT", ""))):
        trail = chunked_trailing_agg(
            events,
            window_us=WINDOW_US,
            fp_expr=fp,
            probe_pred=F.col("event_type") == ASOF_LEFT_TYPE,
        )
        purchases = events.filter(F.col("event_type") == ASOF_LEFT_TYPE).select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        return purchases.join(
            trail.select(
                F.col("_id").alias("purchase_id"),
                F.col("_n_trailing").alias("n_prior_24h"),
                (F.col("_s_trailing_fp") / 1_000_000).cast("double").alias("value_sum_24h"),
            ),
            "purchase_id",
        ).select("purchase_id", "user_id", "purchase_ts", "n_prior_24h", "value_sum_24h")
    if _is_bucketed(spark, sf_dir, "events"):
        # both bounds must share one interval type: seconds on both sides
        lt_now = (
            "PARTITION BY user_id ORDER BY ts RANGE BETWEEN UNBOUNDED "
            "PRECEDING AND INTERVAL '0.000001' SECOND PRECEDING"
        )
        lt_cut = (
            "PARTITION BY user_id ORDER BY ts RANGE BETWEEN UNBOUNDED "
            "PRECEDING AND INTERVAL '86400.000001' SECOND PRECEDING"
        )
        n_col = F.expr(f"count(1) OVER ({lt_now}) - count(1) OVER ({lt_cut})").cast("long")
        s_col = F.expr(
            f"coalesce(sum({fp}) OVER ({lt_now}), 0L) - "
            f"coalesce(sum({fp}) OVER ({lt_cut}), 0L)"
        )
    else:
        us = _us("ts")
        base = Window.partitionBy("user_id").orderBy(us)
        w_now = base.rangeBetween(Window.unboundedPreceding, -1)
        w_cut = base.rangeBetween(Window.unboundedPreceding, -WINDOW_US - 1)
        fp_col = F.expr(fp)
        n_col = (F.count(F.lit(1)).over(w_now) - F.count(F.lit(1)).over(w_cut)).cast("long")
        s_col = F.coalesce(F.sum(fp_col).over(w_now), F.lit(0).cast("long")) - F.coalesce(
            F.sum(fp_col).over(w_cut), F.lit(0).cast("long")
        )
    # single select so all four window expressions (two frames × two
    # aggregates) land in ONE WindowExec pass — chained withColumns would
    # interpose a Project and defeat CollapseWindow, doubling the sort
    return (
        events.select(
            "event_id",
            "user_id",
            "ts",
            F.col("event_type"),
            n_col.alias("n_prior_24h"),
            (s_col / 1_000_000).cast("double").alias("value_sum_24h"),
        )
        .filter(F.col("event_type") == ASOF_LEFT_TYPE)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "n_prior_24h",
            "value_sum_24h",
        )
    )


def range_agg_binjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bin-join physical shape of ``q_range_join_bins`` — same rows,
    measured SLOWER at sf10 (the join materializes ~4.4 M pairs and
    re-shuffles them to group by purchase; see BENCH_SCALE_r06
    temporal_joins). Kept as the measured alternative and the shape a
    TWO-TABLE trailing aggregate (where no shared event stream exists for
    a window pass) would use."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == ASOF_LEFT_TYPE).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    prior = events.select(
        "user_id",
        F.col("event_id").alias("prior_id"),
        F.col("ts").alias("prior_ts"),
        F.col("value").alias("prior_value"),
    )
    pairs = range_join(
        purchases,
        prior,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="prior_ts",
        window_us=WINDOW_US,
        how="left",
    )
    return pairs.groupBy("purchase_id", "user_id", "purchase_ts").agg(
        F.count("prior_id").cast("long").alias("n_prior_24h"),
        F.coalesce(_dsum("prior_value"), F.lit(0.0)).alias("value_sum_24h"),
    )


ORACLE_RANGE_JOIN_BINS = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = '{ASOF_LEFT_TYPE}'
)
SELECT p.purchase_id, p.user_id, p.purchase_ts,
       CAST(count(e.event_id) AS BIGINT) AS n_prior_24h,
       coalesce({_dsum_sql("e.value")}, 0.0) AS value_sum_24h
FROM p LEFT JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.purchase_ts - INTERVAL 24 HOUR
 AND e.ts < p.purchase_ts
GROUP BY p.purchase_id, p.user_id, p.purchase_ts
"""


QUERIES = {
    "asof_attribution": q_asof_attribution,
    "range_join_bins": q_range_join_bins,
    # range_agg_binjoin (the two-table bin-join form of the same rows,
    # sharing ORACLE_RANGE_JOIN_BINS) stays off the capped registry with
    # oracle parity in tests/test_offregistry_parity.py.
}
ORACLES = {
    "asof_attribution": ORACLE_ASOF_ATTRIBUTION,
    "range_join_bins": ORACLE_RANGE_JOIN_BINS,
}
