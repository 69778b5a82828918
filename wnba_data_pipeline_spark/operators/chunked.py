"""Time-chunked per-key windows with carry-merge — the hot-KEY mitigation
for the cumulative window family (round 10, VERDICT r9 item 2).

The problem: every per-key running window (sessionize's lag+cumsum, the
as-of running max, the trailing-24h difference-of-cumulatives) serializes
one key's entire stream onto ONE task. AQE's skew handling cannot help —
skew-join splitting applies to joins, and a window's hash partitioning is
all-or-nothing per key. A user holding 1% of a 10^12-row event table puts
10^10 rows on one core while the rest of the cluster idles; that is the
last unguarded skew surface this engine had (join skew → AQE + salting,
LSH bucket skew → the r9 salted hot-bucket gate).

The fix is the classic prefix-sum parallelization (Blelloch scan, applied
per key along event time): split each key's stream into fixed-width TIME
chunks, run the window WITHIN each (key, chunk) — parallel across chunks —
then carry the tiny per-chunk summaries (last ts / running max / totals)
across chunks with a second window over the summary table (thousands of
rows, not billions) and merge the carry back per row with one broadcast
join. Values are identical by associativity of the carried aggregates
(count / int64 fixed-point sum / max / the session-boundary flag) — each
chunked query below states its own carry-correctness argument.

Gating follows the repo's committed posture (scale switches change plan
physics, never values) and is PER QUERY, from measurement
(BENCH_SCALE_r10 skew_windows/skew_rolling): the plain single-window
shape stays the default everywhere; ``detect_hot_keys`` samples
1/``HK_SAMPLE_MOD`` of rows (deterministic md5 gate, same recipe as the
dedup hot-bucket detector) and the asof / trailing-range / rolling
queries — whose chunked forms measured FASTER under a dominant key —
switch when a key's estimated share clears the relative bar. Sessionize
does NOT auto-gate: its plain session_window is one shuffle whose output
is already the aggregate, and the chunked rewrite measured slower at
every planted regime (see q_sessionize_events). Misdetection changes the
physical branch, never the rows. ``SPARK_GRAFT_CHUNKED_WINDOWS=1/0``
forces the branch for tests and benches; detection is cached per
(sf_dir, layout, key) since a table's key histogram does not change
between plan builds.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

# Hot-key detection is RELATIVE, not absolute (round-10 measurement,
# BENCH_SCALE_r10 skew_windows): a key serializes the job only when its
# row count rivals a core's fair share — at sf10 a 1%-hot user (100k rows)
# measured FASTER on the plain window (one task absorbs 100k rows while
# every task owns ~312k anyway; the chunked machinery's summary join +
# probe union cost 2-3x for nothing), while a 33%-hot user is a genuine
# single-task wall. So a key is hot iff its estimated rows ≥
# max(HOT_KEY_MIN, min(HOT_PARTITION_FACTOR × est_total / shuffle_partitions,
# HOT_SHARE_CAP × est_total)): the relative bar finds the keys that actually
# dominate a task wave at ANY scale (at 100 TB / 8000 cores a 64k-row key
# is noise), the absolute floor stops flapping on tiny corpora. The share
# cap keeps the bar reachable at ≤ 4 shuffle partitions, where the
# partition term alone reaches est_total and no key could ever be hot.
HOT_KEY_MIN = 65536
HOT_PARTITION_FACTOR = 4
HOT_SHARE_CAP = 0.5
HK_SAMPLE_MOD = 64  # detection sample fraction (1/64)
CHUNK_US = 24 * 3600 * 1_000_000  # chunk width: 1 day of event time


def chunked_windows_enabled(default: bool) -> bool:
    """Env override for the physical branch (None → caller's detection)."""
    v = os.environ.get("SPARK_GRAFT_CHUNKED_WINDOWS")
    if v == "1":
        return True
    if v == "0":
        return False
    return default


def detect_hot_keys(
    df: DataFrame,
    key_col: str,
    id_col: str,
    *,
    hot_key_min: int = HOT_KEY_MIN,
    sample_mod: int = HK_SAMPLE_MOD,
    partition_factor: int = HOT_PARTITION_FACTOR,
) -> bool:
    """True iff some key's ESTIMATED row count clears the relative bar
    ``max(hot_key_min, min(partition_factor × est_total / shuffle_partitions,
    HOT_SHARE_CAP × est_total))`` — see the constants above for why the
    bar is relative and capped. Estimates come from a deterministic
    1/``sample_mod`` row sample (md5 of ``id_col`` — reshuffle-proof,
    retry-stable): a true B-row key appears ~B/sample_mod times, so keys
    at the genuinely-dominating scale are detected with near-certainty,
    and a key needs ≥2 sampled rows before it can trip anything
    (small-corpus noise immunity). One cheap aggregate job over
    two columns; the result picks a PLAN SHAPE only — both branches
    return identical rows (tests/test_chunked.py)."""
    sampled = df.filter(
        F.pmod(md5_long(F.concat(F.lit("hk:"), F.col(id_col).cast("string"))), F.lit(sample_mod)) == 0
    )
    row = (
        sampled.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("_mx"), F.sum("_n").alias("_tot"))
        .collect()[0]
    )
    if row["_mx"] is None or row["_mx"] < 2:
        return False
    est_max = row["_mx"] * sample_mod
    est_total = row["_tot"] * sample_mod
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    relative = min(partition_factor * est_total // max(parts, 1), int(HOT_SHARE_CAP * est_total))
    return est_max >= max(hot_key_min, relative)


_HOT_EVENTS_CACHE: dict[tuple, bool] = {}


def use_chunked_events(ev: DataFrame, cache_key: tuple) -> bool:
    """The physical-branch decision for the event-window registry queries:
    env override first (``SPARK_GRAFT_CHUNKED_WINDOWS=1/0``), else sampled
    hot-key detection cached per (sf_dir, layout) — a table's key
    histogram does not change between plan builds, so the one detection
    job amortizes across the session (same caching idea as the stream
    reader's footer probe)."""
    # table identity in the cache key (ADVICE r10): two tables sharing a
    # key-column NAME under the same sf_dir must not reuse each other's
    # hot-key verdict
    return use_chunked_table(ev, cache_key + ("events",), "user_id", "event_id")


def use_chunked_table(df: DataFrame, cache_key: tuple, key_col: str, id_col: str) -> bool:
    """Generic form of :func:`use_chunked_events` (the rolling family keys
    lineitem by l_suppkey)."""
    v = os.environ.get("SPARK_GRAFT_CHUNKED_WINDOWS")
    if v == "1":
        return True
    if v == "0":
        return False
    full_key = cache_key + (key_col,)
    if full_key not in _HOT_EVENTS_CACHE:
        _HOT_EVENTS_CACHE[full_key] = detect_hot_keys(df, key_col, id_col)
    return _HOT_EVENTS_CACHE[full_key]


def _nullsafe_carry_join(rows: DataFrame, summary: DataFrame, key_col: str) -> DataFrame:
    """Join the per-(key, chunk) carry summaries back to the rows with
    NULL-SAFE key equality (ADVICE r10): the plain window shapes partition
    NULL keys into one group (and NULL timestamps into a NULL chunk), so
    the carry join must match them — ``join(df, [key, ck])`` uses plain
    ``=`` and would drop every NULL-key/NULL-chunk row from an inner join
    or lose the carry on a left join. Renames the summary's join columns
    so both eqNullSafe sides stay unambiguous, then drops them."""
    s = summary.withColumnRenamed(key_col, "__jk").withColumnRenamed("_ck", "__jck")
    return rows.join(
        s,
        F.col(key_col).eqNullSafe(F.col("__jk")) & F.col("_ck").eqNullSafe(F.col("__jck")),
    ).drop("__jk", "__jck")


def _chunk_col(us_col: str, chunk_us: int) -> Column:
    # INT64 division on epoch-micros (`div`, not floor-of-double-divide:
    # a double quotient at ~1e15/8.64e10 can round up across a chunk
    # boundary) — exact, and ts-ties share a chunk
    return F.expr(f"({us_col}) div {chunk_us}").cast("long")


def _us(c) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(c.cast("timestamp"))


# ---------------------------------------------------------------------------
# sessionize: lag + gap-flag + running session counter, chunked
# ---------------------------------------------------------------------------


def chunked_sessionize(
    ev: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    chunk_us: int = CHUNK_US,
) -> DataFrame:
    """(key, ts rows) → (key, _sess) session ids, value-identical to
    ``sum(new_session) OVER (PARTITION BY key ORDER BY ts)`` with
    new_session = (gap NULL or gap > gap_s), but with each key's stream
    split across time chunks.

    Carry-merge: a chunk's FIRST row needs the previous chunk's last ts
    (its lag crosses the boundary) and every row needs the number of
    session starts in all previous chunks (the running counter's prefix).
    Both are per-(key, chunk) scalars: the summary table carries
    last_ts/first_ts/in-chunk flag totals, a lag+running-sum window over
    the summaries (ordered by chunk id — thousands of rows) resolves the
    boundary flag and the prefix, and one join on (key, chunk) hands them
    back to the rows. Correct because the session counter is a plain
    prefix sum of boundary flags — associative — and a boundary flag
    depends only on the previous EVENT's ts, which is last_ts of the
    previous non-empty chunk for exactly the first row of a chunk.
    Ts-ties share a chunk (chunk is derived from ts), so tie-peer
    semantics match the RANGE-frame plain shape."""
    gap_us = gap_s * 1_000_000
    us = _us(ts_col)
    rows = ev.withColumn("_us", us).withColumn("_ck", _chunk_col("_us", chunk_us))
    w_in = Window.partitionBy(key_col, "_ck").orderBy("_us")
    gap_in = F.col("_us") - F.lag("_us").over(w_in)
    flag_in = F.when(gap_in > F.lit(gap_us), 1).when(gap_in.isNull(), None).otherwise(0)
    rows = rows.withColumn("_flag_in", flag_in).withColumn(
        "_cum_in",
        F.sum(F.coalesce(F.col("_flag_in"), F.lit(0))).over(
            w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    summary = rows.groupBy(key_col, "_ck").agg(
        F.min("_us").alias("_first_us"),
        F.max("_us").alias("_last_us"),
        F.sum(F.coalesce(F.col("_flag_in"), F.lit(0))).alias("_flags_in"),
    )
    w_s = Window.partitionBy(key_col).orderBy("_ck")
    prev_last = F.lag("_last_us").over(w_s)
    first_flag = F.when(
        prev_last.isNull() | ((F.col("_first_us") - prev_last) > F.lit(gap_us)), 1
    ).otherwise(0)
    summary = summary.withColumn("_first_flag", first_flag)
    chunk_total = F.col("_flags_in") + F.col("_first_flag")
    summary = summary.withColumn(
        "_prefix",
        F.coalesce(
            F.sum(chunk_total).over(w_s.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select(key_col, "_ck", "_first_flag", "_prefix")
    # no join hint (round-10 measurement): a shuffle_hash hint measured
    # NO win at sf10 and OOM'd at sf100 (SHJ's hash build cannot spill);
    # the summary is small next to the data but NOT driver-sized at
    # 100 TB (keys × days), so leave broadcast-vs-SMJ to AQE's runtime
    # stats — the robust default.
    # NULL-SAFE key equality (ADVICE r10): the plain shapes' window
    # partitioning groups NULL keys into one partition, so the carry join
    # must match them too — a name-list inner join would silently drop
    # every NULL-key row and break the value-identity contract.
    joined = _nullsafe_carry_join(rows, summary, key_col)
    # session id = prefix sessions + (this chunk's first-row flag, which the
    # in-chunk cumsum could not see) + in-chunk running flags
    sess = F.col("_prefix") + F.col("_first_flag") + F.col("_cum_in")
    return joined.withColumn("_sess", sess).drop(
        "_us", "_ck", "_flag_in", "_cum_in", "_first_flag", "_prefix"
    )


# ---------------------------------------------------------------------------
# as-of: running max(payload struct), chunked
# ---------------------------------------------------------------------------


def chunked_running_max(
    ev: DataFrame,
    payload: Column,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    out_col: str = "_m",
    chunk_us: int = CHUNK_US,
) -> DataFrame:
    """``max(payload) OVER (PARTITION BY key ORDER BY ts)`` (default RANGE
    frame — ts-peers in-frame), chunked. Carry: max is associative, so a
    row's running max = max(within-chunk running max, max over all
    PREVIOUS chunks' maxima) — the latter is one running-max window over
    the per-chunk summary maxima, joined back on (key, chunk). Ts-ties
    share a chunk, so the peer-inclusive RANGE semantics survive."""
    rows = ev.withColumn("_us", _us(ts_col)).withColumn(
        "_ck", _chunk_col("_us", chunk_us)
    ).withColumn("_pay", payload)
    w_in = Window.partitionBy(key_col, "_ck").orderBy("_us")  # default RANGE frame
    rows = rows.withColumn("_m_in", F.max("_pay").over(w_in))
    summary = rows.groupBy(key_col, "_ck").agg(F.max("_pay").alias("_cmax"))
    w_s = Window.partitionBy(key_col).orderBy("_ck")
    summary = summary.withColumn(
        "_pre", F.max("_cmax").over(w_s.rowsBetween(Window.unboundedPreceding, -1))
    ).select(key_col, "_ck", "_pre")
    # no hint — see chunked_sessionize's carry join; null-safe for the
    # same reason (a NULL-key/NULL-ts row must keep its carry)
    joined = _nullsafe_carry_join(rows, summary, key_col)
    merged = (
        F.when(F.col("_m_in").isNull(), F.col("_pre"))
        .when(F.col("_pre").isNull(), F.col("_m_in"))
        .when(F.col("_pre") > F.col("_m_in"), F.col("_pre"))
        .otherwise(F.col("_m_in"))
    )
    return joined.withColumn(out_col, merged).drop("_us", "_ck", "_pay", "_m_in", "_pre")


# ---------------------------------------------------------------------------
# trailing-window count/sum (the range_join_bins physics), chunked
# ---------------------------------------------------------------------------


def chunked_trailing_agg(
    ev: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    fp_expr: str = "cast(floor(value * 1000000 + 0.5d) as long)",
    window_us: int,
    probe_pred: Column | None = None,
) -> DataFrame:
    """Per row: count and fixed-point sum of same-key rows with
    ``ts' ∈ [ts − W, ts)`` — value-identical to the plain shape's
    difference of cumulatives, chunked with chunk width = W.

    With W-wide chunks the trailing window spans at most TWO chunks:
    rows of chunk c−1 with ts' ≥ ts−W, plus rows of chunk c with
    ts' < ts (the row's own within-chunk exclusive cumulative — a RANGE
    frame, so identical-(key, ts) rows are excluded exactly like the
    plain shape's ``RANGE … -1 µs`` bound). The chunk-c−1 term is
    total(c−1) − count(c−1, ts' < ts−W); the subtracted cut-count is not
    row-local, so each row emits a PROBE at ts−W tagged into chunk c−1
    (the union+tag trick the generic as-of join uses), the probe reads
    the running count/sum among DATA rows strictly before it inside that
    chunk's window pass — probes sort before data ts-peers, giving the
    strict < — and one equi-join on the unique row id hands the cut back.
    Rows in chunks ≤ c−2 are entirely below ts−W and cancel in the
    difference, exactly as in the plain cumulative subtraction. The
    int64 fixed-point sums make every subtraction exact (same argument
    as q_range_join_bins)."""
    us = _us(ts_col)
    fp = F.expr(fp_expr)
    data = ev.select(
        F.col(key_col).alias("_k"),
        F.col(id_col).alias("_id"),
        us.alias("_us"),
        fp.alias("_fp"),
        F.lit(1).alias("_is_data"),
    )
    # probes only for the rows whose trailing aggregate the caller needs
    # (``probe_pred``); the DATA side always carries every row — any event
    # can fall inside another's window
    probe_src = ev if probe_pred is None else ev.filter(probe_pred)
    probes = probe_src.select(
        F.col(key_col).alias("_k"),
        F.col(id_col).alias("_id"),
        (us - F.lit(window_us)).alias("_us"),
        F.lit(0).cast(data.schema["_fp"].dataType).alias("_fp"),
        F.lit(0).alias("_is_data"),
    )
    u = data.unionByName(probes).withColumn("_ck", _chunk_col("_us", window_us))
    # probes sort BEFORE data rows at the same _us (strict <); among
    # same-(_us, _is_data) peers the ROWS frame must not split ties
    # arbitrarily, so data ts-peers are handled by counting only rows with
    # _us strictly below via a RANGE frame on a composite ordering:
    # order by (_us, _is_data) and use a ROWS frame — safe because every
    # peer group's contribution is order-independent (probes add 0; data
    # peers at the same _us are all ≥ the probe's _us and sort after it).
    w = (
        Window.partitionBy("_k", "_ck")
        .orderBy(F.col("_us").asc(), F.col("_is_data").asc(), F.col("_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    u = u.withColumn("_cut_n", F.coalesce(F.sum("_is_data").over(w), F.lit(0))).withColumn(
        "_cut_s",
        F.coalesce(F.sum(F.col("_fp") * F.col("_is_data")).over(w), F.lit(0)),
    )
    # the row side also needs its STRICT-< within-chunk cumulative — the
    # ROWS frame above under-delivers it only for identical-_us data ties,
    # which must be EXCLUDED (plain shape's -1 µs RANGE bound); recompute
    # data rows' own cumulative with a RANGE frame over _us
    w_range = (
        Window.partitionBy("_k", "_ck").orderBy("_us").rangeBetween(Window.unboundedPreceding, -1)
    )
    data_cum = (
        u.filter(F.col("_is_data") == 1)
        .withColumn("_own_n", F.coalesce(F.sum("_is_data").over(w_range), F.lit(0)))
        .withColumn("_own_s", F.coalesce(F.sum(F.col("_fp")).over(w_range), F.lit(0)))
        .select("_k", "_id", "_own_n", "_own_s")
    )
    cut = u.filter(F.col("_is_data") == 0).select(
        "_id", F.col("_ck").alias("_pck"), "_cut_n", "_cut_s"
    )
    totals = (
        u.filter(F.col("_is_data") == 1)
        .groupBy("_k", "_ck")
        .agg(F.count(F.lit(1)).alias("_tot_n"), F.sum("_fp").alias("_tot_s"))
        .select(F.col("_k").alias("_tk"), F.col("_ck").alias("_tck"), "_tot_n", "_tot_s")
    )
    out = (
        data_cum.join(cut, "_id")
        # eqNullSafe (ADVICE r10): the cut window partitions NULL keys into
        # one group, so a NULL-key purchase still has a cut count — the
        # totals join must deliver the matching previous-chunk totals, not
        # coalesce them to 0 (which understated n_prior_24h, even negative)
        .join(
            totals,
            F.col("_tk").eqNullSafe(F.col("_k")) & F.col("_tck").eqNullSafe(F.col("_pck")),
            "left",
        )
        .select(
            "_k",
            "_id",
            (
                F.coalesce(F.col("_tot_n"), F.lit(0)) - F.col("_cut_n") + F.col("_own_n")
            ).cast("long").alias("_n_trailing"),
            (
                F.coalesce(F.col("_tot_s"), F.lit(0)) - F.col("_cut_s") + F.col("_own_s")
            ).cast("long").alias("_s_trailing_fp"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# bounded ROWS-frame rolling mean (the rolling_5_10 physics), chunked
# ---------------------------------------------------------------------------


def chunked_rolling(
    li: DataFrame,
    ns: tuple,
    *,
    key_col: str = "l_suppkey",
    date_col: str = "l_shipdate",
    order_cols: tuple = ("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
    val_col: str = "l_quantity",
    chunk_days: int = 30,
) -> DataFrame:
    """Trailing-N-row means per key — value-identical to
    ``avg OVER (PARTITION BY key ORDER BY order_cols ROWS N-1 PRECEDING)``
    with min_periods=1 semantics (frame shorter at the key's start), but
    with each key's sort split across ``chunk_days``-wide time chunks.

    A bounded ROWS frame can't carry "the previous chunk's last N−1 rows"
    as a scalar (a short chunk would need rows from two chunks back), so
    the carry is the CUMULATIVE form instead: global row index and
    cumulative fixed-point sum / non-null count = within-chunk running
    values + per-chunk scalar offsets (lag-cumsum over the summary table —
    exactly the sessionize carry shape). The trailing frame is then a
    difference of cumulatives AT ROW OFFSETS: row i's N-frame sum =
    cum(i) − cum(i−N), fetched with one LEFT self-equi-join per N on
    (key, idx−N) — hash-distributed over (key, idx), so a hot key's work
    spreads instead of serializing. Exact by int64 fixed-point
    subtraction; full-ordering ties make cum values assignment-invariant
    (tie rows are identical in every ordered column incl. the value)."""
    fp = F.floor(F.col(val_col) * 1_000_000 + F.lit(0.5)).cast("long")
    ck = F.expr(f"datediff({date_col}, DATE '1970-01-01') div {chunk_days}").cast("long")
    rows = li.withColumn("_ck", ck)
    w_in = (
        Window.partitionBy(key_col, "_ck")
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = (
        rows.withColumn("_rn", F.row_number().over(
            Window.partitionBy(key_col, "_ck").orderBy(*[F.col(c).asc() for c in order_cols])
        ))
        .withColumn("_cs", F.coalesce(F.sum(fp).over(w_in), F.lit(0)))
        .withColumn("_cc", F.count(val_col).over(w_in))
    )
    summary = rows.groupBy(key_col, "_ck").agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(F.sum(fp), F.lit(0)).alias("_s"),
        F.count(val_col).alias("_c"),
    )
    w_s = Window.partitionBy(key_col).orderBy("_ck").rowsBetween(Window.unboundedPreceding, -1)
    summary = summary.select(
        key_col,
        "_ck",
        F.coalesce(F.sum("_n").over(w_s), F.lit(0)).alias("_ro"),
        F.coalesce(F.sum("_s").over(w_s), F.lit(0)).alias("_so"),
        F.coalesce(F.sum("_c").over(w_s), F.lit(0)).alias("_co"),
    )
    base = (
        _nullsafe_carry_join(rows, summary, key_col)
        .withColumn("_idx", F.col("_ro") + F.col("_rn"))
        .withColumn("_gs", F.col("_so") + F.col("_cs"))
        .withColumn("_gc", F.col("_co") + F.col("_cc"))
    )
    out = base
    for n in ns:
        shifted = base.select(
            F.col(key_col).alias("_sk"),
            (F.col("_idx") + F.lit(n)).alias("_sidx"),
            F.col("_gs").alias(f"_ps{n}"),
            F.col("_gc").alias(f"_pc{n}"),
        )
        out = out.join(
            shifted,
            # eqNullSafe: a NULL key's i−N cumulative must be found, not
            # coalesced to 0 (see _nullsafe_carry_join)
            F.col(key_col).eqNullSafe(F.col("_sk")) & (F.col("_idx") == F.col("_sidx")),
            "left",
        ).drop("_sk", "_sidx")
        out = out.withColumn(
            f"_roll{n}",
            F.round(
                ((F.col("_gs") - F.coalesce(F.col(f"_ps{n}"), F.lit(0))) / 1_000_000)
                / (F.col("_gc") - F.coalesce(F.col(f"_pc{n}"), F.lit(0))),
                6,
            ),
        )
    return out
