"""Mergeable-sketch operators: per-day HyperLogLog registers over the
event stream, merged at query time — the incremental-analytics pattern
that answers "distinct users over ANY day window" from per-day state
instead of rescanning 100 TB of raw events (the D2 scale swap).

``hll_distinct_daily`` (round 13 — the sketch family's FIRST hash-exact
driver row) is the PORTABLE counterpart: a from-scratch HyperLogLog whose
every step is cross-engine-deterministic — md5-derived 60-bit hashes
(the repo's standard ``md5_long`` contract), register ranks via integer
bit-length (string length of the binary representation — no floating
log2, whose last-ulp behavior differs between JVM Math and libm), and the
raw estimator over an INTEGER-scaled harmonic sum (powers of two summed
as int64 — exactly associative, so the one long→double cast and the one
IEEE division land on identical bits in Spark and DuckDB). The classic
small-range linear-counting correction needs ln() — deliberately NOT in
the driver row (cross-engine ln is not bit-portable); the corrected
estimate and its accuracy bounds live in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..sources.tables import load_table

LG_K = 14  # sketch precision: ~0.8% rsd, ~16 KB max per sketch


def daily_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL sketch of user_id over events — the stored state a
    daily incremental job appends (one shuffle on day; sketch building is
    map-side partial like any aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )


def distinct_users_over(sketches: DataFrame) -> DataFrame:
    """Union any subset of stored day sketches into one distinct-user
    estimate — #days rows aggregated, raw events never touched."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch", F.lit(True))).alias("distinct_users_est"),
        F.count(F.lit(1)).alias("n_days"),
    )


# ---------------------------------------------------------------------------
# portable fixed-point HLL — the family's hash-exact driver row (round 13)
# ---------------------------------------------------------------------------

HLL_P = 6  # 2^6 = 64 registers: rsd 1.04/√64 ≈ 13%; the raw-estimator
# regime (n ≳ 2.5·m = 160) holds for the driver corpus's ~270 daily keys
# (measured: max 16.2% / mean 7.8% daily error at sf0.01 — within ~1.3 rsd)
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.709  # the classic alpha_64 (Flajolet et al. 2007, public)
# w = h >> HLL_P keeps 60 - HLL_P = 54 hash bits; rank ∈ [1, 55] (55 for
# w == 0). The harmonic sum is integer-scaled by 2^55 so every term
# 2^(55 - rank) is an exact int64 (max total m·2^55 = 2^61 < 2^63).
HLL_W_BITS = 60 - HLL_P
_HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_W_BITS + 1))


def _hll_rank_cols(key):
    """(bucket, rank) expressions from the md5_long of ``key`` — shifts and
    binary-string length only (both exact integer ops in both engines)."""
    h = md5_long(key)
    bucket = F.pmod(h, F.lit(HLL_M)).cast("int")
    w = F.shiftright(h, HLL_P)
    # bit-length via the base-2 string: conv(w, 10, 2) has no leading
    # zeros, so its length is floor(log2(w)) + 1 — computed on integers
    # and strings, never a float log
    rank = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return bucket.alias("bucket"), rank.cast("int").alias("rank")


def _hll_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Registers → (keys…, v_zero, hll_est): integer-scaled harmonic sum
    (absent registers contribute ``1 << (HLL_W_BITS + 1)`` = 2^55 each —
    the rank-0 term at the 2^55 fixed-point scale), one long→double cast,
    one division by the python-literal numerator — bit-identical
    cross-engine."""
    grouped = regs.groupBy(*keys) if keys else regs.groupBy()
    agg = grouped.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W_BITS + 1} - mb)")).alias("_s"),
        F.count(F.lit(1)).alias("_np"),
    )
    s_int = F.col("_s") + (F.lit(HLL_M) - F.col("_np")) * F.lit(1 << (HLL_W_BITS + 1)).cast("long")
    return agg.select(
        *keys,
        (F.lit(HLL_M) - F.col("_np")).cast("int").alias("v_zero"),
        F.round(F.lit(_HLL_NUM) / s_int.cast("double"), 4).alias("hll_est"),
    )


def q_hll_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day portable-HLL estimate of distinct (user, event_type) keys
    over the event stream, PLUS the all-days row computed by MERGING the
    per-day registers (max per bucket — the sketch-union operation that is
    the whole point of storing sketches: the 30-day answer touches 30×32
    register rows, never the raw events). Output: (day, v_zero, hll_est)
    per day and (day='ALL', …) for the union — day is a STRING so the
    merged row needs no NULL date (pandas NaT round-trips break
    timestamp normalization in differential comparators). 100 TB shape:
    one shuffle of
    (day, bucket) groups — fixed 32-row state per day regardless of event
    volume; the reference's nearest analog is its exact nunique()
    (``data_quality_checks.py:238``), which this family's D2 row swaps at
    scale. See the module docstring for why the RAW estimator (no ln-based
    small-range correction) is the cross-engine contract."""
    ev = load_table(spark, sf_dir, "events")
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type"))
    bucket, rank = _hll_rank_cols(key)
    r = ev.select(F.col("ts").cast("date").cast("string").alias("day"), bucket, rank)
    regs = r.groupBy("day", "bucket").agg(F.max("rank").alias("mb"))
    daily = _hll_estimate(regs, ["day"])
    merged = regs.groupBy("bucket").agg(F.max("mb").alias("mb"))
    total = _hll_estimate(merged, []).select(
        F.lit("ALL").alias("day"), "v_zero", "hll_est"
    )
    return daily.unionByName(total)


ORACLE_HLL_DISTINCT_DAILY = f"""
WITH hashed AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         {md5_long_sql("(CAST(user_id AS VARCHAR) || ':' || event_type)")} AS h
  FROM events
), br AS (
  SELECT day, CAST(h % {HLL_M} AS INT) AS bucket,
         CASE WHEN (h >> {HLL_P}) = 0 THEN {HLL_W_BITS + 1}
              ELSE {HLL_W_BITS + 1} - length(bin(h >> {HLL_P})) END AS mb_row
  FROM hashed
), regs AS (
  SELECT day, bucket, max(mb_row) AS mb FROM br GROUP BY day, bucket
), daily AS (
  SELECT day,
         CAST({HLL_M} - count(*) AS INT) AS v_zero,
         round({_HLL_NUM!r} / CAST(sum(1::BIGINT << ({HLL_W_BITS + 1} - mb))
               + ({HLL_M} - count(*)) * (1::BIGINT << {HLL_W_BITS + 1}) AS DOUBLE), 4) AS hll_est
  FROM regs GROUP BY day
), merged AS (
  SELECT bucket, max(mb) AS mb FROM regs GROUP BY bucket
), total AS (
  SELECT 'ALL' AS day,
         CAST({HLL_M} - count(*) AS INT) AS v_zero,
         round({_HLL_NUM!r} / CAST(sum(1::BIGINT << ({HLL_W_BITS + 1} - mb))
               + ({HLL_M} - count(*)) * (1::BIGINT << {HLL_W_BITS + 1}) AS DOUBLE), 4) AS hll_est
  FROM merged
)
SELECT day, v_zero, hll_est FROM daily
UNION ALL
SELECT day, v_zero, hll_est FROM total
"""


QUERIES = {"hll_distinct_daily": q_hll_distinct_daily}
ORACLES = {"hll_distinct_daily": ORACLE_HLL_DISTINCT_DAILY}
