"""Skew-salting helper for hot-key joins (SURVEY §7.11, 100 TB posture).

AQE's skew-join splitting (enabled in ``session.get_spark``) handles most
skew at runtime; this helper is the EXPLICIT variant for the pathological
case AQE can't fix — a broadcast-ineligible build side whose hot key
overwhelms one shuffle partition. Standard construction: the probe (large)
side gets a deterministic per-row salt in [0, n); the build side is
replicated once per salt; the join key becomes (key, salt), spreading each
hot key over n partitions at the cost of replicating the build side n×.

The salt is ``xxhash64`` of the probe row's columns — deterministic (a
retry or speculative task re-derives the same salt; no ``rand()`` in the
plan) and uniform even when the join key itself is constant."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int, *, salt_col: str = SALT_COL) -> DataFrame:
    """Deterministic row salt in [0, n_salts)."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)))


def explode_salts(df: DataFrame, n_salts: int, *, salt_col: str = SALT_COL) -> DataFrame:
    """Replicate each row once per salt value (build-side expansion)."""
    return df.withColumn(salt_col, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>")))


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    n_salts: int,
    *,
    how: str = "inner",
) -> DataFrame:
    """Join with the hot keys of ``probe`` spread over ``n_salts`` shuffle
    partitions. Semantically identical to ``probe.join(build, on, how)``
    for the SUPPORTED hows (asserted in tests/test_skew.py); costs a
    ``build`` replication of n_salts×, so size the build side accordingly.

    Right/full-outer are rejected (round-8 review fix): the build side is
    replicated n_salts×, so every build row unmatched under one salt
    would emit its own null-extended row — measured 8 rows where the
    plain right join returns 2. Salting the other way (salt build, 
    explode probe) is the right construction for a skewed BUILD side."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti", "cross"):
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated build side "
            "duplicates unmatched build rows under outer-right semantics"
        )
    p = with_salt(probe, n_salts)
    b = explode_salts(build, n_salts)
    return p.join(b, on + [SALT_COL], how).drop(SALT_COL)
