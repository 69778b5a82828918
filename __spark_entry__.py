"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``wnba_data_pipeline_spark``; this module only
aggregates the per-operator-family registries (each operators/*.py exposes
QUERIES + ORACLES side by side, keeping every Spark plan next to the SQL
that defines its semantics).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from wnba_data_pipeline_spark.session import ensure_confs  # noqa: E402
from wnba_data_pipeline_spark.operators import (  # noqa: E402
    clustering,
    dedup,
    ml,
    multimodal,
    pq,
    quality,
    relational,
    similarity,
    sketches,
    spans,
    temporal,
    text,
)

# Exactly 50 queries are registered (the driver checks at most 50 per
# round — round 2 registered 52 and the last two in insertion order got no
# CORRECTNESS row). Order puts the oracle-checkable families first and the
# rows-only ML family last.
_MODULES = [
    relational, quality, multimodal, dedup, clustering, similarity, pq,
    sketches, spans, temporal, text, ml,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7 step 1: the player-aggregation analog
    D1+B4+B5) on /root/testdata/sf0.001; driver checks rows>0."""
    ensure_confs(spark)
    return relational.q_player_agg_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return {name: _with_confs(fn) for name, fn in out.items()}


def _with_confs(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_confs(spark)
        return fn(spark, sf_dir)

    wrapped.__doc__ = fn.__doc__
    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (same column aliases)."""
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out
