"""Scale probes — produces the raw sections of BENCH_SCALE_r06.json:

1. bucketed-layout matrix: the three repeated-key o_custkey queries
   (topk_revenue, rank_partition_avg, join_left_enrich) timed on the plain
   parquet layout vs the bucketed layout (plans/catalog.
   ensure_bucketed_layout + SPARK_GRAFT_LAYOUT=bucketed), clustered-write
   cost reported separately (ingest cost, not query cost), executed-plan
   exchange check recorded per query.
2. approx-distinct tumbling shape: q_tumbling_daily exact vs
   approx=True (per-group HLL sketch), with the measured
   max relative n_users error.
3. sessionize_events per-stage attribution (the last unprofiled weak row):
   scan → +shuffle on user_id → +in-partition sort → full session agg.

Methodology matches bench.py: plans built once per layout, warm best-of-N,
noop sink, min/median/max published.

Usage: SPARK_GRAFT_SF_DIR=/root/repo/.benchdata/sf10 python tools/bench_scale_probes.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

from pyspark.sql import functions as F  # noqa: E402

WARMUPS = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "2"))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

BUCKETED_QUERIES = ("topk_revenue", "rank_partition_avg", "join_left_enrich")
# the lineitem family (late round 6): rolling_5 rides the full-sort bucket
# order (Exchange AND Sort elided); the l_suppkey aggs lose their Exchange
BUCKETED_LI_QUERIES = (
    "rolling_5",
    "dispersion_stats",
    "quality_probe",
    "agg_multi",
    "sessionize_events",
    "tumbling_daily",
)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spread(df) -> dict[str, float]:
    _force(df)
    for _ in range(WARMUPS):
        _force(df)
    runs = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        _force(df)
        runs.append(time.perf_counter() - t0)
    runs.sort()
    return {
        "min": round(runs[0], 4),
        "median": round(runs[len(runs) // 2], 4),
        "max": round(runs[-1], 4),
    }


def _plan(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.benchdata/sf10")
    m = re.search(r"sf(\d+(?:\.\d+)?)", sf_dir)
    sf = float(m.group(1)) if m else None
    big = sf is not None and sf >= 0.5

    from wnba_data_pipeline_spark.operators import relational
    from wnba_data_pipeline_spark.plans.catalog import ensure_bucketed_layout
    from wnba_data_pipeline_spark.session import ensure_confs, get_spark
    from wnba_data_pipeline_spark.sources.tables import load_table

    spark = get_spark(
        "wnba-scale-probes",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "32" if big else "8")),
        extra_confs={
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.files.maxPartitionBytes": "48m" if (sf or 0) >= 5 else "4m",
            "spark.sql.files.openCostInBytes": "256k",
            "spark.local.dir": os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-bench-local"),
        },
    )
    ensure_confs(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    out: dict = {"sf_dir": sf_dir, "sf": sf, "aqe": True}

    # --- 1. bucketed-layout matrix -------------------------------------
    def _q(n):
        return (relational.QUERIES.get(n) or getattr(relational, f"q_{n}"))(spark, sf_dir)

    plain = {n: _spread(_q(n)) for n in BUCKETED_QUERIES + BUCKETED_LI_QUERIES}
    t0 = time.perf_counter()
    ensure_bucketed_layout(spark, sf_dir, n_buckets=32 if big else 8)
    write_sec = round(time.perf_counter() - t0, 2)
    os.environ["SPARK_GRAFT_LAYOUT"] = "bucketed"
    bucketed = {}
    try:
        for n in BUCKETED_QUERIES:
            df = _q(n)
            spread = _spread(df)
            spread["custkey_exchange_in_plan"] = "hashpartitioning(o_custkey" in _plan(spark, df)
            bucketed[n] = spread
        for n in BUCKETED_LI_QUERIES:
            df = _q(n)
            spread = _spread(df)
            exec_plan = df._jdf.queryExecution().executedPlan().toString()
            # the layout's claim: no exchange keyed on the bucket column
            spread["bucket_keyed_exchange_in_plan"] = any(
                seg.split(")")[0].find(k) >= 0
                for seg in exec_plan.split("Exchange hashpartitioning(")[1:]
                for k in ("l_suppkey", "user_id")
            )
            if n == "rolling_5":
                spread["sort_in_plan"] = "Sort [" in exec_plan
            bucketed[n] = spread
    finally:
        del os.environ["SPARK_GRAFT_LAYOUT"]
    out["bucketed_matrix"] = {
        "plain_layout": plain,
        "bucketed_layout": bucketed,
        "bucketed_write_sec": write_sec,
    }

    # --- 2. approx-distinct tumbling shape -----------------------------
    exact_df = relational.q_tumbling_daily(spark, sf_dir)
    exact_spread = _spread(exact_df)
    exact_rows = {(str(r["day"]), r["event_type"]): r["n_users"] for r in exact_df.collect()}
    approx_df = relational.q_tumbling_daily(spark, sf_dir, approx=True)
    approx_spread = _spread(approx_df)
    approx_rows = {(str(r["day"]), r["event_type"]): r["n_users"] for r in approx_df.collect()}
    max_rel_err = max(
        abs(approx_rows[k] - v) / v for k, v in exact_rows.items() if v > 0
    )
    out["tumbling_approx_distinct"] = {
        "exact": exact_spread,
        "hll_sketch": approx_spread,
        "n_groups": len(exact_rows),
        "max_rel_err_n_users": round(max_rel_err, 5),
    }

    # --- 3. sessionize_events per-stage attribution --------------------
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", "ts", "value")
    shuffled = base.repartition(32 if big else 8, "user_id")
    out["sessionize_attribution"] = {
        "events_scan_3col": _spread(base),
        "scan_plus_user_shuffle": _spread(shuffled),
        "shuffle_plus_partition_sort": _spread(shuffled.sortWithinPartitions("user_id", "ts")),
        "full_sessionize": _spread(relational.q_sessionize_events(spark, sf_dir)),
    }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
