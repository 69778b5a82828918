"""Bench harness: times the headline queries (BASELINE.md analogs) warm at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "headline_warm_total", "value": <sum of per-query best>,
     "unit": "sec", "queries": {"agg_multi": sec, ...}, "sf": 0.1}

``sf`` is a label read off the directory name; the AQE, shuffle and split
posture comes from lineitem's parquet footer row count.

Methodology matches BASELINE.md ("compare warm query execution time, session
already up, after one warm-up run"): each query's DataFrame is built ONCE
(prepared-statement style — DuckDB's parse+plan is sub-ms, so including
Spark's ~100-200 ms Python expression-build + analysis per repetition would
measure the API, not the engine), the whole suite is forced once to absorb
one-time JVM costs (codegen compilation, reader/shuffle path warm-up), then
each query gets two warm-ups and best-of-eight timed executions, forced with
the noop sink (all partitions materialize, nothing crosses to the driver).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

# The six BASELINE.md headline analogs (SURVEY §6), keyed by queries() name.
HEADLINE = (
    "agg_multi",
    "rolling_5",
    "join_left_enrich",
    "topk_revenue",
    "quality_probe",
    "rank_partition_avg",
)

WARMUPS = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "2"))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "8"))  # best-of-N: local timings wobble ±15%; min is the stable statistic

# Per-query posture overrides, applied only at big scale (lineitem at or
# above SPLIT_DISTINCT_MIN_ROWS, about sf0.5) right before each query's
# forces (the noop write builds a fresh QueryExecution per run, so conf
# changes take effect per query). rolling_5: the round-5
# variance probe (BENCH_SCALE_r05.json "rolling_5_variance_probe") showed
# the 60 M-row window query's spread tightens markedly with AQE OFF at an
# equal min (max 21 s → 9.3 s) — its plan is one wide sort stage, so AQE's
# stage-finalization round-trips buy nothing and inject scheduling noise.
# Every other query keeps the scale posture (AQE on).
PER_QUERY_CONFS = {"rolling_5": {"spark.sql.adaptive.enabled": "false"}}


def _force(df) -> None:
    """Materialize every partition without driver-side collection."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # a label for the JSON line only; the posture below reads the data
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from wnba_data_pipeline_spark.operators.quality import footer_rowcount_value
    from wnba_data_pipeline_spark.operators.relational import SPLIT_DISTINCT_MIN_ROWS
    from wnba_data_pipeline_spark.session import get_spark
    import __spark_entry__ as entrymod

    # The session starts with only the scale-independent confs; the footer
    # row count of lineitem (read on the driver, no Spark job) then picks
    # the posture, as the package's row gates do. More files than the
    # driver probe reads (None) counts as big.
    spark = get_spark(
        "wnba-pipeline-bench",
        extra_confs={
            "spark.sql.files.openCostInBytes": "256k",
            "spark.local.dir": "/dev/shm/spark-bench-local",
        },
    )
    rows = footer_rowcount_value(spark, os.path.join(sf_dir, "lineitem.parquet"))

    # Local-scale tuning (documented in session.get_spark). These queries
    # finish in 0.1-0.6 s at sf0.1, so fixed per-stage costs dominate and
    # the right local config is the opposite of the 100 TB posture:
    #  - AQE OFF: each AQE stage is submitted, finalized, and re-planned as
    #    its own job; at sub-second scale that round-trip costs more than
    #    any re-plan saves (measured: headline total 1.93 s -> 1.45 s).
    #    SPARK_GRAFT_AQE=1 publishes the AQE-on (cluster-posture) column.
    #  - static shuffle partitions: 8 below the split-distinct row bar
    #    (plenty for <1 M-row shuffles, fewer tasks to schedule); 32 above
    #    it, where the per-partition sort/agg volume, not scheduling,
    #    dominates.
    #  - 4 MB splits: the sf0.1 files are ~10 MB; the default 128 MB
    #    maxPartitionBytes would scan on 1-3 tasks (under-parallel), 1 MB on
    #    ~30 (scheduling-bound); ~4 tasks/file is the sweet spot, and at
    #    sf1 (~110 MB lineitem) it still yields ~28 scan tasks.
    # On a real cluster these stay at their 100 TB-posture defaults (AQE on,
    # wide shuffles) — see session.get_spark.
    # AQE default follows measurement: OFF at sub-second sf0.1 (the stage
    # round-trips cost more than re-planning saves: 1.36 s vs 1.44 s) but
    # ON from sf1 up (coalescing wins: 1.99 s vs 2.22 s at sf1) — which is
    # also the cluster posture. The bar, SPLIT_DISTINCT_MIN_ROWS (3 M
    # lineitem rows), sits between the two (sf0.5).
    big = rows is None or rows >= SPLIT_DISTINCT_MIN_ROWS
    aqe_on = os.environ.get("SPARK_GRAFT_AQE", "1" if big else "0") == "1"
    shuffle = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "32" if big else "8"))
    # split size targets ~1 scan task per core at the data's scale: 4 MB
    # for the ~10 MB sf0.1 files, 48 MB from 10× the bar (sf5; measured
    # best at the 1.4 GB sf10 scale: 340 4-MB tasks spend more on
    # scheduling than scanning — sf10 agg_multi 1.99 s at 4 MB vs 0.74 s
    # at 48 MB)
    huge = rows is None or rows >= 10 * SPLIT_DISTINCT_MIN_ROWS
    split = os.environ.get("SPARK_GRAFT_BENCH_SPLIT", "48m" if huge else "4m")
    spark.conf.set("spark.sql.adaptive.enabled", "true" if aqe_on else "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    qs = entrymod.queries()
    # rolling_5 stays the bench headline (it is BASELINE.md's rolling_win
    # analog) but the registered query is the merged rolling_5_10 — build
    # the 5-row-only plan directly from the operator module.
    from wnba_data_pipeline_spark.operators import relational
    from wnba_data_pipeline_spark.session import ensure_confs

    ensure_confs(spark)
    overrides = {"rolling_5": relational.q_rolling_5}

    # First-class layout mode: SPARK_GRAFT_LAYOUT=bucketed registers the
    # clustered copies (one-time write, reported separately as ingest
    # cost) and every layout-aware query then reads them — the production
    # posture for repeated keys, reproducible through this same harness
    # (BENCH_SCALE_r06 bucketed_matrix for the measured deltas).
    layout_write_sec = None
    if os.environ.get("SPARK_GRAFT_LAYOUT") == "bucketed":
        from wnba_data_pipeline_spark.plans.catalog import ensure_bucketed_layout

        t0 = time.perf_counter()
        ensure_bucketed_layout(spark, sf_dir, n_buckets=32 if big else 8)
        layout_write_sec = round(time.perf_counter() - t0, 2)

    # Build each plan once (prepared-statement style) and force the whole
    # suite once before any timing: the first executions also pay one-time
    # JVM costs (codegen compilation, parquet-reader and shuffle paths
    # warming) that belong to session startup, not per-query work —
    # BASELINE.md's DuckDB numbers are measured equally warm.
    # optional subset (comma list) for targeted scale probes, e.g. the
    # floor-dominated trio at the 100x scale
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = tuple(subset.split(",")) if subset else HEADLINE
    dfs = {name: overrides.get(name, qs.get(name))(spark, sf_dir) for name in headline}
    # ensure_confs (run by the queries() wrapper during plan construction)
    # re-enables AQE at the session level; Spark reads the conf at ACTION
    # time, so re-pin the intended bench setting before any timed force.
    def _pin_confs(name: str) -> None:
        spark.conf.set("spark.sql.adaptive.enabled", "true" if aqe_on else "false")
        if big:
            for k, v in PER_QUERY_CONFS.get(name, {}).items():
                spark.conf.set(k, v)

    for name, df in dfs.items():
        _pin_confs(name)
        _force(df)

    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name, df in dfs.items():
        _pin_confs(name)
        for _ in range(WARMUPS):
            _force(df)
        runs = sorted(_timed(df) for _ in range(RUNS))
        timings[name] = round(runs[0], 4)
        # publish the distribution, not just the min: round-over-round
        # deltas are only interpretable against the run-to-run spread
        # (local[32] timings wobble; a headline shift inside the noise
        # band is noise, outside it is a regression)
        spread[name] = {
            "min": round(runs[0], 4),
            "median": round(runs[len(runs) // 2], 4),
            "max": round(runs[-1], 4),
        }

    out = {
        "metric": "headline_warm_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "sf": sf,
        "aqe": aqe_on,
        "shuffle_partitions": shuffle,
        # scaling-probe evidence (round 16): the actually-scheduled core
        # count, straight from the live context — local[$SPARK_GRAFT_CPUS]
        # per the session contract. At sf0.1 the six headline queries are
        # per-job-floor-dominated (0.15-0.6 s each), so low-core/high-core
        # wall ratios ≈ 1 are expected physics, not an ignored CPUS env;
        # this field lets the probe verify the contract directly. For a
        # compute-bound scaling row, SPARK_GRAFT_BENCH_QUERIES=doc_winnow
        # (or any registered name) times that query through this same
        # harness.
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    if layout_write_sec is not None:
        out["layout"] = "bucketed"
        out["layout_write_sec"] = layout_write_sec
    print(json.dumps(out))


def _timed(df) -> float:
    t0 = time.perf_counter()
    _force(df)
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
