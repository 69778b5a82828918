"""The two workloads. Each has the same shape:

- ``setup()``: everything before the first timed operation;
- ``pass_ops()``: the operations of one pass, in the seed's order;
- ``run(op)``: one timed operation (its return value is what gets checked);
- ``span_name(op)``: the name of the op's root span in a traced run;
- ``check(op, result)``: the output check, run outside the timed region;
- ``trace_targets()``: the (owner, attribute, span name) calls a traced
  run wraps — always the name the caller looks up.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import time
from pathlib import Path

from . import checks
from .posture import pin

AS_OF_BASE = dt.datetime(2001, 9, 1)


def as_of_for(seed: int) -> str:
    """The audit timestamp every layer stamps; the seed picks it so each
    seed's outputs differ and the references follow."""
    return (AS_OF_BASE + dt.timedelta(minutes=seed % 525_600)).strftime("%Y-%m-%d %H:%M:%S")


class Pipelines:
    """The two write pipelines as a nightly batch runs them: one pass is one
    ``plans.layers.run_all`` (raw → analytics → features → dashboard) into
    an empty warehouse, then one ``plans.curation.run_curation`` (default
    MinHash near-dedup) into an empty curation warehouse, each the first
    run in a fresh Spark application."""

    def __init__(self, spark, data_dir: Path, seed: int, work: Path):
        self.spark, self.data_dir = spark, data_dir
        self.as_of = as_of_for(seed)
        self.base = work / "warehouse"
        self.expected = checks.medallion_expected(data_dir, self.as_of)
        # set to a list by a traced run: each funnel run then appends its
        # own (stage_seconds, near_dedup_seconds) hook dicts
        self.hooks: list | None = None

    def setup(self) -> list:
        shutil.rmtree(self.base, ignore_errors=True)
        return []

    def pass_ops(self) -> list[str]:
        return ["run_all", "run_curation"]

    def span_name(self, op: str) -> str:
        return {"run_all": "medallion.run_all", "run_curation": "curation.run_curation"}[op]

    def run(self, op: str):
        from wnba_data_pipeline_spark.plans import curation, layers

        pin(self.spark)
        if op == "run_all":
            layers.run_all(self.spark, str(self.data_dir), str(self.base), self.as_of)
            return
        stage_s, near_s = ({}, {}) if self.hooks is not None else (None, None)
        curation.run_curation(
            self.spark, str(self.data_dir), str(self.base), self.as_of,
            stage_seconds=stage_s, near_dedup_seconds=near_s,
        )
        if self.hooks is not None:
            self.hooks.append((stage_s, near_s))

    def check(self, op: str, result) -> str | None:
        if op == "run_all":
            return checks.medallion(self.base, self.expected)
        return checks.curation(self.base, self.data_dir.name)

    def trace_targets(self):
        from wnba_data_pipeline_spark.plans import curation, layers

        return [
            (layers, "run_raw_layer", "layers.raw"),
            (layers, "run_analytics_layer", "layers.analytics"),
            (layers, "run_features_layer", "layers.features"),
            (layers, "run_dashboard_layer", "layers.dashboard"),
            (layers, "upsert_partitions", "sinks.upsert_partitions"),
            (layers, "overwrite_table", "sinks.overwrite_table"),
            (layers, "export_json", "sinks.export_json"),
            (curation, "_geometry_advisory", "curation.near_dedup.shingle_advisory"),
            (curation, "cluster_survivors", "curation.near_dedup.pairs_cc"),
            (curation, "overwrite_table", "curation.overwrite_table"),
        ]

    def input_bytes(self) -> int:
        return sum((self.data_dir / f"{t}.parquet").stat().st_size for t in ("lineitem", "orders"))

    def files_written(self) -> int:
        """Files the medallion layers leave in the warehouse."""
        tops = ("raw", "analytics", "ml_features", "dashboard", "exports")
        return sum(1 for t in tops for p in (self.base / t).rglob("part-*") if p.is_file())


# The untraced registry scope: for each operator module with a fit-free
# query, its slowest one at sf0.01, plus rolling_5_10, which shares
# functions.windows with the analytics layer. The whole registry's one-time
# costs (50 plan builds, 50 first executions, four eager model fits) take
# over two minutes on 4 cores, more than one run of this benchmark may spend.
SCOPE = (
    "advanced_metrics", "rolling_5_10",  # relational
    "quality_report",                    # quality
    "multimodal_features",               # multimodal
    "dedup_minhash",                     # dedup
    "emb_near_dup",                      # similarity
    "hll_distinct_daily",                # sketches
    "substring_spans",                   # spans
    "range_join_bins",                   # temporal
    "doc_winnow",                        # text
    "label_median_split",                # ml
)
# Queries whose plan build runs an eager k-means, PQ-codebook or IVF-PQ fit.
# A traced registry run also builds these plans, without running them, so
# the fits get spans and plan-build times. ml_rf_metrics (a random-forest
# fit at plan build) is left out: its 15-22 s build pushed traced runs to
# 155 s, too close to the 180 s a run may take.
FITTED = ("semantic_dedup", "pq_rerank", "ivfpq_search")


def family_of() -> dict[str, str]:
    import __spark_entry__ as entry

    return {
        name: mod.__name__.rsplit(".", 1)[-1]
        for mod in entry._MODULES
        for name in mod.QUERIES
    }


class Registry:
    """One op = one registry query, planned from the DataFrame built in
    setup and collected to the driver (Arrow → pandas); a pass runs every
    query in scope once, in an order the seed shuffles."""

    def __init__(
        self, spark, data_dir: Path, seed: int, work: Path, *,
        build_fitted: bool, names: tuple[str, ...] = SCOPE,
    ):
        import __spark_entry__ as entry

        self.spark, self.data_dir = spark, data_dir
        self.queries = entry.queries()
        names = list(names)
        random.Random(seed).shuffle(names)
        self.order = names
        self.fitted = FITTED if build_fitted else ()
        self.family = family_of()
        self.oracles = entry.oracle_sql()
        with checks.duck_for(data_dir) as con:
            self.expected = checks.registry_expected(con, names, self.oracles)
        self.dfs: dict = {}
        self.build_s: dict[str, float] = {}
        self.warm_s: dict[str, float] = {}
        self.verified: dict = {}

    def build(self, name: str) -> None:
        t0 = time.perf_counter()
        self.dfs[name] = self.queries[name](self.spark, str(self.data_dir))
        self.build_s[name] = time.perf_counter() - t0

    def setup(self) -> list:
        for name in self.order + list(self.fitted):
            self.build(name)
        # the warm-up pass: first execution of every plan (codegen, JIT)
        warm = []
        for name in self.order:
            t0 = time.perf_counter()
            warm.append((name, self.run(name)))
            self.warm_s[name] = time.perf_counter() - t0
        return warm

    def pass_ops(self) -> list[str]:
        return self.order

    def span_name(self, op: str) -> str:
        return f"registry.{self.family[op]}"

    def run(self, op: str):
        pin(self.spark)
        # a new Dataset each time: collecting the same one again would
        # reuse its executed plan's shuffle output and skip the map stages
        return self.dfs[op].select("*").toPandas()

    def check(self, op: str, result) -> str | None:
        # an output identical to one already verified for this query is
        # correct; anything else is compared with the oracle in full
        if op in self.verified and checks.identical(result, self.verified[op]):
            return None
        err = checks.registry(op, result, self.expected)
        if err is None:
            self.verified[op] = result
        return err

    def trace_targets(self):
        from wnba_data_pipeline_spark.operators import clustering, pq

        return [
            (clustering, "kmeans_fit", "fit.kmeans_fit"),
            (pq, "kmeans_fit", "fit.kmeans_fit"),
            (pq, "pq_fit", "fit.pq_fit"),
            (pq, "ivfpq_fit", "fit.ivfpq_fit"),
        ]
