"""Plan-shape assertions for the headline queries (SURVEY §4): the scale
posture claims in the operator docstrings — broadcast joins, pushed
filters, pruned scans, top-k as TakeOrderedAndProject, one shuffle per
window/agg — checked against the actual optimized physical plans."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod

from .conftest import SF_ORACLE

_QUERIES = entrymod.queries()


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = _QUERIES[name](spark, SF_ORACLE)
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _n_exchanges(plan: str) -> int:
    # count only the detail entries "(N) Exchange" — the formatted plan also
    # repeats each node in the tree header, which would double-count
    return len(re.findall(r"\n\(\d+\) Exchange", plan))


def test_flagship_broadcasts_dim(spark):
    plan = _plan(spark, "player_agg_flagship")
    assert "BroadcastHashJoin" in plan  # supplier dim never shuffles the agg side
    assert "SortMergeJoin" not in plan


def test_join_enrich_broadcasts_and_prunes(spark):
    plan = _plan(spark, "join_left_enrich")
    # no code-level hint since round 4: at the oracle SF this asserts
    # Catalyst's STATS-BASED auto-broadcast of the small dim (customer ≪
    # autoBroadcastJoinThreshold's 10 MB default) — the planner picking the
    # right strategy from sizes, which is exactly the no-hint posture's
    # claim; above the threshold AQE picks from runtime sizes instead
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    # fact side scan reads only the 3 needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>.*?orders", plan, re.S) or re.search(
        r"orders[^\n]*\n(?:.*?)ReadSchema: struct<([^>]*)>", plan, re.S
    )
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"o_orderkey", "o_custkey", "o_totalprice"}


def test_filter_scan_pushes_predicate(spark):
    plan = _plan(spark, "filter_window_scan")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "topk_revenue")
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, only k rows move


def test_rolling_single_shuffle(spark):
    # both rolling frames (5 and 10) share one window spec: ONE shuffle on
    # l_suppkey, ONE sort, ONE Window pass computing all four frame aggs
    plan = _plan(spark, "rolling_5_10")
    assert _n_exchanges(plan) == 1, plan
    assert len(re.findall(r"\n\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\n\(\d+\) Sort", plan)) == 1, plan


def test_agg_multi_partial_aggregation(spark):
    plan = _plan(spark, "agg_multi")
    assert _n_exchanges(plan) == 1, plan
    # partial (map-side) + final aggregate pair around the single exchange
    assert len(re.findall(r"HashAggregate", plan)) >= 2


def test_dedup_exact_single_shuffle(spark):
    plan = _plan(spark, "dedup_exact")
    # union + hash + both windows + filter ride ONE shuffle on content_hash
    assert _n_exchanges(plan) == 1, plan


def test_dedup_minhash_is_one_linear_plan(spark):
    # one shingle pass, one signature pass, no broadcast side branch: the
    # pair groups verify every candidate in place (operators/dedup.py)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _QUERIES["dedup_minhash"](spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
    assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1, plan
    assert "BroadcastExchange" not in plan, plan


def test_avg_rank_single_window_pass(spark):
    # avg_rank counts ties via the ORDER-BY-peers RANGE frame under the
    # rank's own spec, so rank + tie count plan as ONE Window over ONE sort
    # on the single partition Exchange (functions/windows.py:avg_rank)
    plan = _plan(spark, "rank_partition_avg")
    assert _n_exchanges(plan) == 1, plan
    assert len(re.findall(r"\n\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\n\(\d+\) Sort", plan)) == 1, plan


def test_award_mart_exchanges_windows_post_agg(spark):
    # fact scan -> supplier agg (count_distinct games costs the standard
    # two-exchange distinct pair) -> scores -> explode x3 -> ONE mart-sized
    # shuffle on award -> windows -> top-10 filter -> broadcast name join:
    # 3 data shuffles total, only the first two over fact-sized data, dim
    # side broadcast
    plan = _plan(spark, "award_mart")
    assert _n_exchanges(plan) == 3, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_tfidf_is_single_plan_with_broadcast_count(spark):
    # corpus size must enter as a broadcast 1-row aggregate (no driver-side
    # count() action): the plan itself contains the nested-loop cross join
    # of the 1-row count — building the DataFrame runs NO job
    plan = _plan(spark, "tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_raw_layer_partition_pruning(spark, tmp_path):
    """A6's 100 TB claim, proven: a ship-month predicate over the
    partitioned raw layer must prune at the partition level (scan only the
    matching directories), not filter post-scan."""
    from wnba_data_pipeline_spark.plans import layers
    from wnba_data_pipeline_spark.sources.sinks import read_table

    from .conftest import SF_SMOKE

    base = str(tmp_path / "wh")
    layers.run_raw_layer(spark, SF_SMOKE, base)
    df = read_table(spark, layers.layer_tables(base)["raw.lineitem_box"]).filter("ship_ym = '2001-03'")
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ship_ym" in m.group(1), plan
    # the predicate must NOT appear as a post-scan Filter on data
    assert df.count() > 0


def test_split_distinct_paths_match_oracle(spark, duck, monkeypatch):
    # the scale-switched count-distinct shape (split distinct subtree +
    # join-back, relational._use_split_distinct) must return the SAME rows
    # as the inline-Expand shape the oracle gate runs at sf0.01 — forced on
    # here and hash-compared against the same DuckDB oracles
    from wnba_data_pipeline_spark.operators import relational

    from .oracle_compare import compare

    monkeypatch.setenv("SPARK_GRAFT_SPLIT_DISTINCT", "1")
    for name in ("quality_probe", "tumbling_daily"):
        sdf = relational.QUERIES[name](spark, SF_ORACLE)
        compare(sdf, duck.sql(relational.ORACLES[name]).df(), f"{name}[split]")


def test_split_distinct_plan_shape(spark, monkeypatch):
    # Spark's inline single-distinct rewrite drags every agg buffer through
    # a first-level aggregation GROUPED BY the distinct column (4-agg-node
    # chain over the full row set — the sf10 cost signature). The split
    # shape decouples them: the distinct subtree carries only the key, and
    # the join-back must be a BROADCAST (1-row / ~150-group side), never a
    # shuffle join over the fact data.
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_DISTINCT", "1")
    for name in ("quality_probe", "tumbling_daily"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
        assert "Broadcast" in plan, plan  # BHJ (tumbling) / BNLJ 1-row (probe)
    # inline shape: no join anywhere — the single-scan double-agg chain
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_DISTINCT", "0")
    assert "Join" not in _plan(spark, "quality_probe")


def test_whole_stage_codegen_everywhere(spark):
    # AQE finalizes the physical plan lazily — execute first, then read the
    # final plan, which carries the WholeStageCodegen span ids
    for name in ("agg_multi", "quality_probe", "text_stats"):
        df = _QUERIES[name](spark, SF_ORACLE)
        df.collect()
        plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
        # '*(n)' node prefixes are the whole-stage-codegen span markers
        assert re.search(r"\*\(\d+\) ", plan), f"{name}: {plan}"


def test_mixture_sample_prunes_text_and_broadcasts_takes(spark):
    from wnba_data_pipeline_spark.operators import text as textops

    df = textops.q_mixture_sample(spark, SF_ORACLE)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # the corpus scan must read ONLY (doc_id, lang) — at 100 TB the wide
    # text column never leaving the parquet reader IS the operator's cost
    assert re.search(r"ReadSchema: struct<doc_id:bigint,lang:string>", plan), plan
    assert "CartesianProduct" not in plan
    # per-group take counts ride a broadcast back to the corpus; the only
    # full-corpus shuffle is the rank window's hashpartitioning(lang)
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_join_is_not_cartesian(spark):
    from wnba_data_pipeline_spark.operators import clustering

    df = clustering.q_semantic_dedup(spark, SF_ORACLE)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # candidates come from the shared-cell equi-join, never an all-pairs
    # product (the same no-cartesian bar test_similarity_bucketed pins for
    # the LSH path)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_substring_spans_equi_joins_only(spark):
    from wnba_data_pipeline_spark.operators import spans as spansops

    df = spansops.q_substring_spans(spark, SF_ORACLE)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # the gram-hit join and the n_tokens join-back are hash equi-joins on
    # the uniform 60-bit gram hash / doc_id — never an all-pairs product
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # stage 2's duplicated-gram set is a partial-aggregated distinct, so the
    # (doc, gram) dedup combines map-side before its shuffle
    assert "HashAggregate" in plan


def test_unigram_ppl_broadcasts_model_and_totals(spark):
    from wnba_data_pipeline_spark.operators import text as textops

    df = textops.q_unigram_ppl(spark, SF_ORACLE)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # corpus totals (T, V) enter as a broadcast 1-row aggregate and the term
    # dictionary rides a broadcast back onto the doc-term frame: the only
    # full-corpus shuffles are the two token-count hash aggregates
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan
    # token explode reads only (doc_id, text)
    assert re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", plan), plan
