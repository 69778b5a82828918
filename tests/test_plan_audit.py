"""Systematic physical-plan audit over EVERY registry query (round 7):
the per-query shape assertions in tests/test_plans.py cover the headline
plans in depth; this sweep guarantees three repo-wide invariants hold for
all 50 registered queries at once, so a future operator cannot silently
ship a scale anti-pattern:

- no CartesianProduct anywhere;
- no BatchEvalPython anywhere (row-at-a-time Python UDFs are banned —
  the only Python crossings are Arrow-batched MapInPandas /
  FlatMapGroupsInPandas);
- BroadcastNestedLoopJoin only in the queries where it is a 1-row-side
  crossJoin by construction (whitelisted with the reason inline).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from .conftest import SF_SMOKE

_QUERIES = entrymod.queries()

# BNLJ is the correct physical join when one side is a SINGLE ROW (a
# global aggregate or threshold subquery crossed onto every row / the
# 1-row stats frame). Each entry names the 1-row side.
BNLJ_OK = {
    "global_aggs",  # single global aggregate row
    "quality_probe",  # 1-row stats x 1-row distinct-count cross
    "quality_report",  # 1-row lineitem stats x 1-row orders stats
    "agg_over_agg",  # per-group agg x 1-row global normalizer
    "mixture_sample",  # 1-row cap row (min over groups) crossed on
    "tfidf_top_terms",  # 1-row corpus doc-count broadcast
    "label_median_split",  # 1-row global median crossed on
    "dispersion_stats",  # 1-row global stats frame
    "trend_stats",  # 1-row global normalizer
    "contamination_check",  # 1-row eval-gram count
    "unigram_ppl",  # 1-row corpus token total
    "sequence_packing",  # 1-row pack-count cap
    # broadcast-small-side by construction (not 1-row, but bounded by the
    # fixed query set / centroid table — never corpus x corpus):
    "pq_rerank",  # ADC scan: Q broadcast queries x compressed codes, with
    # a <> self-guard making the join non-equi — the deliberate Q x N
    # compressed-domain pass, no shuffle
    "sim_ivf",  # nprobe cell expansion: queries crossed with the k-row
    # centroid list before the equi-join on cell
    "sim_topk",  # the LABELED brute-force baseline: 10 broadcast queries
    # x corpus with a <> self-guard — the exact ground truth the ANN rows
    # (sim_ivf/ivfpq_search/hamming_rerank) are graded against
    "hamming_rerank",  # stage 1 scans broadcast queries x packed sign
    # bits (<> self-guard, 2 XOR+POPCNT per candidate) — the deliberate
    # compressed-domain pass; stage 2's float joins are equi-joins on the
    # m-row shortlist
    "emb_near_dup",  # the LABELED all-pairs exact-cosine baseline
    # (returned in the round-13 twelfth rotation): vec_a < vec_b non-equi
    # self-join by construction — the ground truth every banded/celled/
    # compressed similarity row is recall-graded against; its docstring
    # names emb_near_dup_bucketed as the 100 TB path
}


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_scale_antipatterns_in_plan(name, spark):
    plan = (
        _QUERIES[name](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF\n{plan}"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected BroadcastNestedLoopJoin (add to BNLJ_OK only "
            f"if a side is 1-row by construction)\n{plan}"
        )
