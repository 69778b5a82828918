"""Oracle parity for queries kept OFF the capped 50-slot driver registry.
Each runs the same hash-differential comparison the driver applies to
registered queries, against its DuckDB twin. ``seeded_noise`` is the one
shape no registered query has; every other entry repeats the shape of the
registered query its comment names and is kept, with this parity row,
until its deletion (ROADMAP item 5).
"""

from __future__ import annotations

import pytest

from wnba_data_pipeline_spark.operators import (
    dedup,
    multimodal,
    relational,
    temporal,
    text,
)

from .conftest import SF_ORACLE
from .oracle_compare import compare

ROTATED = {
    # SURVEY §2 H8: the reference's seeded noise column, hash-derived here
    # so both engines draw the same values (properties in tests/test_noise.py)
    "seeded_noise": (relational.q_seeded_noise, relational.ORACLE_SEEDED_NOISE),
    # registered twins: doc_winnow
    "doc_fingerprint": (text.q_doc_fingerprint, text.ORACLE_DOC_FINGERPRINT),
    # award_mart (E4 global mart ranks)
    "rank_global_marts": (relational.q_rank_global_marts, relational.ORACLE_RANK_GLOBAL_MARTS),
    # scalar_funcs / quality_probe (H4/H7 interval arithmetic)
    "freshness_now": (relational.q_freshness_now, relational.ORACLE_FRESHNESS_NOW),
    # advanced_metrics (guarded ratios)
    "ratio_derive": (relational.q_ratio_derive, relational.ORACLE_RATIO_DERIVE),
    # award_mart (tagged unpivot) / join_multikey
    "union_tagged": (relational.q_union_tagged, relational.ORACLE_UNION_TAGGED),
    # scalar_funcs (H10 JSON)
    "kpi_json": (relational.q_kpi_json, relational.ORACLE_KPI_JSON),
    "json_extract_events": (relational.q_json_extract_events, relational.ORACLE_JSON_EXTRACT_EVENTS),
    # advanced_metrics (D3 ordered-first)
    "argmax_leader": (relational.q_argmax_leader, relational.ORACLE_ARGMAX_LEADER),
    # tumbling_daily (D2 exact distinct)
    "count_distinct_groups": (
        relational.q_count_distinct_groups,
        relational.ORACLE_COUNT_DISTINCT_GROUPS,
    ),
    # hamming_rerank (packed-sign Hamming arithmetic)
    "simhash_fingerprint": (dedup.q_simhash_fingerprint, dedup.ORACLE_SIMHASH),
    # text_stats / tfidf_top_terms (single-shuffle token aggregation)
    "lang_id_agreement": (text.q_lang_id_agreement, text._oracle_lang_id()),
    "bigram_topk": (text.q_bigram_topk, text.ORACLE_BIGRAM_TOPK),
    "text_corpus_rollup": (text.q_text_corpus_rollup, text.ORACLE_TEXT_CORPUS_ROLLUP),
    "url_domains": (text.q_url_domains, text.ORACLE_URL_DOMAINS),
    # mixture_sample (hash-gate sampling)
    "corpus_sample": (text.q_corpus_sample, text._oracle_corpus_sample()),
    # chunk_docs (1->N in-executor explode)
    "frame_sample": (multimodal.q_frame_sample, multimodal.ORACLE_FRAME_SAMPLE),
    # range_join_bins (same rows and oracle SQL, two-table bin-join form)
    "range_agg_binjoin": (temporal.range_agg_binjoin, temporal.ORACLE_RANGE_JOIN_BINS),
}


@pytest.mark.parametrize("name", sorted(ROTATED))
def test_rotated_query_matches_oracle(name, spark, duck):
    fn, oracle = ROTATED[name]
    compare(fn(spark, SF_ORACLE), duck.sql(oracle).df(), name)


def test_rotated_queries_stay_off_registry():
    # none of these may silently enter the capped registry and displace a
    # checked slot, and the registered queries below hold driver rows
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    assert not set(ROTATED) & set(qs)
    for registered in (
        "contamination_check",
        "sequence_packing",
        "trend_stats",
        "pii_stats",
        "mixture_sample",
        "substring_spans",
        "unigram_ppl",
        "asof_attribution",
        "range_join_bins",
        "semantic_dedup",
        "ivfpq_search",
        "heavy_hitters_cms",
        "pq_rerank",
        "hamming_rerank",
        "sim_topk",
        "hll_distinct_daily",
        "emb_near_dup",
        "hh_cms_vs_exact",
        "group_tail_n",
    ):
        assert registered in qs
