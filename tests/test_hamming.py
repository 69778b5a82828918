"""Gates for the binary sign-signature family (similarity.binarize_embeddings
/ hamming_topk): cross-engine differential on the packed bit arithmetic,
self-distance-zero identity, and an honestly-measured recall floor against
the exact cosine baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from wnba_data_pipeline_spark.operators import similarity
from wnba_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_ORACLE
from .oracle_compare import compare


def _hamming_topk(spark):
    """Sign-signature Hamming top-3 for the sim_topk query set."""
    sigs = similarity.binarize_embeddings(load_table(spark, SF_ORACLE, "embeddings"))
    return similarity.hamming_topk(sigs, n_queries=similarity.N_QUERIES, k=similarity.HAM_TOP_K)


def test_hamming_topk_matches_oracle(spark, duck):
    sdf = _hamming_topk(spark)
    ddf = duck.sql(similarity.ORACLE_HAMMING_TOPK).df()
    compare(sdf, ddf, "hamming_topk")


def test_signature_self_distance_zero_and_bits_used(spark):
    sigs = similarity.binarize_embeddings(load_table(spark, SF_ORACLE, "embeddings"))
    row = sigs.agg(
        F.min("sig_lo").alias("lo_min"),
        F.max("sig_lo").alias("lo_max"),
        F.min("sig_hi").alias("hi_min"),
        F.max("sig_hi").alias("hi_max"),
        F.count_distinct("sig_lo", "sig_hi").alias("n_distinct"),
    ).collect()[0]
    # halves stay in [0, 2^32): ANSI long arithmetic can never overflow
    assert 0 <= row["lo_min"] and row["lo_max"] < 2**32
    assert 0 <= row["hi_min"] and row["hi_max"] < 2**32
    # signatures actually discriminate (500 vectors, 64 bits)
    assert row["n_distinct"] > 400


def test_hamming_recall_vs_cosine(spark):
    """The honest numbers for 1-bit quantization, as regression gates:
    raw Hamming top-3 is a WEAK ranker here (measured 0.233 — axis-aligned
    sign bits; asserted only > chance), while the production shape — a
    corpus-relative Hamming prefilter (max(50, ceil(n/5)) candidates per
    query, ``ham_prefilter_m_for``) + exact cosine rerank — must recall
    ≥0.8 of the true cosine top-3 (0.90 measured at sf0.01)."""
    exact = {
        (r["q_vec_id"], r["n_vec_id"])
        for r in similarity.q_sim_topk(spark, SF_ORACLE).collect()
    }
    raw = {
        (r["q_vec_id"], r["n_vec_id"])
        for r in _hamming_topk(spark).collect()
    }
    raw_recall = len(exact & raw) / len(exact)
    # > 10x chance, computed from the corpus (k/(n-1) per query) so the
    # gate scales with SPARK_GRAFT_TEST_SF_DIR: 0.233 measured at sf0.01
    # (chance 0.006), 0.100 at sf0.1 (chance 0.0006) — weak as a RANKER
    # either way (that is the documented point), but far above chance
    n_corpus = load_table(spark, SF_ORACLE, "embeddings").count()
    chance = similarity.HAM_TOP_K / (n_corpus - 1)
    assert raw_recall > 10 * chance, (raw_recall, chance)

    emb = load_table(spark, SF_ORACLE, "embeddings")
    rer = {
        (r["q_vec_id"], r["n_vec_id"])
        for r in similarity.hamming_rerank(
            emb, n_queries=similarity.N_QUERIES, k=similarity.TOP_K
        ).collect()
    }
    rerank_recall = len(exact & rer) / len(exact)
    assert rerank_recall >= 0.8, rerank_recall
