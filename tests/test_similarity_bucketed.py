"""Recall gate for the bucketed near-dup path: the banded-LSH candidate
join must recover EXACTLY the all-pairs exact result — the property that
makes it a valid 100 TB substitute for the cartesian baseline.

The (planes, bands) = (8, 16) config was tuned on the actual corpus: the
planted pairs' cosines sit at 0.87-0.93, right at the 0.9 threshold, so
recall here is a real measurement, not a formality. Everything is
hash-derived (no RNG), so this is deterministic per dataset — the sf0.1
sweep runs via SPARK_GRAFT_TEST_SF_DIR.
"""

from __future__ import annotations

import pytest

from wnba_data_pipeline_spark.operators import similarity
from wnba_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_ORACLE
from .oracle_compare import compare


def _pairs(df):
    return {(r["vec_a"], r["vec_b"]): r["cosine"] for r in df.collect()}


def test_bucketed_recovers_all_pairs_exactly(spark):
    exact = _pairs(similarity.q_emb_near_dup(spark, SF_ORACLE))
    bucketed = _pairs(similarity.q_emb_near_dup_bucketed(spark, SF_ORACLE))
    assert bucketed == exact  # same pairs AND same cosines (recall == 1)
    assert len(exact) > 0  # the planted pairs are actually present


def test_bucketed_plan_has_no_cartesian(spark):
    df = similarity.q_emb_near_dup_bucketed(spark, SF_ORACLE)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # the candidate step must be an equi-join on the band key, never a
    # nested-loop product (which is exactly what the all-pairs baseline is)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hard_negatives_exact_matches_duckdb_twin(spark, duck):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    compare(
        similarity.hard_negatives_exact(emb),
        duck.sql(similarity.ORACLE_HARD_NEGATIVES_EXACT).df(),
        "hard_negatives_exact",
    )


def test_hard_negatives_bucketed_recall_and_subset(spark):
    # the banded path must (a) only ever report true different-label
    # pairs with exact cosines (verified per-row against the exact
    # ranking) and (b) recover >= 90% of the true top-1 hard negatives
    # (measured 92.8% at sf0.01 with 4-plane bands; deterministic —
    # planes are fixed hash-derived literals, so this is a property of
    # the corpus, not a flaky sample)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {(r.a_vec_id, r.n_vec_id): r.cosine for r in similarity.hard_negatives_exact(emb, k=50).collect()}
    top1 = {r.a_vec_id: r.n_vec_id for r in similarity.hard_negatives_exact(emb).collect() if r.neg_rank == 1}
    got = similarity.hard_negatives_bucketed(emb).collect()
    for r in got:
        assert (r.a_vec_id, r.n_vec_id) in exact  # true pair, not fabricated
        assert exact[(r.a_vec_id, r.n_vec_id)] == r.cosine
    got1 = {r.a_vec_id: r.n_vec_id for r in got if r.neg_rank == 1}
    recall = sum(1 for a, n in top1.items() if got1.get(a) == n) / len(top1)
    assert recall >= 0.9


def test_hard_negatives_bucketed_shuffles_ids_only(spark):
    # round-8 sixth review pass pinned the id-then-fetch shape (no shuffle
    # may carry a vector); round 15's per-bucket GEMM screen REVISES the
    # contract deliberately: exactly ONE shuffle (the groupBy(_bk) feeding
    # the screen) carries the embedding — n_bands×N rows, moved once — in
    # exchange for removing the Σ per-bucket-collision PAIR volume (57% of
    # N² at sf0.1) from the distinct and every downstream exchange. Pin
    # the revised shape: at most one vector-carrying shuffle, and the
    # candidate distinct still aggregates over the two id longs alone.
    df = similarity.q_hard_negatives_bucketed(spark, SF_ORACLE)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    vec_cols = ("_ae#", "_ne#", "embedding#")
    vec_shuffles = 0
    saw_shuffle = saw_distinct = False
    for block in plan.split("\n\n"):
        header = block.strip().split("\n", 1)[0]
        if ") Exchange" in header:  # shuffle, not BroadcastExchange
            saw_shuffle = True
            if any(c in block for c in vec_cols):
                vec_shuffles += 1
        if ") HashAggregate" in header and "Functions: []" in block:
            saw_distinct = True
            assert not any(c in block for c in vec_cols), block
    assert saw_shuffle and saw_distinct  # the probes actually matched
    assert vec_shuffles <= 1, plan


def test_srp_arrow_band_keys_match_expression(spark):
    """The Arrow band-key pass emits the (id, key) multisets of the DuckDB
    SQL expressions ``_nd_band_key_sql`` (8-plane near-dup geometry, on the
    augmented corpus) and ``_hn_band_key_sql`` (4-plane hard-negative
    geometry, on the embeddings) — plus edge vectors: the all-zero vector
    (every dot is exactly 0, so every bit takes the fold's >= 0 side) and
    a one-hot vector."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .duck_twins import duck_docs, duck_frame, rows

    zero = [0.0] * similarity.DIM
    one_hot = [1.0] + [0.0] * (similarity.DIM - 1)
    edge = spark.createDataFrame(
        [(-1, zero), (-2, one_hot)], "vec_id long, embedding array<double>"
    )
    wn = similarity._augmented_corpus(spark, SF_ORACLE).select("vec_id", "embedding")
    emb = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    for vecs, n_planes, span, key_sql in (
        (wn, similarity.ND_PLANES, similarity.ND_BUCKET_SPAN, similarity._nd_band_key_sql),
        (emb, similarity.HN_PLANES, 1 << similarity.HN_PLANES, similarity._hn_band_key_sql),
    ):
        vecs = vecs.unionByName(edge)
        got = sorted(
            tuple(r)
            for r in similarity._srp_banded_rows(
                vecs,
                [("vec_id", "long")],
                n_planes=n_planes,
                n_bands=similarity.ND_BANDS,
                span=span,
                key_name="bkey",
            ).collect()
        )
        con = duck_docs([])
        duck_frame(con, "vecs", pd.DataFrame([tuple(r) for r in vecs.collect()], columns=["vec_id", "embedding"]))
        keys = ", ".join(key_sql("embedding", b) for b in range(similarity.ND_BANDS))
        want = rows(con, f"SELECT vec_id, unnest([{keys}]) AS bkey FROM vecs")
        assert got == want, n_planes
        assert {k for v, k in got if v == -1} == {
            b * span + span - 1 for b in range(similarity.ND_BANDS)
        }


def test_hot_bucket_salting_bounds_tasks_and_preserves_rows(spark, monkeypatch):
    """A bucket bigger than the screen row budget must be sub-bucket-salted
    — no screen task materializes the whole bucket — while the
    candidate/verify rows stay exceptAll-identical to the unsalted plan the
    production budget picks. Synthetic hot corpus: every vector is a tiny
    perturbation of one base vector, so all rows share one (band, bucket)
    per band in BOTH geometries."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    base = rng.normal(0.0, 1.0, similarity.DIM)
    n = 400
    rows = [
        (
            int(i),
            int(i % 7),
            [float(x) for x in base + rng.normal(0.0, 1e-6, similarity.DIM)],
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<double>")
    production_budget = similarity.SCREEN_ROW_BUDGET
    monkeypatch.setattr(similarity, "SCREEN_ROW_BUDGET", 50)

    # the estimator must fire on the planted bucket with >1 slices
    slices_hn = similarity._hot_bucket_slices(
        df.select("vec_id", "embedding"),
        id_col="vec_id",
        n_planes=similarity.HN_PLANES,
        n_bands=similarity.ND_BANDS,
        span=1 << similarity.HN_PLANES,
    )
    assert slices_hn and all(s > 1 for s in slices_hn.values()), slices_hn

    # ... and stay silent on the fixture corpus at the production budget
    # (the default registry plans keep the r15 single-group shape)
    monkeypatch.setattr(similarity, "SCREEN_ROW_BUDGET", production_budget)
    emb_fix = load_table(spark, SF_ORACLE, "embeddings")
    assert (
        similarity._hot_bucket_slices(
            emb_fix.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
            id_col="vec_id",
            n_planes=similarity.HN_PLANES,
            n_bands=similarity.ND_BANDS,
            span=1 << similarity.HN_PLANES,
        )
        == {}
    )
    monkeypatch.setattr(similarity, "SCREEN_ROW_BUDGET", 50)

    # peak-group bound: with S slices a screen group holds ~rows/S per
    # side; the biggest (band, bucket, slice) group must be far below the
    # unsalted bucket size (n rows)
    banded = similarity._srp_banded_rows(
        df.select("vec_id", "label", "embedding"),
        [("vec_id", "long"), ("label", "int"), ("embedding", "array<double>")],
        n_planes=similarity.HN_PLANES,
        n_bands=similarity.ND_BANDS,
        span=1 << similarity.HN_PLANES,
        key_name="_bk",
    )
    sliced = similarity._with_role_slices(banded, slices_hn, key_name="_bk", id_col="vec_id")
    sizes = (
        sliced.groupBy("_bk", "_sub")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert sizes < n / 2, sizes  # bounded groups, not the whole bucket

    # hard negatives: salted plan ≡ unsalted plan, row for row (at the
    # production budget the 400-row bucket is cold: no slices)
    salted = similarity.hard_negatives_bucketed(df)
    monkeypatch.setattr(similarity, "SCREEN_ROW_BUDGET", production_budget)
    cold = similarity.hard_negatives_bucketed(df)
    monkeypatch.setattr(similarity, "SCREEN_ROW_BUDGET", 50)
    assert salted.exceptAll(cold).count() == 0
    assert cold.exceptAll(salted).count() == 0
    assert salted.count() > 0

    # near-dup threshold screen: salted candidate set ≡ unsalted
    nd_banded = similarity._srp_banded_rows(
        df.select("vec_id", "embedding"),
        [("vec_id", "long"), ("embedding", "array<double>")],
        n_planes=similarity.ND_PLANES,
        n_bands=similarity.ND_BANDS,
        span=similarity.ND_BUCKET_SPAN,
        key_name="bkey",
    )
    slices_nd = similarity._hot_bucket_slices(
        df.select("vec_id", "embedding"),
        id_col="vec_id",
        n_planes=similarity.ND_PLANES,
        n_bands=similarity.ND_BANDS,
        span=similarity.ND_BUCKET_SPAN,
    )
    assert slices_nd and all(s > 1 for s in slices_nd.values())

    def _cand(slices):
        return (
            similarity._with_pair_slices(nd_banded, slices, key_name="bkey", id_col="vec_id")
            .repartition("bkey", "_sub")
            .mapInPandas(similarity._nd_bucket_screen(similarity.ND_THRESHOLD), "vec_a long, vec_b long")
            .distinct()
        )

    cand_salted, cand_cold = _cand(slices_nd), _cand({})
    assert cand_salted.exceptAll(cand_cold).count() == 0
    assert cand_cold.exceptAll(cand_salted).count() == 0
    assert cand_salted.count() > 0


def test_sim_topk_query_rows_over_budget_raise(spark, monkeypatch):
    # the query-set collect is bounded: N_QUERIES rows while vec_id is
    # unique; more than the budget fails the plan build with it named
    monkeypatch.setattr(similarity, "QUERY_ROWS_MAX", similarity.N_QUERIES - 1)
    with pytest.raises(ValueError, match=f"QUERY_ROWS_MAX={similarity.N_QUERIES - 1}"):
        similarity.q_sim_topk(spark, SF_ORACLE)
