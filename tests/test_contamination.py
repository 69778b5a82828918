"""Differential gates for the LLM-pipeline operators that live OUTSIDE the
50-slot driver registry (contamination check, sequence packing) — their
DuckDB twins run here with the same hash-differential rigor the driver
applies to registered queries."""

from __future__ import annotations

import pytest

from wnba_data_pipeline_spark.operators import text

from .conftest import SF_ORACLE
from .oracle_compare import compare


def test_contamination_matches_oracle(spark, duck):
    sdf = text.q_contamination_check(spark, SF_ORACLE)
    ddf = duck.sql(text.ORACLE_CONTAMINATION_CHECK).df()
    compare(sdf, ddf, "contamination_check")


def test_eval_docs_self_report_full_overlap(spark):
    # positive control: every eval doc is in the corpus, so its max overlap
    # is its own distinct-gram count. The argmax is itself UNLESS a
    # lower-id eval doc fully CONTAINS its gram set (a tie at full overlap
    # — the lowest-id tie-break then picks the container; observed at
    # sf0.1 where doc 4650's grams are a subset of eval doc 1600's).
    rows = {r["doc_id"]: r for r in text.q_contamination_check(spark, SF_ORACLE).collect()}
    eval_ids = [d for d in rows if d % text.EVAL_MOD == 0]
    assert eval_ids, "eval set unexpectedly empty"
    non_self = 0
    for d in eval_ids:
        top = rows[d]["top_eval_doc"]
        assert top <= d  # ties break to the lowest eval id, never higher
        if top != d:
            non_self += 1
    # containment ties are rare; the control holds for the vast majority
    assert non_self <= len(eval_ids) * 0.1, (non_self, len(eval_ids))


def test_contamination_eval_side_over_budget_raises(spark, monkeypatch):
    # the eval-gram collect is bounded: one row over the budget fails the
    # plan build with the budget named, instead of filling the driver
    monkeypatch.setattr(text, "EVAL_GRAMS_MAX", 8)
    with pytest.raises(ValueError, match="EVAL_GRAMS_MAX=8"):
        text.q_contamination_check(spark, SF_ORACLE)


def test_sequence_packing_matches_oracle(spark, duck):
    sdf = text.q_sequence_packing(spark, SF_ORACLE)
    ddf = duck.sql(text.ORACLE_SEQUENCE_PACKING).df()
    compare(sdf, ddf, "sequence_packing")


def test_sequence_packing_invariants(spark):
    from wnba_data_pipeline_spark.sources.tables import load_table

    n_corpus = load_table(spark, SF_ORACLE, "documents").count()
    rows = text.q_sequence_packing(spark, SF_ORACLE).collect()
    assert 0 < len(rows) <= text.PACK_BUCKETS
    total_docs = sum(r["n_docs"] for r in rows)
    assert total_docs == n_corpus  # every document lands in exactly one pack
    for r in rows:
        assert 0 <= r["n_fit"] <= r["n_docs"]
        assert 0.0 <= r["fill_ratio"] <= 1.0
        assert r["used_tok"] <= text.PACK_BUDGET


def test_embedding_quantize_matches_oracle(spark, duck):
    from wnba_data_pipeline_spark.operators import similarity

    sdf = similarity.q_embedding_quantize_int8(spark, SF_ORACLE)
    ddf = duck.sql(similarity.ORACLE_EMBEDDING_QUANTIZE_INT8).df()
    compare(sdf, ddf, "embedding_quantize_int8")


def test_embedding_quantize_bounds(spark):
    from wnba_data_pipeline_spark.operators import similarity

    from wnba_data_pipeline_spark.sources.tables import load_table

    n_vecs = load_table(spark, SF_ORACLE, "embeddings").count()
    rows = similarity.q_embedding_quantize_int8(spark, SF_ORACLE).collect()
    assert len(rows) == n_vecs
    for r in rows:
        assert r["code_max"] <= 127  # symmetric int8 range by construction
        # half-step bound, with slack for the 6-dp rounding BOTH output
        # columns carry (scale can round down while the err rounds up)
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6
        assert r["rel_l2_err"] < 0.05  # int8 keeps 64-dim vectors within 5%


def test_repetition_stats_match_oracle(spark, duck):
    sdf = text.q_repetition_stats(spark, SF_ORACLE)
    ddf = duck.sql(text.ORACLE_REPETITION_STATS).df()
    compare(sdf, ddf, "repetition_stats")


def test_repetition_flags_planted_degenerate_doc(spark):
    # a degenerate doc (one trigram looped) must stand out with a high
    # max-repeat share while organic text stays flat
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "the cat sat " * 40), (2, "a b c d e f g h i j k l m n o p q r s t u v w x y z")],
        "doc_id long, text string",
    ).select("doc_id", F.trim("text").alias("text"))
    rows = {r["doc_id"]: r for r in text.repetition_stats(docs).collect()}
    assert rows[1]["top_tri_share"] > 0.3  # looped text dominated by one trigram
    assert rows[2]["top_tri_share"] < 0.1  # organic text is flat


def test_embedding_spectrum_invariants(spark):
    from wnba_data_pipeline_spark.operators import similarity
    from wnba_data_pipeline_spark.sources.tables import load_table

    n_vecs = load_table(spark, SF_ORACLE, "embeddings").count()
    rows = {r["label"]: r for r in similarity.q_embedding_spectrum(spark, SF_ORACLE).collect()}
    assert sum(r["n_vecs"] for r in rows.values()) == n_vecs
    for r in rows.values():
        # the top eigenvalue is a positive share of the total variance,
        # and at least the per-dimension average (lambda_max >= trace/dim)
        assert 0 < r["top_eig"] <= r["total_var"] + 1e-9
        assert r["explained"] >= 1.0 / similarity.DIM - 1e-9
        assert 0 < r["explained"] <= 1.0


def test_embedding_spectrum_rerun_deterministic(spark):
    from wnba_data_pipeline_spark.operators import similarity

    r1 = sorted(tuple(r) for r in similarity.q_embedding_spectrum(spark, SF_ORACLE).collect())
    r2 = sorted(tuple(r) for r in similarity.q_embedding_spectrum(spark, SF_ORACLE).collect())
    assert r1 == r2  # sorted-input + fixed-start power iteration


def test_embedding_spectrum_gram_path_matches_pandas(spark):
    # the distributed Gram partial-moments path (the 100 TB shape: executor
    # memory independent of group size) must agree with the grouped-pandas
    # path at the published 6dp on every label
    from wnba_data_pipeline_spark.operators import similarity

    pandas_rows = {r["label"]: r for r in similarity.q_embedding_spectrum(spark, SF_ORACLE, mode="pandas").collect()}
    gram_rows = {r["label"]: r for r in similarity.q_embedding_spectrum(spark, SF_ORACLE, mode="gram").collect()}
    assert set(pandas_rows) == set(gram_rows)
    for label, p in pandas_rows.items():
        g = gram_rows[label]
        assert p["n_vecs"] == g["n_vecs"]
        for col in ("top_eig", "explained", "total_var"):
            # both are rounded at 6dp from fp sums with different association
            # orders — allow one ulp of the rounding grid
            assert abs(p[col] - g[col]) <= 1e-6, (label, col, p[col], g[col])


def test_embedding_spectrum_degenerate_groups(spark):
    # n=1 groups and zero-variance (identical-vector) groups short-circuit
    # to (top_eig=0, explained=0) in BOTH paths instead of NaN (round-4
    # ADVICE: 0/0 from single-vector / constant clusters)
    from wnba_data_pipeline_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0, 3.0]),          # singleton label
            (2, 1, [4.0, 5.0, 6.0]),          # identical pair → zero variance
            (3, 1, [4.0, 5.0, 6.0]),
            (4, 2, [1.0, 0.0, 0.0]),          # healthy group
            (5, 2, [0.0, 1.0, 0.0]),
            (6, 2, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, label int, embedding array<double>",
    )
    for mode in ("pandas", "gram"):
        rows = {r["label"]: r for r in similarity.embedding_spectrum(emb, mode=mode).collect()}
        for lbl in (0, 1):
            assert rows[lbl]["top_eig"] == 0.0, mode
            assert rows[lbl]["explained"] == 0.0, mode
        assert rows[0]["n_vecs"] == 1 and rows[1]["n_vecs"] == 2
        assert rows[2]["top_eig"] > 0 and 0 < rows[2]["explained"] <= 1.0


def test_embedding_quantize_zero_vector_guarded(spark):
    # an all-zero vector (failed upstream embedding job) must quantize to
    # all-zero codes with zero error in BOTH engines — not NaN (round-4
    # ADVICE: unguarded absmax/127 divides by zero and the engines diverge)
    import duckdb

    from wnba_data_pipeline_spark.operators import similarity

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5, 0.0])],
        "vec_id long, embedding array<double>",
    )
    srows = {r["vec_id"]: r for r in similarity.quantize_int8(emb).collect()}
    assert srows[1]["scale"] == 0.0  # ε/127 rounds to 0 at 6dp
    assert srows[1]["code_sum"] == 0 and srows[1]["code_max"] == 0
    assert srows[1]["max_abs_err"] == 0.0 and srows[1]["rel_l2_err"] == 0.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        "SELECT 1 AS vec_id, [0.0, 0.0, 0.0, 0.0] AS embedding "
        "UNION ALL SELECT 2, [1.0, -2.0, 0.5, 0.0]"
    )
    drows = {r[0]: r for r in con.execute(similarity.ORACLE_EMBEDDING_QUANTIZE_INT8).fetchall()}
    con.close()
    for vid, s in srows.items():
        d = drows[vid]
        assert (s["scale"], s["code_sum"], s["code_max"], s["max_abs_err"], s["rel_l2_err"]) == (
            d[1], d[2], d[3], d[4], d[5],
        ), vid


def test_trend_stats_match_oracle(spark, duck):
    from wnba_data_pipeline_spark.operators import relational

    sdf = relational.q_trend_stats(spark, SF_ORACLE)
    ddf = duck.sql(relational.ORACLE_TREND_STATS).df()
    compare(sdf, ddf, "trend_stats")


def test_payload_resize_matches_oracle(spark, duck):
    from wnba_data_pipeline_spark.operators import multimodal

    sdf = multimodal.q_payload_resize(spark, SF_ORACLE)
    ddf = duck.sql(multimodal.ORACLE_PAYLOAD_RESIZE).df()
    compare(sdf, ddf, "payload_resize")


def test_payload_resize_geometry(spark):
    from wnba_data_pipeline_spark.operators import multimodal

    from wnba_data_pipeline_spark.sources.tables import load_table

    n_docs = load_table(spark, SF_ORACLE, "documents").count()
    rows = multimodal.q_payload_resize(spark, SF_ORACLE).collect()
    assert len(rows) == n_docs
    for r in rows:
        expect = min(r["n_bytes"], multimodal.RESIZE_TARGET)
        assert r["n_resized"] == expect  # no-upscale policy
        assert 0 <= r["first_byte"] <= 255 and 0 <= r["last_byte"] <= 255


def test_contamination_plan_broadcasts_eval_side(spark):
    # the eval-gram broadcast is folded into the gram pass: the eval side
    # is collected at plan build (the bytes a broadcast join would ship to
    # every executor), so the whole query is one zero-shuffle map — the
    # corpus side never shuffles before the match
    df = text.q_contamination_check(spark, SF_ORACLE)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Join" not in plan, plan
    assert ") Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_mixture_sample_matches_oracle(spark, duck):
    sdf = text.q_mixture_sample(spark, SF_ORACLE)
    ddf = duck.sql(text._oracle_mixture_sample()).df()
    compare(sdf, ddf, "mixture_sample")


def test_mixture_sample_invariants(spark):
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rows = {r["lang"]: r for r in text.q_mixture_sample(spark, SF_ORACLE).collect()}
    assert set(rows) <= set(text.MIX_WEIGHTS)
    total_take = sum(r["n_take"] for r in rows.values())
    binding = 0
    for lang, r in rows.items():
        assert r["n_sampled"] == r["n_take"]  # exact rank cutoff, not a rate
        assert r["n_take"] <= r["n_total"] == n_by_lang[lang]
        if r["n_take"] == r["n_total"]:
            binding += 1
        # achieved share hits the target weight up to the floor-rounding of
        # the integer take arithmetic (1/S per group, S >= total_take)
        target = text.MIX_WEIGHTS[lang] / 100
        assert abs(r["achieved_share"] - target) <= 2.0 / total_take + 1e-9, (lang, r)
    assert binding >= 1  # the scarcest group is fully taken by construction


def test_mixture_rate_gate_shares_match_exact_variant(spark):
    # the metadata-fed zero-shuffle variant must achieve per-group sizes
    # binomially close to the exact rank-cutoff variant's n_take
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    counts = {
        r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    exact = {r["lang"]: r for r in text.q_mixture_sample(spark, SF_ORACLE).collect()}
    takes = text.mixture_takes(counts)
    # the metadata arithmetic reproduces the exact variant's integer plan
    for lang, r in exact.items():
        assert takes[lang][0] == r["n_total"]
        assert takes[lang][1] == r["n_take"]
    got = {
        r["lang"]: r["n"]
        for r in text.mixture_rate_gate(docs, counts)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(takes)
    for lang, (n_total, n_take, _) in takes.items():
        # binomial tolerance: 3σ of Binomial(n_total, n_take/n_total) + slack
        sigma = (n_take * max(1.0 - n_take / n_total, 0.0)) ** 0.5
        assert abs(got[lang] - n_take) <= 3 * sigma + 3, (lang, got[lang], n_take)


def test_mixture_rate_gate_is_zero_shuffle_and_deterministic(spark):
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    counts = {
        r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    gated = text.mixture_rate_gate(docs, counts).select("doc_id", "lang")
    plan = spark._jvm.PythonSQLUtils.explainString(gated._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan, plan  # the whole point of the variant
    ids = {r["doc_id"] for r in gated.collect()}
    again = {
        r["doc_id"]
        for r in text.mixture_rate_gate(docs.repartition(13), counts).select("doc_id").collect()
    }
    assert ids == again  # hash gate: layout-independent selection


def test_mixture_rate_gate_degenerate_inputs(spark):
    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    assert text.mixture_takes({}) == {}
    assert text.mixture_takes({"xx": 100}) == {}  # no weighted group
    assert text.mixture_rate_gate(docs, {}).count() == 0
    # zero-count metadata rows can't bind S or emit rows
    t = text.mixture_takes({"en": 0, "de": 50})
    assert set(t) == {"de"}


def test_mixture_sample_selection_is_layout_independent(spark):
    # the selected ID set (pinned by the checksum) must not move under a
    # hostile repartition of the input — rank is on (md5, doc_id), not layout
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.operators.text import MIX_WEIGHTS, md5_long
    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents").repartition(13)
    base = {(r["lang"], r["id_checksum"]) for r in text.q_mixture_sample(spark, SF_ORACLE).collect()}
    ranked = docs.filter(F.col("lang").isin(*MIX_WEIGHTS.keys())).withColumn(
        "_h", md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    ).withColumn("_rn", F.row_number().over(Window.partitionBy("lang").orderBy("_h", "doc_id")))
    takes = {r["lang"]: r["n_take"] for r in text.q_mixture_sample(spark, SF_ORACLE).collect()}
    got = {}
    for r in ranked.collect():
        if r["_rn"] <= takes[r["lang"]]:
            got[r["lang"]] = got.get(r["lang"], 0) + r["doc_id"]
    assert {(lang, s) for lang, s in got.items()} == base


def test_url_domains_match_oracle(spark, duck):
    sdf = text.q_url_domains(spark, SF_ORACLE)
    ddf = duck.sql(text.ORACLE_URL_DOMAINS).df()
    compare(sdf, ddf, "url_domains")


def test_url_domains_planted_ground_truth(spark):
    # every URL_MOD-th doc carries exactly one site URL + one CDN URL:
    # the CDN domain must aggregate ALL planted docs, and the site
    # domains must partition them by doc_id % URL_SITES
    from wnba_data_pipeline_spark.sources.tables import load_table

    n_docs = load_table(spark, SF_ORACLE, "documents").count()
    planted = len([d for d in range(n_docs) if d % text.URL_MOD == 0])
    rows = {r["domain"]: r for r in text.q_url_domains(spark, SF_ORACLE).collect()}
    cdn = rows["cdn.example.org"]
    assert cdn["n_docs"] == cdn["n_hits"] == planted
    site_total = sum(
        r["n_docs"] for d, r in rows.items() if d.endswith(".example.com")
    )
    assert site_total == planted


def test_domain_blocklist_filter_removes_exactly_flagged_docs(spark):
    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = text._with_planted_urls(load_table(spark, SF_ORACLE, "documents"))
    blocked = spark.createDataFrame([("site1.example.com",), ("site4.example.com",)], "domain string")
    kept = text.domain_blocklist_filter(docs, blocked)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    removed = all_ids - kept_ids
    want_removed = {
        d for d in all_ids if d % text.URL_MOD == 0 and d % text.URL_SITES in (1, 4)
    }
    assert removed == want_removed and len(removed) > 0


def test_gram_partials_yield_once_per_partition(spark):
    # the gram path's exchange-size claim: the partial-moments worker
    # yields ONCE per partition, so its output is bounded by
    # partitions x labels rows, NOT arrow-batches x labels (ADVICE r6
    # residue — the docstring's claim now has an executable bound)
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.operators.similarity import _gram_partial_moments
    from wnba_data_pipeline_spark.sources.tables import load_table

    emb = (
        load_table(spark, SF_ORACLE, "embeddings")
        .withColumn("label", F.col("vec_id") % 10)
        .select("label", "embedding")
        .repartition(4)
    )
    n_labels = 10
    n_parts = emb.rdd.getNumPartitions()
    partials = emb.mapInPandas(_gram_partial_moments, "label int, stats array<double>")
    assert partials.count() <= n_parts * n_labels


def test_chunk_docs_matches_duckdb_twin(spark, duck):
    from wnba_data_pipeline_spark.operators import text as text_mod
    from wnba_data_pipeline_spark.sources.tables import load_table

    sdf = text_mod.chunk_docs(load_table(spark, SF_ORACLE, "documents"))
    compare(sdf, duck.sql(text_mod.ORACLE_CHUNK_DOCS).df(), "chunk_docs")


def test_chunk_docs_coverage_and_overlap(spark):
    # invariants: >=1 chunk per doc; every chunk but a doc's last is
    # exactly the window long; consecutive chunks overlap by
    # window - stride tokens; the last chunk reaches the doc's end
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.operators import text as text_mod
    from wnba_data_pipeline_spark.sources.tables import load_table

    ch = text_mod.chunk_docs(load_table(spark, SF_ORACLE, "documents")).cache()
    per_doc = ch.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_chunks"), F.max("chunk_id").alias("last_id")
    )
    bad = per_doc.filter(
        (F.col("n_chunks") < 1) | (F.col("n_chunks") != F.col("last_id") + 1)
    ).count()
    assert bad == 0
    # non-final chunks are full windows
    nonfinal = ch.join(
        per_doc.select("doc_id", "last_id"), "doc_id"
    ).filter(F.col("chunk_id") < F.col("last_id"))
    assert nonfinal.filter(F.col("chunk_tokens") != text_mod.CHUNK_W).count() == 0
    # final chunk covers through the end: start + len == n_tokens (a doc
    # with n <= window yields one n-token chunk)
    final = ch.join(per_doc.select("doc_id", "last_id"), "doc_id").filter(
        F.col("chunk_id") == F.col("last_id")
    )
    assert (
        final.filter(
            F.col("chunk_id") * text_mod.CHUNK_S + F.col("chunk_tokens")
            != F.col("n_tokens")
        ).count()
        == 0
    )


def test_quality_score_col_matches_doc_stats(spark):
    """The curation gate's inline quality expression (quality_score_col)
    and doc_stats's inlined copy are the SAME 6-decimal value per doc —
    the gate's zero-shuffle shortcut must never drift from the stats
    frame's column (round-8 review: the formula now exists in two inlined
    copies for plan-shape reasons)."""
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.operators.text import doc_stats, quality_score_col
    from wnba_data_pipeline_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    via_stats = {
        r["doc_id"]: r["quality_score"] for r in doc_stats(docs).collect()
    }
    via_col = {
        r["doc_id"]: r["q"]
        for r in docs.select("doc_id", quality_score_col("text").alias("q")).collect()
    }
    assert via_stats == via_col
