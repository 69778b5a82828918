"""Empty-input robustness (SURVEY §5.2): the reference guards every stage
with ``if df.empty: return`` (e.g. ``transform_player_stats.py:38-39``);
lazy Spark plans must instead flow empty frames through every operator
without error — aggregates yield empty or single-row-of-nulls frames, never
exceptions."""

from __future__ import annotations

from pyspark.sql import functions as F

from wnba_data_pipeline_spark.plans import layers
from wnba_data_pipeline_spark.sources.sinks import overwrite_table, read_table
from wnba_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_layers_on_empty_raw(spark, tmp_path):
    """Analytics + features + dashboard layers over an EMPTY raw layer:
    every sink writes a valid (zero-row) table, no stage raises."""
    base = str(tmp_path / "wh_empty")
    li = load_table(spark, SF_SMOKE, "lineitem").filter(F.lit(False)).withColumns(
        {
            "created_at": F.lit(layers.DEFAULT_AS_OF).cast("timestamp_ntz"),
            "ship_ym": F.date_format(F.col("l_shipdate"), "yyyy-MM"),
        }
    )
    overwrite_table(li, f"{base}/raw/lineitem_box")
    orders = load_table(spark, SF_SMOKE, "orders").filter(F.lit(False)).withColumns(
        {
            "created_at": F.lit(layers.DEFAULT_AS_OF).cast("timestamp_ntz"),
            "order_ym": F.date_format(F.col("o_orderdate"), "yyyy-MM"),
        }
    )
    overwrite_table(orders, f"{base}/raw/orders_box")

    layers.run_analytics_layer(spark, base)
    layers.run_features_layer(spark, base)
    layers.run_dashboard_layer(spark, base)

    t = layers.layer_tables(base)
    assert read_table(spark, t["analytics.supplier_stats"]).count() == 0
    assert read_table(spark, t["dashboard.top_suppliers"]).count() == 0
    # global aggregates over nothing: one row, defined null/zero semantics
    kpi = read_table(spark, t["dashboard.kpi_summary"]).collect()
    assert len(kpi) == 1


def test_operator_expressions_on_empty_groups(spark):
    """Window + agg + ratio expressions over a zero-row frame: empty out,
    no divide-by-zero or null surprises."""
    li = load_table(spark, SF_SMOKE, "lineitem").filter(F.lit(False))
    agg = li.groupBy("l_suppkey").agg(
        F.sum("l_quantity").alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    out = agg.select(
        "l_suppkey",
        F.when(F.col("q") > 0, F.col("q") / F.col("n")).otherwise(F.lit(0.0)).alias("r"),
    )
    assert out.count() == 0


def test_kmeans_fit_raises_cleanly_when_corpus_smaller_than_k(spark):
    import pytest

    from wnba_data_pipeline_spark.operators.clustering import kmeans_fit

    tiny = spark.createDataFrame(
        [(0, [0.0] * 64), (1, [1.0] * 64)], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="need k="):
        kmeans_fit(tiny, k=5, max_iter=2)


def test_kmeans_fit_handles_degenerate_identical_corpus(spark):
    # all-identical vectors: every seed is the same point, all rows land in
    # cell 0 (first-min tie-break), the other cells stay empty and keep
    # their seeds — converges immediately, no division by zero
    from wnba_data_pipeline_spark.operators.clustering import assign_clusters, kmeans_fit

    df = spark.createDataFrame(
        [(i, [2.5] * 64) for i in range(10)], "vec_id: long, embedding: array<double>"
    )
    model = kmeans_fit(df, k=3, max_iter=3)
    assert model.converged and model.sizes == {0: 10}
    assert model.inertia[-1] == 0.0
    clusters = {r["cluster"] for r in assign_clusters(df, model.centroids).collect()}
    assert clusters == {0}


def test_mixture_sample_with_absent_weight_group(spark):
    # a weight entry for a language absent from the corpus must not bind S
    # or emit a row — rebuild the frame with 'zh' filtered out entirely
    from wnba_data_pipeline_spark.operators import text
    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("lang") != "zh")
    counts = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    present = set(counts) & set(text.MIX_WEIGHTS)
    assert present and "zh" not in counts

    w = None
    for lang, pct in text.MIX_WEIGHTS.items():
        cond = (w if w is not None else F).when(F.col("lang") == lang, F.lit(pct))
        w = cond
    cnt = docs.filter(F.col("lang").isin(*text.MIX_WEIGHTS)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total")
    ).withColumn("w", w)
    s = cnt.agg(F.min(F.expr("n_total * 100 div w")).alias("S")).collect()[0]["S"]
    expected_s = min(counts[lang] * 100 // text.MIX_WEIGHTS[lang] for lang in present)
    assert s == expected_s  # S derives from PRESENT groups only


def test_temporal_joins_on_empty_sides(spark):
    """as-of and range joins must flow empty frames through: empty right
    side -> all-null matches (as-of) / zero counts (range agg); empty left
    side -> empty output. No stage raises."""
    import datetime as dt

    from wnba_data_pipeline_spark.operators import temporal

    schema_l = "lid long, user_id long, lts timestamp_ntz"
    schema_r = "rid long, user_id long, rts timestamp_ntz"
    one_l = spark.createDataFrame(
        [(1, 10, dt.datetime(2024, 1, 1, 12))], schema_l
    )
    empty_l = one_l.filter(F.lit(False))
    one_r = spark.createDataFrame(
        [(100, 10, dt.datetime(2024, 1, 1, 11))], schema_r
    )
    empty_r = one_r.filter(F.lit(False))

    got = temporal.asof_join(one_l, empty_r, on="user_id", left_ts="lts", right_ts="rts").collect()
    assert len(got) == 1 and got[0]["rid"] is None
    assert (
        temporal.asof_join(empty_l, one_r, on="user_id", left_ts="lts", right_ts="rts").count() == 0
    )
    pairs = temporal.range_join(
        one_l, empty_r, on="user_id", left_ts="lts", right_ts="rts", window_us=3_600_000_000, how="left"
    )
    agg = pairs.groupBy("lid").agg(F.count("rid").alias("n")).collect()
    assert len(agg) == 1 and agg[0]["n"] == 0
    assert (
        temporal.range_join(
            empty_l, one_r, on="user_id", left_ts="lts", right_ts="rts", window_us=3_600_000_000
        ).count()
        == 0
    )


def test_new_round6_ops_on_empty_corpus(spark):
    """CMS heavy hitters, URL analytics, leakage split, and the binary
    signature family must all flow an empty corpus through without error."""
    from wnba_data_pipeline_spark.operators import ml, similarity, text
    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.lit(False))
    )
    assert text.heavy_hitters_cms(docs, min_count=1).count() == 0
    assert text.doc_domains(docs).count() == 0
    blocked = spark.createDataFrame([("x.com",)], "domain string")
    assert text.domain_blocklist_filter(docs, blocked).count() == 0
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert ml.leakage_safe_split(docs, pairs).count() == 0
    emb = load_table(spark, SF_SMOKE, "embeddings").filter(F.lit(False))
    assert similarity.binarize_embeddings(emb).count() == 0
    assert (
        similarity.hamming_topk(
            similarity.binarize_embeddings(emb), n_queries=10, k=3
        ).count()
        == 0
    )


def test_round7_ops_on_empty_inputs(spark, tmp_path):
    """Round-7 additions flow empty frames without error: chunking yields
    zero chunks, hard-negative mining zero pairs (both paths), and the
    z-order key builds on a single-row frame (degenerate min==max spans)."""
    from wnba_data_pipeline_spark.operators import similarity, text
    from wnba_data_pipeline_spark.sources.sinks import zorder_key

    empty_docs = spark.createDataFrame([], "doc_id long, lang string, text string")
    assert text.chunk_docs(empty_docs).count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    assert similarity.hard_negatives_exact(empty_emb).count() == 0
    assert similarity.hard_negatives_bucketed(empty_emb).count() == 0

    one = spark.createDataFrame([(1, 1)], "a long, b long")
    z = one.withColumn("z", zorder_key(one, ("a", "b"))).collect()
    assert z[0]["z"] == 0  # min==max collapses each dim to bucket 0


def test_hard_negatives_single_label_corpus_is_empty(spark):
    # every vector shares one label -> there are NO valid negatives;
    # both paths must return zero rows, not error or fabricate pairs
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.operators import similarity
    from wnba_data_pipeline_spark.sources.tables import load_table

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 20)
        .withColumn("label", F.lit(7))
    )
    assert similarity.hard_negatives_exact(emb).count() == 0
    assert similarity.hard_negatives_bucketed(emb).count() == 0
