"""Salted-join equivalence + balance (SURVEY §7.11): same results as the
plain join on a hot-key dataset, with the hot key actually spread."""

from __future__ import annotations

from pyspark.sql import functions as F

from wnba_data_pipeline_spark.functions.skew import SALT_COL, salted_join, with_salt


def _skewed(spark):
    # 10k rows of one hot key + 100 spread over 10 keys
    hot = spark.range(10000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    cold = spark.range(100).select((F.col("id") % 10 + 2).alias("k"), F.col("id").alias("v"))
    return hot.unionByName(cold)


def test_salted_join_matches_plain_join(spark):
    fact = _skewed(spark)
    dim = spark.range(12).select((F.col("id") + 1).alias("k"), F.concat(F.lit("dim"), "id").alias("name"))
    plain = fact.join(dim, ["k"]).groupBy("k", "name").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    salted = salted_join(fact, dim, ["k"], 8).groupBy("k", "name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_left_join_nulls_preserved(spark):
    fact = _skewed(spark).filter(F.col("k") <= 5)
    dim = spark.range(2).select((F.col("id") + 4).alias("k"), F.lit("x").alias("name"))  # keys 4, 5 only
    plain = fact.join(dim, ["k"], "left")
    salted = salted_join(fact, dim, ["k"], 4, how="left")
    assert plain.count() == salted.count()
    assert plain.filter("name IS NULL").count() == salted.filter("name IS NULL").count()


def test_salt_spreads_hot_key(spark):
    fact = _skewed(spark)
    dist = (
        with_salt(fact.filter("k = 1"), 8)
        .groupBy(SALT_COL)
        .count()
        .collect()
    )
    assert len(dist) == 8  # every salt bucket hit
    counts = [r["count"] for r in dist]
    assert max(counts) < 2 * min(counts)  # roughly uniform


# ---------------------------------------------------------------------------
# Dedup hot buckets: a boilerplate corpus collapsing onto one LSH band
# bucket must (a) produce IDENTICAL pairs when the bucket is sliced into
# pair groups and (b) bound every pair group at 2 × hot_bucket_min rows.
# ---------------------------------------------------------------------------


def _boilerplate_corpus(spark, n_docs=600):
    """n_docs sharing one 60-word template + a tiny unique suffix — most
    land in ONE band bucket per band (the adversarial shape: pairwise
    jaccard ~0.9, so candidates AND verified pairs are quadratic)."""
    template = " ".join(f"tmpl{i}" for i in range(60))
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(template + " unique"), F.col("id").cast("string")).alias("text"),
    )


def test_dedup_hot_bucket_salted_pairs_identical(spark):
    from wnba_data_pipeline_spark.operators.dedup import minhash_pairs

    docs = _boilerplate_corpus(spark)
    sliced = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_pairs(docs, hot_bucket_min=32).collect()
    }
    # a bar above the corpus size: every bucket is one group, no slicing
    whole = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_pairs(docs, hot_bucket_min=10**6).collect()
    }
    assert sliced == whole
    assert len(sliced) > 1000  # the quadratic shape is real


def test_dedup_hot_bucket_groups_bounded(spark):
    """The operator's own pair-group rows: the planted bucket is far past
    the bar, so it is sliced, and no (band_key, _sub) group — the unit one
    task pairs up — holds more than 2 × hot_bucket_min rows."""
    from wnba_data_pipeline_spark.operators.dedup import band_slices, shingle_docs

    hot_min = 32
    sliced = band_slices(shingle_docs(_boilerplate_corpus(spark)), hot_bucket_min=hot_min)
    biggest_bucket = (
        sliced.groupBy("band_key").agg(F.countDistinct("doc_id").alias("n")).agg(F.max("n"))
    ).collect()[0][0]
    assert biggest_bucket > 8 * hot_min  # the planted bucket exists
    groups = sliced.groupBy("band_key", "_sub").agg(
        F.count(F.lit(1)).alias("c"), F.max("_s").alias("s")
    )
    row = groups.agg(F.max("c").alias("c"), F.max("s").alias("s")).collect()[0]
    assert row["s"] > 1  # slicing engaged
    assert row["c"] <= 2 * hot_min
