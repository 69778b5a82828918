"""Arrow signature pass (round 11, VERDICT r10 item 1): the vectorized
numpy signature map must be BYTE-IDENTICAL to the Catalyst expression
path — it is a physical switch (like the hot-bucket gate), never a
semantic dial. Verified at both geometries on the oracle corpus plus a
multibyte corpus (CJK/emoji shingles cross the md5 contract too)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnba_data_pipeline_spark.functions.hashing import minhash_coeffs
from wnba_data_pipeline_spark.operators import dedup

from .conftest import SF_ORACLE


def _band_rows(monkeypatch, spark, flag: str, coeffs, band_rows):
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", flag)
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    shingled = dedup.shingle_docs(corpus)
    banded = dedup.banded_keys(shingled, coeffs=coeffs, band_rows=band_rows)
    return sorted(tuple(r) for r in banded.collect())


@pytest.mark.parametrize(
    "geom",
    [None, dedup.GEOMETRY_LARGE_N],
    ids=["default_16x4", "large_n_48x8"],
)
def test_arrow_signatures_equal_expression(spark, monkeypatch, geom):
    if geom is None:
        coeffs, band_rows = None, None
    else:
        k, band_rows = geom
        coeffs = minhash_coeffs(k)
    expr = _band_rows(monkeypatch, spark, "0", coeffs, band_rows)
    arrow = _band_rows(monkeypatch, spark, "1", coeffs, band_rows)
    assert expr == arrow
    assert len(expr) > 0


def test_arrow_pairs_equal_expression_sharp_geometry(spark, monkeypatch):
    k, band_rows = dedup.GEOMETRY_LARGE_N
    coeffs = minhash_coeffs(k)
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)

    def pairs(flag):
        monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", flag)
        return sorted(
            tuple(r)
            for r in dedup.minhash_pairs(corpus, coeffs=coeffs, band_rows=band_rows).collect()
        )

    off, on = pairs("0"), pairs("1")
    assert off == on
    assert len(off) > 0  # the planted near-copies are found either way


def test_arrow_signatures_multibyte(spark, monkeypatch):
    rows = [
        (1, "汉字 テスト 🙂🙂 汉字 テスト éé 汉字 テスト end"),
        (2, "á b́ ć d e f 🙂‍🙂 g h"),
        (3, "one two"),  # < 3 words -> whole-text shingle fallback
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingled = dedup.shingle_docs(docs)
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "0")
    expr = sorted(tuple(r) for r in dedup.banded_keys(shingled).collect())
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "1")
    arrow = sorted(tuple(r) for r in dedup.banded_keys(shingled).collect())
    assert expr == arrow


def test_arrow_default_on_with_opt_out(monkeypatch):
    # round 14: the Arrow signature pass is the default at EVERY K (the
    # r11 K>=32 gate was re-measured stale at sf100 — BENCH_SCALE_r14
    # sig_arrow_ab, 4.12x on the default geometry); =0 is the opt-out.
    # Round 15 (VERDICT r14 item 5): the dead ``k`` parameter is gone —
    # the env flag is the only gate.
    monkeypatch.delenv("SPARK_GRAFT_SIG_ARROW", raising=False)
    assert dedup._sig_arrow_enabled()
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "1")
    assert dedup._sig_arrow_enabled()
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "0")
    assert not dedup._sig_arrow_enabled()


def test_arrow_signatures_null_and_edge_texts(spark, monkeypatch):
    """Round 14 (the default-ON flip's new edge): a NULL text shingles to
    hh=[NULL]; the expression branch's array_min over all-NULLs is NULL
    per hash, so every band key degrades to the bare 't' prefix. The
    Arrow branch must emit byte-identical keys for those rows (all-NULL
    signature), and identical keys everywhere else — incl. empty and
    whitespace-only texts (whole-text shingle fallback).

    Round 15 (ADVICE r14 high+medium): the frame is COALESCED TO ONE
    PARTITION so the NULL rows share an Arrow batch with the real docs —
    an element-level null anywhere in a batch makes pyarrow deliver the
    whole batch's list values as float64, silently corrupting the
    sibling rows' 60-bit hashes in the int64 cast. The r14 version of
    this test spread its 6 rows across default-parallelism partitions,
    never exercised that path, and passed against the broken code; this
    version fails against r14 HEAD (32 diverging keys for docs 2/3) and
    pins banded_keys' plan-side list-level-NULL collapse."""
    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one two"),
        (5, "alpha beta gamma delta alpha beta"),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingled = dedup.shingle_docs(docs).coalesce(1)
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "0")
    expr = sorted(tuple(r) for r in dedup.banded_keys(shingled).collect())
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "1")
    arrow = sorted(tuple(r) for r in dedup.banded_keys(shingled).collect())
    assert expr == arrow
    # the NULL-text rows really degrade to the bare band prefix
    null_keys = {k for d, k in expr if d in (1, 6)}
    assert null_keys == {str(t) for t in range(dedup.K_MINHASH // dedup.BAND_ROWS)}
    # and the real docs' keys carry actual signature values (not the
    # degraded prefix) — the corruption mode produced WRONG values, so
    # also pin that every non-NULL doc emits N_BANDS fully-formed keys
    for d in (2, 3, 4, 5):
        keys = [k for dd, k in expr if dd == d]
        assert len(keys) == dedup.N_BANDS
        assert all(k.count(":") == dedup.BAND_ROWS for k in keys)


def test_arrow_signatures_whole_null_sh_fallback(spark, monkeypatch):
    """ADVICE r14 low: a frame WITHOUT a materialized ``hh`` whose ``sh``
    is a literal NULL array reaches banded_keys' computed-hh fallback —
    ``F.transform(NULL, md5_long)`` is NULL, which arrived in the r14 UDF
    as ``np.asarray(None)`` (a 0-d object array) and crashed the
    per-row null scan with TypeError. The plan-side collapse now turns it
    into the all-NULL signature row; both branches must agree. One
    partition so the NULL row shares the real docs' Arrow batch."""
    rows = [
        (1, None),
        (2, ["alpha beta gamma", "beta gamma delta"]),
        (3, ["solo shingle"]),
    ]
    shingled = spark.createDataFrame(rows, "doc_id long, sh array<string>").coalesce(1)
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "0")
    expr = sorted(tuple(r) for r in dedup.banded_keys(shingled).collect())
    monkeypatch.setenv("SPARK_GRAFT_SIG_ARROW", "1")
    arrow = sorted(tuple(r) for r in dedup.banded_keys(shingled).collect())
    assert expr == arrow
    null_keys = {k for d, k in expr if d == 1}
    assert null_keys == {str(t) for t in range(dedup.K_MINHASH // dedup.BAND_ROWS)}


def _shingled_rows(spark, monkeypatch, flag, df):
    monkeypatch.setenv("SPARK_GRAFT_SHINGLE_ARROW", flag)
    out = sorted(
        (r["doc_id"], tuple(r["sh"]), tuple(r["hh"]))
        for r in dedup.shingle_docs(df).collect()
    )
    monkeypatch.delenv("SPARK_GRAFT_SHINGLE_ARROW")
    return out


def test_arrow_shingles_equal_expression_on_corpus(spark, monkeypatch):
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    expr = _shingled_rows(spark, monkeypatch, "0", corpus)
    arrow = _shingled_rows(spark, monkeypatch, "1", corpus)
    assert expr == arrow
    assert len(expr) > 0


def test_arrow_shingles_edge_rows(spark, monkeypatch):
    rows = [
        (1, "one two"),                      # <3 words -> whole-text fallback
        (2, ""),                             # empty text -> [""] fallback
        (3, "a  b c"),                       # double space -> empty word kept
        (4, "trailing space "),              # trailing empty word kept
        (5, "a b c a b c a b c"),            # repeated trigrams -> distinct
        (6, "汉字 テスト 🙂 éé ‍combining a b"),  # multibyte md5 contract
        (7, " leading"),                     # leading empty word
        (8, None),                           # NULL text -> sh=[NULL], hh=[NULL]
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expr = _shingled_rows(spark, monkeypatch, "0", docs)
    arrow = _shingled_rows(spark, monkeypatch, "1", docs)
    assert expr == arrow
    # the NULL-text contract itself (ADVICE r12: the Arrow pass used to
    # raise AttributeError where the expression plan yielded [NULL]s)
    null_row = [r for r in expr if r[0] == 8][0]
    assert null_row == (8, (None,), (None,))


def test_arrow_shingles_feed_identical_pairs(spark, monkeypatch):
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    monkeypatch.setenv("SPARK_GRAFT_SHINGLE_ARROW", "1")
    arrow_pairs = sorted(tuple(r) for r in dedup.minhash_pairs(corpus).collect())
    monkeypatch.setenv("SPARK_GRAFT_SHINGLE_ARROW", "0")
    expr_pairs = sorted(tuple(r) for r in dedup.minhash_pairs(corpus).collect())
    assert arrow_pairs == expr_pairs and len(arrow_pairs) > 0


def test_hh_verify_pairs_equal_sh_verify(spark):
    """Round 12 (VERDICT r11 item 4): the hashed-array exact-Jaccard
    verify — the funnel's scale dial, 13.6 s vs 46.7 s over 19.1 M sf100
    candidates — must produce the SAME pair set as the string contract
    (divergence needs an md5-60-bit collision between two distinct
    shingles of one compared pair). BENCH_SCALE_r12 stages100 asserts the
    identity at the decade; this pins it on the oracle corpus."""
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    sh = sorted(tuple(r) for r in dedup.minhash_pairs(corpus, verify="sh").collect())
    hh = sorted(tuple(r) for r in dedup.minhash_pairs(corpus, verify="hh").collect())
    assert sh == hh and len(sh) > 0


def test_hh_verify_verdicts_equal_sh_verify(spark):
    """incremental_verdicts under verify='hh' (the streaming ingest
    screen's mode) matches the string contract on the planted
    incremental fixture — verdicts, matched refs, and jaccard values."""
    from wnba_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    sh = sorted(
        tuple(r) for r in dedup.incremental_verdicts(batch, ref, verify="sh").collect()
    )
    hh = sorted(
        tuple(r) for r in dedup.incremental_verdicts(batch, ref, verify="hh").collect()
    )
    assert sh == hh and len(sh) > 0


def test_verify_dial_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="verify"):
        dedup.minhash_pairs(None, verify="bogus")
    with _pytest.raises(ValueError, match="verify"):
        dedup.incremental_verdicts(None, None, verify="nope")
    # the signature index stores hh only: sh verify against it must refuse
    with _pytest.raises(ValueError, match="hh"):
        dedup.incremental_verdicts(None, None, ref_index={}, verify="sh")


def test_forced_slicing_keeps_pairs(spark):
    """Slicing every multi-row bucket into pair groups (hot_bucket_min 2
    and 3) must emit exactly the unsliced pairs on the oracle corpus: each
    candidate pair is owned by exactly one (band, group)."""
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    shingled = dedup.shingle_docs(corpus)

    def pairs(**kw):
        return sorted(tuple(r) for r in dedup.minhash_pairs(corpus, shingled=shingled, **kw).collect())

    base = pairs()
    assert len(base) > 0
    for hot in (2, 3):
        assert pairs(hot_bucket_min=hot) == base, f"hot_bucket_min={hot}"
    with pytest.raises(ValueError, match="hot_bucket_min"):
        dedup.minhash_pairs(corpus, hot_bucket_min=0)


def test_hh_only_shingled_with_sh_verify_raises(spark):
    """A caller-supplied hh_only shingled frame with the default
    verify='sh' must get a descriptive ValueError, not an unresolved-
    column analysis error from deep inside the verify join (ADVICE r12)."""
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    shingled = dedup.shingle_docs(corpus, hh_only=True)
    with pytest.raises(ValueError, match="no 'sh' column"):
        dedup.minhash_pairs(corpus, shingled=shingled)  # default verify="sh"


def test_hh_only_matches_full_shingles(spark, monkeypatch):
    """shingle_docs(hh_only=True) must emit exactly the (doc_id, hh)
    projection of the full output — in BOTH physical arms (it changes
    what crosses the Arrow boundary / what a cache holds, never
    values)."""
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    for flag in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_SHINGLE_ARROW", flag)
        full = sorted(
            (r["doc_id"], tuple(r["hh"]))
            for r in dedup.shingle_docs(corpus).select("doc_id", "hh").collect()
        )
        hh = sorted(
            (r["doc_id"], tuple(r["hh"]))
            for r in dedup.shingle_docs(corpus, hh_only=True).collect()
        )
        assert full == hh and len(full) > 0
        assert dedup.shingle_docs(corpus, hh_only=True).columns == ["doc_id", "hh"]
