"""The Arrow shingle and signature passes against their DuckDB twins
(``_SHINGLES_SQL``, ``_sig_sql``, ``_minhash_band_keys_sql``): band keys
at both geometries on the oracle corpus, multibyte texts (CJK/emoji
shingles cross the md5 contract too), and edge rows — NULL texts share
one Arrow batch with real docs, the case where pyarrow would deliver the
whole batch's hashes as float64."""

from __future__ import annotations

import pandas as pd
import pytest

from wnba_data_pipeline_spark.functions.hashing import md5_long_sql, minhash_coeffs
from wnba_data_pipeline_spark.operators import dedup

from .conftest import SF_ORACLE
from .duck_twins import EDGE_DOCS, band_keys_sql, duck_docs, duck_frame, rows, shingles_sql
from .oracle_compare import compare

NULL_KEYS = {str(t) for t in range(dedup.N_BANDS)}  # concat_ws skips the NULL mins


def _spark_docs(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def _band_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck_band_rows(docs, coeffs=None, band_rows=None):
    return rows(duck_docs(docs), band_keys_sql(shingles_sql(), coeffs, band_rows))


def _doc_rows(docs):
    return [tuple(r) for r in docs.select("doc_id", "text").collect()]


@pytest.mark.parametrize(
    "geom",
    [None, dedup.GEOMETRY_LARGE_N],
    ids=["default_16x4", "large_n_48x8"],
)
def test_arrow_signatures_equal_expression(spark, geom):
    """Band keys of the planted near-dup corpus equal the DuckDB SQL
    expression of the signature at both geometries."""
    if geom is None:
        coeffs, band_rows = None, None
    else:
        k, band_rows = geom
        coeffs = minhash_coeffs(k)
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    got = _band_rows(
        dedup.banded_keys(dedup.shingle_docs(corpus), coeffs=coeffs, band_rows=band_rows)
    )
    assert got == _duck_band_rows(_doc_rows(corpus), coeffs, band_rows)
    assert len(got) > 0


def test_arrow_pairs_equal_expression_sharp_geometry(spark, duck):
    """Near-dup pairs at the sharp GEOMETRY_LARGE_N equal the DuckDB twin
    rendered at that geometry (the registry row checks the default one)."""
    k, band_rows = dedup.GEOMETRY_LARGE_N
    coeffs = minhash_coeffs(k)
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    want = duck.sql(dedup._oracle_dedup_minhash(coeffs, band_rows)).df()
    compare(
        dedup.minhash_pairs(corpus, coeffs=coeffs, band_rows=band_rows),
        want,
        "dedup_minhash_large_n",
    )
    assert len(want) > 0  # the planted near-copies are found


def test_arrow_signatures_multibyte(spark):
    docs = [
        (1, "汉字 テスト 🙂🙂 汉字 テスト éé 汉字 テスト end"),
        (2, "á b́ ć d e f 🙂‍🙂 g h"),
        (3, "one two"),  # < 3 words -> whole-text shingle fallback
    ]
    got = _band_rows(dedup.banded_keys(dedup.shingle_docs(_spark_docs(spark, docs))))
    assert got == _duck_band_rows(docs)


def test_arrow_signatures_null_and_edge_texts(spark):
    """A NULL text shingles to hh=[NULL], so every band key degrades to the
    bare 't' prefix; every other doc's keys equal the DuckDB twin's —
    incl. empty and whitespace-only texts (whole-text shingle fallback).

    The frame is COALESCED TO ONE PARTITION so the NULL rows share an
    Arrow batch with the real docs: an element-level null anywhere in a
    batch makes pyarrow deliver the whole batch's list values as float64,
    silently corrupting the sibling rows' 60-bit hashes in the int64 cast
    unless ``_with_band_keys`` collapses the null-containing array to a
    list-level NULL first."""
    docs = EDGE_DOCS + [(9, "   "), (10, "alpha beta gamma delta alpha beta"), (11, None)]
    shingled = dedup.shingle_docs(_spark_docs(spark, docs)).coalesce(1)
    got = _band_rows(dedup.banded_keys(shingled))
    null_ids = {d for d, t in docs if t is None}
    assert {k for d, k in got if d in null_ids} == NULL_KEYS
    real = [r for r in got if r[0] not in null_ids]
    assert real == _duck_band_rows([r for r in docs if r[0] not in null_ids])
    # every non-NULL doc emits N_BANDS fully-formed keys
    for d in {r[0] for r in real}:
        keys = [k for dd, k in real if dd == d]
        assert len(keys) == dedup.N_BANDS
        assert all(k.count(":") == dedup.BAND_ROWS for k in keys)


def test_arrow_signatures_whole_null_sh_fallback(spark):
    """A frame WITHOUT a materialized ``hh`` whose ``sh`` is a NULL array
    reaches the computed-hh fallback (``transform(NULL, md5_long)`` is
    NULL): it must get the degraded all-NULL keys, and the real docs the
    DuckDB twin's keys. One partition so the NULL row shares the real
    docs' Arrow batch."""
    docs = [
        (1, None),
        (2, ["alpha beta gamma", "beta gamma delta"]),
        (3, ["solo shingle"]),
    ]
    shingled = spark.createDataFrame(docs, "doc_id long, sh array<string>").coalesce(1)
    got = _band_rows(dedup.banded_keys(shingled))
    assert {k for d, k in got if d == 1} == NULL_KEYS
    con = duck_docs([])
    duck_frame(con, "sh_docs", pd.DataFrame({"doc_id": [2, 3], "sh": [docs[1][1], docs[2][1]]}))
    hashed = f"SELECT doc_id, list_transform(sh, s -> {md5_long_sql('s')}) AS hh FROM sh_docs"
    assert [r for r in got if r[0] != 1] == rows(con, band_keys_sql(hashed))


def _shingled_rows(df):
    return sorted(
        (r["doc_id"], tuple(sorted(r["sh"])), tuple(sorted(r["hh"])))
        for r in df.collect()
    )


def _duck_shingled_rows(docs):
    return sorted(
        (d, tuple(sorted(sh)), tuple(sorted(hh)))
        for d, sh, hh in duck_docs(docs).execute(shingles_sql()).fetchall()
    )


def test_arrow_shingles_equal_expression_on_corpus(spark):
    """Shingle and hash arrays of the planted near-dup corpus equal the
    DuckDB SQL expression (``_SHINGLES_SQL`` + ``md5_long_sql``); arrays
    compare as sets, the order ``list_distinct`` leaves is unspecified."""
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
    got = _shingled_rows(dedup.shingle_docs(corpus))
    assert got == _duck_shingled_rows(_doc_rows(corpus))
    assert len(got) > 0


def test_arrow_shingles_edge_rows(spark):
    docs = [
        (1, "one two"),                      # <3 words -> whole-text fallback
        (2, ""),                             # empty text -> [""] fallback
        (3, "a  b c"),                       # double space -> empty word kept
        (4, "trailing space "),              # trailing empty word kept
        (5, "a b c a b c a b c"),            # repeated trigrams -> distinct
        (6, "汉字 テスト 🙂 éé ‍combining a b"),  # multibyte md5 contract
        (7, " leading"),                     # leading empty word
        (8, None),                           # NULL text -> sh=[NULL], hh=[NULL]
    ]
    out = dedup.shingle_docs(_spark_docs(spark, docs).coalesce(1)).collect()
    null_row = [r for r in out if r["doc_id"] == 8][0]
    assert (null_row["sh"], null_row["hh"]) == ([None], [None])
    got = _shingled_rows(dedup.shingle_docs(_spark_docs(spark, docs[:-1])))
    assert got == _duck_shingled_rows(docs[:-1])
    # first-occurrence order, distinct
    assert [r["sh"] for r in out if r["doc_id"] == 5] == [["a b c", "b c a", "c a b"]]


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


def test_verify_dial_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="verify"):
        dedup.minhash_pairs(None, verify="bogus")


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


def test_hh_only_matches_full_shingles(spark):
    """shingle_docs(hh_only=True) must emit exactly the (doc_id, hh)
    projection of the full output (it changes what crosses the Arrow
    boundary / what a cache holds, never values)."""
    corpus = dedup.near_dup_corpus(spark, SF_ORACLE)
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
