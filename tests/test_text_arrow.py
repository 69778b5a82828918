"""Edge-row oracle tests for the text-family Arrow passes: each pass runs
over planted edge rows (NULL/empty/short/multibyte texts, repeated grams,
double spaces) coalesced into ONE Arrow batch and must return exactly the
rows of its DuckDB twin — the places where split/md5/distinct semantics
could diverge between Python and SQL. Whole-table parity of the registry
queries built on these passes is tests/test_oracle_parity.py's."""

from __future__ import annotations

from pyspark.sql import functions as F

from wnba_data_pipeline_spark.operators import spans, text

from .duck_twins import EDGE_DOCS, duck_docs, rows, word_grams_sql


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _edge_frame(spark, docs=EDGE_DOCS):
    return spark.createDataFrame(docs, "doc_id long, text string").coalesce(1)


def test_word_gram_rows_edge_texts(spark):
    docs = _edge_frame(spark)
    con = duck_docs(EDGE_DOCS)
    n = text.CONTAM_NGRAM
    grams = word_grams_sql(n)
    want = rows(con, f"SELECT doc_id, gh FROM ({grams})")
    assert _rows(text.word_gram_hash_rows(docs, n_words=n)) == want
    want_distinct = rows(con, f"SELECT DISTINCT doc_id, gh FROM ({grams})")
    assert _rows(text.word_gram_hash_rows(docs, n_words=n, distinct=True)) == want_distinct
    # doc 4 holds exactly n words → one gram; doc 5's 8 grams collapse to 2
    assert sum(1 for d, _ in want if d == 4) == 1
    assert sum(1 for d, _ in want_distinct if d == 5) == 2
    assert {d for d, _ in want} == {4, 5, 6, 7, 8}


def test_word_gram_rows_positions(spark):
    docs = _edge_frame(spark)
    con = duck_docs(EDGE_DOCS)
    w = spans.SPAN_W
    want = rows(con, word_grams_sql(w))
    assert _rows(text.word_gram_hash_rows(docs, n_words=w, with_pos=True)) == want
    assert len(want) > 0


def test_bigram_partial_counts_sum_to_exact(spark):
    docs = _edge_frame(spark)
    con = duck_docs(EDGE_DOCS)
    # the heavy-hitter twin's bigram stream, every count kept
    exact = text.ORACLE_HEAVY_HITTERS_CMS.replace(f">= {text.HH_MIN_COUNT}", ">= 1")
    partial = _rows(
        text.bigram_count_rows(docs).groupBy("bigram").agg(F.sum("n").cast("long"))
    )
    assert partial == rows(con, exact)
    assert ("x y", 6) in partial and ("a ", 1) in partial  # repeats; empty token


def test_winnow_stats_edge_texts(spark):
    # char-gram path: add texts around the length threshold k+w-1=11
    docs = EDGE_DOCS + [
        (9, "0123456789"),  # 10 chars → below threshold, emits nothing
        (10, "0123456789a"),  # exactly 11 → 4 grams, 1 window
        (11, "ääkkösiä ovat tässä pitkässä tekstissä mukana"),  # multibyte chars
    ]
    got = _rows(
        text._winnow_stats_rows(_edge_frame(spark, docs), k=text.SHINGLE_CHARS, w=text.WINNOW_WINDOW)
    )
    want = rows(
        duck_docs(docs),
        "SELECT doc_id, n_grams, n_windows, n_fingerprints, fp_min, fp_max "
        f"FROM ({text.ORACLE_DOC_WINNOW})",
    )
    assert got == want
    assert any(r[0] == 10 for r in got) and not any(r[0] == 9 for r in got)
    assert any(r[0] == 11 for r in got)


def test_dup_gram_hits_edge_texts(spark):
    # two docs sharing an 8-gram + one unique doc + edge rows
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    docs = [
        (1, None),
        (2, "a b c"),
        (3, f"intro {shared} outro"),
        (4, f"{shared} tail words here now"),
        (5, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        (6, "päivää ääkkösiä ü ü ü ü ü ü ü ü ü"),
    ]
    got = _rows(spans.dup_gram_hits(_edge_frame(spark, docs)))
    want = rows(
        duck_docs(docs),
        f"""
WITH g AS ({word_grams_sql(spans.SPAN_W)}),
dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g) GROUP BY gh HAVING count(*) > 1)
SELECT doc_id, pos, gh FROM g JOIN dup USING (gh)
""",
    )
    assert got == want
    assert {r[0] for r in got} == {3, 4}
