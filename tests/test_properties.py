"""Property-based pandas-semantics tests (SURVEY §5.2, hypothesis): the two
genuinely tricky emulations — avg-rank ties (G1) and min_periods=1 rolling
frames (E1) — checked directly against pandas on arbitrary generated data,
not just the driver's tables."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from wnba_data_pipeline_spark.functions.windows import avg_rank, rolling_avg

# small int pools force ties and repeated keys — the interesting cases
_vals = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 9), st.integers(0, 5)),
    min_size=1,
    max_size=40,
)

_SETTINGS = settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@given(rows=_vals)
@_SETTINGS
def test_avg_rank_matches_pandas(sp, rows):
    pdf = pd.DataFrame(rows, columns=["g", "x", "i"])
    pdf["i"] = range(len(pdf))  # unique row id
    want = pdf.groupby("g")["x"].rank(ascending=False, method="average")
    df = sp.createDataFrame(pdf)
    got = (
        df.select("i", avg_rank("x", partition_by=["g"]).cast("double").alias("r"))
        .toPandas()
        .set_index("i")["r"]
    )
    for i in pdf["i"]:
        assert got[i] == pytest.approx(want[pdf.index[pdf["i"] == i][0]])


_text = st.text(alphabet="abcdefgh ", min_size=0, max_size=30)
# shared substring at least k + w - 1 = 11 chars: the winnowing guarantee's
# minimum detectable match length
_shared = st.text(alphabet="abcdefgh ", min_size=11, max_size=24)


@given(a=_text, b=_text, c=_text, d=_text, shared=_shared)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnowing_coverage_guarantee(sp, a, b, c, d, shared):
    """The MOSS coverage property, on arbitrary strings: two documents
    sharing ANY substring of length ≥ k+w-1 must share a fingerprint —
    a window of w consecutive gram positions fits inside the shared span,
    and both documents select the same minimum from it."""
    from wnba_data_pipeline_spark.operators.text import winnow_fingerprints

    docs = sp.createDataFrame(
        [(1, a + shared + b), (2, c + shared + d)], "doc_id long, text string"
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in winnow_fingerprints(docs).collect()}
    assert set(fps) == {1, 2}
    assert fps[1] & fps[2], (a, shared, b, c, d)


@given(rows=_vals, n=st.integers(2, 6))
@_SETTINGS
def test_rolling_avg_matches_pandas(sp, rows, n):
    pdf = pd.DataFrame(rows, columns=["g", "x", "_"]).drop(columns="_")
    pdf["i"] = range(len(pdf))
    want = (
        pdf.sort_values(["g", "i"])
        .groupby("g")["x"]
        .rolling(n, min_periods=1)
        .mean()
        .reset_index(level=0, drop=True)
    )
    df = sp.createDataFrame(pdf)
    w = Window.partitionBy("g").orderBy("i")
    got = (
        df.select("i", rolling_avg(F.col("x").cast("double"), w, n).alias("r"))
        .toPandas()
        .set_index("i")["r"]
    )
    for idx, i in zip(pdf.index, pdf["i"]):
        assert got[i] == pytest.approx(want[idx])


_md5_edges = ["", "km:0", "kms:-17", "pq3:-9223372036854775808", "é", "日本語テキスト", "emoji 🏀", "a  b", "x" * 10_000]


_md5_text = st.text(
    st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"), max_size=64
)


@given(extra=st.lists(_md5_text, max_size=20))
@_SETTINGS
def test_md5_long_python_spark_duckdb_agree(sp, extra):
    """The md5 → 60-bit rank is one value in Python (``md5_long_py``, the
    fit's seed ranks; ``md5_long_bytes`` over the UTF-8 bytes and the
    memoized ``md5_long_memo``, the Arrow gram passes), Spark
    (``md5_long``) and DuckDB (``md5_long_sql``): empty, multibyte,
    negative-id and long strings included."""
    import duckdb

    from wnba_data_pipeline_spark.functions.hashing import (
        md5_long,
        md5_long_bytes,
        md5_long_memo,
        md5_long_py,
        md5_long_sql,
    )

    strings = _md5_edges + extra
    rows = list(enumerate(strings))
    spark_h = dict(
        sp.createDataFrame(rows, "i int, s string").select("i", md5_long("s").alias("h")).collect()
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(strings)), "s": strings}))
    duck_h = dict(con.sql(f"SELECT i, {md5_long_sql('s')} AS h FROM t").fetchall())
    con.close()
    py_h = {i: md5_long_py(s) for i, s in rows}
    assert py_h == spark_h == duck_h
    assert {i: md5_long_bytes(s.encode()) for i, s in rows} == py_h
    # both key types, each called twice: the second call is a cache hit
    memo = md5_long_memo()
    for _ in range(2):
        assert {i: memo(s) for i, s in rows} == py_h
        assert {i: memo(s.encode()) for i, s in rows} == py_h
