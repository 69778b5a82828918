"""DuckDB twins of the Arrow passes, run over small in-memory frames: the
reference the edge-row tests compare the Spark rows against."""

from __future__ import annotations

import duckdb
import pandas as pd

from wnba_data_pipeline_spark.functions.hashing import md5_long_sql
from wnba_data_pipeline_spark.operators import dedup

# NULL, empty, one word, exactly CONTAM_NGRAM words, repeated grams,
# multibyte tokens, double spaces, and a plain long doc
EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "one"),
    (4, "a b c d e"),  # exactly CONTAM_NGRAM words → one 5-gram
    (5, "x y x y x y x y x y x y"),  # repeated grams → distinct collapses
    (6, "päivää ääkkösiä ü ü ü ü ü ü ü ü ü"),  # multibyte tokens
    (7, "a  b   c d e f g h i"),  # double spaces → empty tokens kept
    (8, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
]


def duck_docs(rows) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with ``rows`` as its (doc_id, text) ``documents``."""
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    if rows:
        con.executemany("INSERT INTO documents VALUES (?, ?)", [tuple(r) for r in rows])
    return con


def duck_frame(con, name: str, pdf: pd.DataFrame) -> None:
    """Register a pandas frame as table ``name``."""
    con.register(f"_{name}_src", pdf)
    con.execute(f"CREATE TABLE {name} AS SELECT * FROM _{name}_src")


def shingles_sql() -> str:
    """(doc_id, sh, hh) per document — the twin of ``dedup.shingle_docs``."""
    return f"""
WITH tok AS (
  SELECT doc_id, text, string_split(text, ' ') AS words FROM documents
), shingled AS (
  SELECT doc_id, {dedup._SHINGLES_SQL} AS sh FROM tok
)
SELECT doc_id, sh, list_transform(sh, s -> {md5_long_sql("s")}) AS hh FROM shingled
"""


def band_keys_sql(hashed: str, coeffs=None, band_rows: int | None = None) -> str:
    """(doc_id, band_key) — the twin of ``dedup.banded_keys`` over a
    relation ``hashed`` with columns (doc_id, hh)."""
    coeffs = dedup.COEFFS if coeffs is None else coeffs
    band_rows = dedup.BAND_ROWS if band_rows is None else band_rows
    n_bands = len(coeffs) // band_rows
    return f"""
WITH sigs AS (SELECT doc_id, {dedup._sig_sql(coeffs)} AS sig FROM ({hashed}))
SELECT doc_id, unnest({dedup._minhash_band_keys_sql(n_bands, band_rows)}) AS band_key FROM sigs
"""


def word_grams_sql(n: int) -> str:
    """(doc_id, pos, gh) per word n-gram — the gram lists of the
    contamination and span oracles."""
    gram = " || ' ' || ".join(f"words[i+{k + 1}]" for k in range(n))
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
SELECT doc_id, u['pos'] AS pos, u['gh'] AS gh FROM (
  SELECT doc_id, unnest(list_transform(range(len(words) - {n - 1}),
                        i -> struct_pack(pos := i, gh := {md5_long_sql(f"({gram})")}))) AS u
  FROM tok WHERE len(words) >= {n})
"""


def rows(con, sql: str) -> list[tuple]:
    return sorted(tuple(r) for r in con.execute(sql).fetchall())
