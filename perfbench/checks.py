"""Output checks against references computed without Spark.

Every check returns ``None`` when the output is right and a one-line
description of the first difference otherwise. Spark outputs are read back
with DuckDB straight from the files the operation wrote, and compared the
way ``tests/oracle_compare.normalize`` compares (order-insensitive, floats
to 6 places).
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from tests.oracle_compare import _norm_cell

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_for(data_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def fast_normalize(df: pd.DataFrame) -> list[tuple]:
    """``normalize`` without building a Series per row: iterating
    ``DataFrame.values`` yields the same cells ``iterrows`` does (one common
    dtype per row), so the result is identical; the self-test asserts it."""
    df = df.rename(columns=str.lower)
    cols = sorted(df.columns)
    return sorted(tuple(_norm_cell(v) for v in row) for row in df[cols].values)


def expect(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """A reference frame in the form ``compare`` takes."""
    return sorted(map(str.lower, df.columns)), fast_normalize(df)


def compare(got: pd.DataFrame, want: tuple[list[str], list[tuple]]) -> str | None:
    cols, rows = want
    got_cols = sorted(map(str.lower, got.columns))
    if got_cols != cols:
        return f"columns {got_cols} != {cols}"
    if len(got) != len(rows):
        return f"{len(got)} rows != {len(rows)}"
    got_rows = fast_normalize(got)
    if got_rows != rows:
        diff = next((a, b) for a, b in zip(got_rows, rows) if a != b)
        return f"value mismatch, first: got {diff[0]} want {diff[1]}"
    return None


def identical(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same columns, rows, order and values (array cells included)."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        return bool(a.equals(b))
    except (TypeError, ValueError):  # cells that do not compare as scalars
        return False


# -- medallion ---------------------------------------------------------------

# Both engines round to 6 places after summing in different orders, so a
# mean that lands on a rounding boundary can differ by one unit in the last
# place between them.
ROUND_TOL = 1.5e-6


def compare_close(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Like ``compare``, but float columns match within ``ROUND_TOL``."""
    got, want = got.rename(columns=str.lower), want.rename(columns=str.lower)
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    keys = [c for c in want.columns if not pd.api.types.is_float_dtype(want[c])]
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        if pd.api.types.is_float_dtype(want[c]):
            ok = np.isclose(got[c].astype(float), want[c], rtol=0, atol=ROUND_TOL, equal_nan=True)
        else:
            ok = fast_normalize(got[[c]]) == fast_normalize(want[[c]])
        if not np.all(ok):
            return f"column {c} differs"
    return None


def _parquet(path: Path, partitioned: bool = False) -> str:
    glob = "*/*.parquet" if partitioned else "*.parquet"
    return f"read_parquet('{path}/{glob}', hive_partitioning={str(partitioned).lower()})"


def medallion_expected(data_dir: Path, as_of: str) -> dict:
    """Recompute the checked marts from the raw inputs in DuckDB."""
    with duck_for(data_dir) as con:
        return _medallion_expected(con, as_of)


def _medallion_expected(con: duckdb.DuckDBPyConnection, as_of: str) -> dict:
    con.execute(f"""
        CREATE TEMP TABLE stats AS
        WITH s AS (
            SELECT l_suppkey,
                   count(DISTINCT l_orderkey) AS games,
                   count(*) AS n_lines,
                   round(sum(l_quantity), 6) AS qty_sum,
                   round(avg(l_quantity), 6) AS qty_mean,
                   round(avg(l_extendedprice), 6) AS price_mean,
                   round(avg(l_discount), 6) AS disc_mean
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT *, round(qty_sum / games, 6) AS qty_per_game,
               TIMESTAMP '{as_of}' AS last_updated
        FROM s""")
    marts = {
        "analytics/supplier_stats": "SELECT * FROM stats",
        "ml_features/supplier_features": f"""
            SELECT l_suppkey, games, qty_mean, price_mean, disc_mean,
                   round(qty_mean * 0.4 + games * 0.3 + (1 - disc_mean) * 0.3, 6) AS efficiency_score,
                   round(qty_per_game / (disc_mean + 0.01), 6) AS usage_efficiency,
                   TIMESTAMP '{as_of}' AS feature_date
            FROM stats""",
        "dashboard/top_suppliers": "SELECT * FROM stats ORDER BY qty_sum DESC, l_suppkey LIMIT 10",
        "dashboard/league_stats": f"""
            SELECT count(*) AS n_suppliers,
                   round(avg(qty_mean), 6) AS league_qty_mean,
                   round(avg(price_mean), 6) AS league_price_mean,
                   '{as_of}' AS as_of
            FROM stats""",
        "dashboard/kpi_summary": f"""
            SELECT '{{"n_suppliers":' || (SELECT count(*) FROM stats)
                   || ',"total_qty":' || printf('%.2f', (SELECT sum(qty_sum) FROM stats))
                   || ',"leader":' || (SELECT l_suppkey FROM stats ORDER BY qty_sum DESC, l_suppkey LIMIT 1)
                   || ',"as_of":"{as_of}"}}' AS kpi_data""",
    }
    out = {name: con.execute(sql).df() for name, sql in marts.items()}
    out["raw_rows"] = {
        "raw/lineitem_box": con.execute("SELECT count(*) FROM lineitem").fetchone()[0],
        "raw/orders_box": con.execute("SELECT count(*) FROM orders").fetchone()[0],
    }
    return out


def medallion(base: Path, expected: dict) -> str | None:
    con = duckdb.connect()
    try:
        for table, n_want in expected["raw_rows"].items():
            n = con.execute(f"SELECT count(*) FROM {_parquet(base / table, True)}").fetchone()[0]
            if n != n_want:
                return f"{table}: {n} rows != {n_want}"
        for table, want in expected.items():
            if table == "raw_rows":
                continue
            err = compare_close(con.execute(f"SELECT * FROM {_parquet(base / table)}").df(), want)
            if err:
                return f"{table}: {err}"
        for name in ("top_suppliers", "supplier_ranks", "league_stats", "kpi_summary"):
            parts = sorted((base / "exports" / name).glob("part-*"))
            n_json = sum(1 for p in parts for line in p.read_text().splitlines() if line.strip())
            n_table = con.execute(
                f"SELECT count(*) FROM {_parquet(base / 'dashboard' / name)}"
            ).fetchone()[0]
            if len(parts) != 1 or n_json != n_table:
                return f"exports/{name}: {len(parts)} files, {n_json} records != {n_table}"
    finally:
        con.close()
    return None


# -- registry ----------------------------------------------------------------

def registry_expected(con: duckdb.DuckDBPyConnection, names, oracles: dict) -> dict:
    return {name: expect(con.execute(oracles[name]).df()) for name in names}


def registry(name: str, got: pd.DataFrame, expected: dict) -> str | None:
    return compare(got, expected[name])


# -- curation ----------------------------------------------------------------

# The funnel report (stage, n_docs, n_tokens) of run_curation with the
# default MinHash near-dedup, pinned per input set from the unoptimized
# code. Stage gates are hash-derived, so these are exact.
FUNNEL = {
    "sf0.001": [
        ("corpus", 500, 27939),
        ("quality_kept", 500, 27939),
        ("sampled", 275, 15371),
        ("deduped", 275, 15371),
        ("near_deduped", 267, 14826),
        ("packed", 267, 14826),
    ],
    "sf0.01": [
        ("corpus", 500, 27165),
        ("quality_kept", 500, 27165),
        ("sampled", 293, 16177),
        ("deduped", 293, 16177),
        ("near_deduped", 281, 15516),
        ("packed", 281, 15516),
    ],
}


def funnel(base: Path) -> list[tuple]:
    """The funnel report the last run_curation wrote, in funnel order."""
    con = duckdb.connect()
    try:
        return [tuple(r) for r in con.execute(
            f"SELECT stage, n_docs, n_tokens FROM {_parquet(base / 'curation' / 'funnel_report')} "
            "ORDER BY stage_idx"
        ).fetchall()]
    finally:
        con.close()


def curation(base: Path, data_name: str) -> str | None:
    got, want = funnel(base), FUNNEL[data_name]
    if got != want:
        return f"funnel {got} != {want}"
    return None
