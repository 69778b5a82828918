"""Quality-check suite as a first-class operator: the reference's quality
DAG (``data_quality_checks.py`` — freshness :38-64, completeness :92-131,
null rates :162-198, 3σ outliers :200-236, consistency :238-270, report
assembly :280-334) folded into ONE structured report query.

The reference runs 8 separate SQL probes in separate task processes and
assembles a Python dict; here every probe is a column over at most two
scans (lineitem + orders), unioned into a (check_name, status, value,
threshold) report frame — the shape a 100 TB data-health dashboard reads.
Determinism (G5): the moving ``utcnow()`` freshness anchor is an injected
as-of literal, like the layer jobs.

Oracle-checkable end to end: every check value and PASS/FAIL status is
plain SQL over the same tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

AS_OF_DATE = "2001-09-01"  # freshness anchor (G5: injected, not utcnow)
FRESHNESS_MAX_DAYS = 92
NULL_RATE_MAX = 0.01
MIN_ROWS = 1000
OUTLIER_SIGMA = 3.0
EXPECTED_FLAGS = 3  # distinct l_returnflag values (consistency D13)


def _check(name, value, passed):
    return F.struct(
        F.lit(name).alias("check_name"),
        value.cast("double").alias("value"),
        F.when(passed, F.lit("PASS")).otherwise(F.lit("FAIL")).alias("status"),
    )


# Lineitem rows at which the completeness/freshness checks move to the
# parquet footers: lineitem's rows at sf0.5, the shape's flip point since
# it was measured faster than the scan at sf10 (60 M rows; BENCH_SCALE_r07
# round7_changes_measured).
FOOTER_STATS_MIN_ROWS = 3_000_000


def _use_footer_stats(spark: SparkSession, sf_dir: str) -> bool:
    """True when lineitem has at least ``FOOTER_STATS_MIN_ROWS`` rows, read
    exactly from its footers. Then the checks the footers answer exactly
    (row counts, null counts, min/max — exact per the parquet spec, not
    estimates) come from the O(files) metadata probe instead of the
    fact-table scan, and the remaining scan reads only the columns the
    footers cannot answer (avg/stddev/distinct). Rows are identical in
    both shapes (tests/test_stats_probe.py)."""
    rows = footer_rowcount_value(spark, os.path.join(sf_dir, "lineitem.parquet"))
    return rows is None or rows >= FOOTER_STATS_MIN_ROWS


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per quality check, computed in a single pass per table and
    exploded from one aggregate row — the reference's 8 sequential probes
    become 2 scans and zero driver-side logic. On a large lineitem
    (``_use_footer_stats``) the footer-answerable checks move to the
    metadata probe: the orders scan disappears entirely and the lineitem
    scan narrows to the two columns needing data pages."""
    li = load_table(spark, sf_dir, "lineitem")

    row = None
    if _use_footer_stats(spark, sf_dir):
        # Footer shape, with an explicit fallback: parquet
        # files may legally lack column statistics (write_statistics=False)
        # or carry zero row groups — the strict metadata path raises
        # ValueError on them, and the query falls back to the scan shape
        # rather than hard-failing on valid data. The strict error stays on
        # the explicit probe entry points (parquet_stats_probe).
        try:
            li_agg = li.agg(
                F.avg("l_extendedprice").alias("price_avg"),
                F.stddev_samp("l_extendedprice").alias("price_std"),
                F.count_distinct("l_returnflag").alias("n_flags"),
            )
            li_path = os.path.join(sf_dir, "lineitem.parquet")
            o_path = os.path.join(sf_dir, "orders.parquet")
            vals = footer_stats_row(spark, li_path)
            o_rows = footer_rowcount_value(spark, o_path)
            # each table picks its driver-literal vs distributed path
            # INDEPENDENTLY (round-8 review fix: a mixed threshold case —
            # small lineitem, over-threshold orders — used to discard the
            # already-computed lineitem footer aggregate and re-read every
            # lineitem footer through the distributed probe)
            if vals is not None:
                # driver-path probe: the footer stats become plan LITERALS on
                # the single narrowed scan — no extra stage at all (the
                # crossJoin-of-1-row shape costs two broadcast rounds per
                # execution, measured slower than the scan it saves at sf10)
                row = li_agg.select(
                    F.lit(vals["n_rows"]).alias("n_rows"),
                    F.lit(vals["null_qty"]).alias("null_qty"),
                    F.lit(vals["price_max"]).alias("price_max"),
                    F.lit(vals["last_ship_date"]).alias("last_ship"),
                    "price_avg",
                    "price_std",
                    "n_flags",
                )
            else:
                # the distributed probe is lazy — sample one footer NOW so a
                # homogeneous statless table falls back at build time
                # (a heterogeneous mix still fails strictly at execution)
                sample_footer_check(spark, li_path)
                meta = parquet_stats_probe(spark, li_path).select(
                    "n_rows", "null_qty", "price_max", F.col("last_ship_date").alias("last_ship")
                )
                row = meta.crossJoin(li_agg)
            if o_rows is not None:
                row = row.withColumn("o_rows", F.lit(o_rows))
            else:
                row = row.crossJoin(
                    parquet_rowcount_probe(spark, o_path).select(F.col("n_rows").alias("o_rows"))
                )
        except ValueError:
            row = None
    if row is None:
        orders = load_table(spark, sf_dir, "orders")
        li_agg = li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
            F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("null_qty"),
            F.avg("l_extendedprice").alias("price_avg"),
            F.stddev_samp("l_extendedprice").alias("price_std"),
            F.max("l_extendedprice").alias("price_max"),
            F.count_distinct("l_returnflag").alias("n_flags"),
        )
        o_agg = orders.agg(F.count(F.lit(1)).alias("o_rows"))
        row = li_agg.crossJoin(o_agg)

    freshness_days = F.datediff(F.lit(AS_OF_DATE).cast("date"), F.col("last_ship"))
    null_rate = F.col("null_qty") / F.col("n_rows")
    outlier_bound = F.col("price_avg") + F.lit(OUTLIER_SIGMA) * F.col("price_std")
    checks = F.array(
        _check("freshness_days", freshness_days, freshness_days <= FRESHNESS_MAX_DAYS),
        _check("lineitem_rows", F.col("n_rows"), F.col("n_rows") >= MIN_ROWS),
        _check("orders_rows", F.col("o_rows"), F.col("o_rows") >= MIN_ROWS),
        _check("null_qty_rate", F.round(null_rate, 6), null_rate <= NULL_RATE_MAX),
        # round-2, not round-6: the bound derives from double avg/stddev whose
        # engine-side merge order differs at ~1e-9 — far below cents precision
        _check("price_max_vs_3sigma", F.round(F.col("price_max") - outlier_bound, 2), F.lit(True)),
        _check("returnflag_cardinality", F.col("n_flags"), F.col("n_flags") == EXPECTED_FLAGS),
    )
    return (
        row.select(F.explode(checks).alias("c"))
        .select("c.check_name", "c.value", "c.status")
    )


ORACLE_QUALITY_REPORT = f"""
WITH li AS (
  SELECT count(*) AS n_rows,
         max(CAST(l_shipdate AS DATE)) AS last_ship,
         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_qty,
         avg(l_extendedprice) AS price_avg,
         stddev_samp(l_extendedprice) AS price_std,
         max(l_extendedprice) AS price_max,
         count(DISTINCT l_returnflag) AS n_flags
  FROM lineitem
), o AS (
  SELECT count(*) AS o_rows FROM orders
), row_ AS (
  SELECT * FROM li CROSS JOIN o
)
SELECT 'freshness_days' AS check_name,
       CAST(date_diff('day', last_ship, DATE '{AS_OF_DATE}') AS DOUBLE) AS value,
       CASE WHEN date_diff('day', last_ship, DATE '{AS_OF_DATE}') <= {FRESHNESS_MAX_DAYS}
            THEN 'PASS' ELSE 'FAIL' END AS status FROM row_
UNION ALL
SELECT 'lineitem_rows', CAST(n_rows AS DOUBLE),
       CASE WHEN n_rows >= {MIN_ROWS} THEN 'PASS' ELSE 'FAIL' END FROM row_
UNION ALL
SELECT 'orders_rows', CAST(o_rows AS DOUBLE),
       CASE WHEN o_rows >= {MIN_ROWS} THEN 'PASS' ELSE 'FAIL' END FROM row_
UNION ALL
SELECT 'null_qty_rate', round(null_qty / n_rows, 6),
       CASE WHEN null_qty / n_rows <= {NULL_RATE_MAX} THEN 'PASS' ELSE 'FAIL' END FROM row_
UNION ALL
SELECT 'price_max_vs_3sigma', round(price_max - (price_avg + {OUTLIER_SIGMA} * price_std), 2),
       'PASS' FROM row_
UNION ALL
SELECT 'returnflag_cardinality', CAST(n_flags AS DOUBLE),
       CASE WHEN n_flags = {EXPECTED_FLAGS} THEN 'PASS' ELSE 'FAIL' END FROM row_
"""


# ---------------------------------------------------------------------------
# Metadata-only probe: completeness/freshness from parquet FOOTERS
# ---------------------------------------------------------------------------

def pa_fs(path: str):
    """(pyarrow FileSystem, fs-relative path) — the Connect-safe fallback
    resolver: local paths go to LocalFileSystem, URIs through
    ``FileSystem.from_uri`` (s3/gcs/hdfs included)."""
    from urllib.parse import urlparse

    from pyarrow import fs as pafs

    u = urlparse(path)
    if u.scheme in ("", "file"):
        return pafs.LocalFileSystem(), (u.path or path)
    return pafs.FileSystem.from_uri(path)


def pa_uri_prefix(path: str, rel: str) -> str:
    """The scheme/authority prefix that ``pa_fs`` stripped from ``path``
    (ADVICE r10): pyarrow FileSelector results are fs-relative (e.g.
    ``bucket/key`` for s3), so handing them straight to
    ``spark.read.parquet`` / the footer probe resolves them against the
    DEFAULT filesystem — wrong or failing on exactly the object-store
    posture the Connect fallbacks exist for. Re-attach ``pa_uri_prefix(
    original, rel) + listed_path`` before crossing back into Spark/URI
    land. Local paths (empty scheme) get an empty prefix — a no-op."""
    p = path.rstrip("/")
    r = rel.rstrip("/")
    if r and p.endswith(r):
        return p[: len(p) - len(r)]
    return ""


def _list_parquet_files(spark: SparkSession, path: str) -> list[str]:
    """Enumerate non-empty parquet files under ``path`` via the Hadoop
    FileSystem API — the listing goes through whatever filesystem the URI
    resolves to (local, HDFS, object store), not driver-local os/glob, so
    the probe's O(files) inventory works wherever the warehouse lives.
    Under Spark Connect (no JVM access — round-10 audit, VERDICT r9
    item 4) the listing falls back to pyarrow's FileSystem, which covers
    the same local/URI surface; the footer reads below were already
    pyarrow, so the whole probe stays Connect-safe."""
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
    except Exception:
        from pyarrow import fs as pafs

        fsys, rel = pa_fs(path)
        info = fsys.get_file_info(rel)
        if info.type == pafs.FileType.NotFound:
            raise ValueError(f"no parquet files under {path}") from None
        if info.type == pafs.FileType.File:
            entries = [info]
        else:
            entries = fsys.get_file_info(pafs.FileSelector(rel, recursive=True))
        # re-prefix the scheme/authority pa_fs stripped (ADVICE r10): the
        # footer probe below re-resolves each path with pa_fs, and a
        # scheme-less 'bucket/key' would be treated as local
        prefix = pa_uri_prefix(path, rel)
        return sorted(
            prefix + e.path
            for e in entries
            if e.type == pafs.FileType.File and e.path.endswith(".parquet") and e.size > 0
        )
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        raise ValueError(f"no parquet files under {path}")
    it = fs.listFiles(jpath, True)  # recursive; a file path yields itself
    paths = []
    while it.hasNext():
        st = it.next()
        f = st.getPath().toString()
        if f.endswith(".parquet") and st.getLen() > 0:
            paths.append(f)
    return sorted(paths)


PROBE_DRIVER_MAX = 256  # ≤ this many files: driver-side footer reads (no
# extra Spark job / Python workers — measured 0.3 s fixed cost at sf10);
# above it the probe distributes via mapInPandas. Read at call time.


def _footer_metadata(path: str):
    """Open ONLY the parquet footer for a possibly-URI path: local/file:
    paths go straight to pyarrow; any other scheme resolves through
    ``pyarrow.fs.FileSystem.from_uri`` (object stores included)."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    u = urlparse(path)
    if u.scheme in ("", "file"):
        return pq.ParquetFile(u.path or path).metadata
    from pyarrow import fs as pafs

    fsys, rel = pafs.FileSystem.from_uri(path)
    with fsys.open_input_file(rel) as f:
        return pq.ParquetFile(f).metadata


def _footer_partials(paths_df_iter):
    """mapInPandas worker: one partial-stats row per parquet file, read
    from the FOOTER only (no data pages touched). Raises on any file whose
    row groups lack the needed statistics — silent fallback would turn a
    metadata probe into a wrong answer; callers fall back to the scan
    probe explicitly."""
    import pandas as pd

    for pdf in paths_df_iter:
        out = []
        for path in pdf["path"]:
            md = _footer_metadata(path)
            if md.num_row_groups == 0:
                raise ValueError(
                    f"{path}: zero row groups (schema-only file); no footer "
                    "statistics to probe — use the scan probe (q_quality_probe)"
                )
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            n_rows, null_qty, null_flag = 0, 0, 0
            pmax, pmin, smax = None, None, None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                n_rows += rg.num_rows

                def _stat(col):
                    s = rg.column(idx[col]).statistics
                    if s is None or not s.has_null_count or not s.has_min_max:
                        raise ValueError(
                            f"{path} row group {g}: column {col} lacks footer "
                            "statistics; use the scan probe (q_quality_probe)"
                        )
                    return s

                null_qty += _stat("l_quantity").null_count
                null_flag += _stat("l_returnflag").null_count
                s = _stat("l_extendedprice")
                pmax = s.max if pmax is None else max(pmax, s.max)
                pmin = s.min if pmin is None else min(pmin, s.min)
                m = _stat("l_shipdate").max
                smax = m if smax is None else max(smax, m)
            out.append(
                (
                    n_rows,
                    null_qty,
                    null_flag,
                    pmax,
                    pmin,
                    int(pd.Timestamp(smax).value // 1_000),  # epoch micros
                )
            )
        yield pd.DataFrame(
            out,
            columns=["n_rows", "null_qty", "null_flag", "price_max", "price_min", "ship_us"],
        )


def parquet_stats_probe(spark: SparkSession, path: str) -> DataFrame:
    """The 100 TB shape of the completeness/freshness subset of
    ``relational.q_quality_probe``: row counts, per-column null counts,
    min/max and max ship date computed from parquet FOOTER statistics —
    cost O(files), not O(rows). A 100 TB health dashboard re-probing every
    table daily cannot afford full scans for checks the footers already
    answer exactly (null_count / min / max / num_rows are exact, not
    estimates, per the parquet spec); the scan probe remains the answer
    for the stats the footer lacks (avg, stddev, distinct).

    Two physical paths by FILE count (round 7 — the sf10 A/B showed the
    distributed path's two extra Python-crossing jobs cost ~0.3 s, more
    than the column-pruning savings at small file counts): at or below
    ``PROBE_DRIVER_MAX`` files the footers are read in the DRIVER (a
    43-file inventory is ~5 ms of metadata; Spark's own scan planner does
    the same driver-side footer pass) and the partials become a literal
    DataFrame; above it the file list is parallelized and each executor
    reads only footers (``mapInPandas`` over paths, one partial row per
    file). Either way a single tiny aggregation merges partials — no data
    page is ever fetched. Differential-tested against the scan probe
    (tests/test_stats_probe.py), including multi-file directories,
    planted nulls, and both physical paths."""
    paths = _list_parquet_files(spark, path)
    if not paths:
        raise ValueError(f"no parquet files under {path}")
    schema = (
        "n_rows long, null_qty long, null_flag long, "
        "price_max double, price_min double, ship_us long"
    )
    if len(paths) <= PROBE_DRIVER_MAX:
        import pandas as pd

        rows = [
            tuple(r)
            for pdf in _footer_partials(iter([pd.DataFrame({"path": paths})]))
            for r in pdf.itertuples(index=False)
        ]
        partials = spark.createDataFrame(rows, schema)
    else:
        partials = spark.createDataFrame(
            [(p,) for p in paths], "path string"
        ).repartition(min(len(paths), 32)).mapInPandas(_footer_partials, schema)
    return partials.agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("null_qty").alias("null_qty"),
        F.sum("null_flag").alias("null_flag"),
        F.max("price_max").alias("price_max"),
        F.min("price_min").alias("price_min"),
        # date_from_unix_date over integer day arithmetic, NOT
        # cast(timestamp_micros(...) as date): the latter routes through an
        # LTZ timestamp and shifts a day on non-UTC sessions, while the
        # driver path (footer_stats_row) and the scan shape are both
        # timezone-independent (round-8 review fix). FLOOR division via
        # pmod (not bare `div`, which truncates toward zero): pre-epoch
        # (negative-microsecond) max timestamps must floor to the previous
        # day exactly like the driver path's datetime arithmetic
        # (round-9 advice fix).
        F.expr(
            "date_from_unix_date(cast((max(ship_us) - pmod(max(ship_us), 86400000000))"
            " div 86400000000 as int))"
        ).alias("last_ship_date"),
    )


def sample_footer_check(spark: SparkSession, path: str) -> None:
    """Plan-time guard for the LAZY distributed probe: read ONE file's
    footer through the same strict partials pass, so a table whose writer
    disabled column statistics (a homogeneous property of the writer
    config) raises ValueError at query-BUILD time — where callers can fall
    back to the scan shape — instead of deep inside a Spark task."""
    import pandas as pd

    paths = _list_parquet_files(spark, path)
    if not paths:
        raise ValueError(f"no parquet files under {path}")
    list(_footer_partials(iter([pd.DataFrame({"path": paths[:1]})])))


def footer_stats_row(spark: SparkSession, path: str) -> dict | None:
    """Driver-path shortcut for the probe's consumers: when the file count
    is at or under ``PROBE_DRIVER_MAX``, return the AGGREGATED footer stats
    as plain Python values so callers can inject them as plan LITERALS —
    zero extra Spark stages (the crossJoin-of-1-row-DataFrames shape costs
    two broadcast-join rounds per execution, measured ~0.14 s at sf10).
    Returns None above the threshold; callers fall back to the distributed
    ``parquet_stats_probe`` DataFrame and a crossJoin."""
    import datetime as _dt

    import pandas as pd

    paths = _list_parquet_files(spark, path)
    if not paths:
        raise ValueError(f"no parquet files under {path}")
    if len(paths) > PROBE_DRIVER_MAX:
        return None
    rows = [
        r
        for pdf in _footer_partials(iter([pd.DataFrame({"path": paths})]))
        for r in pdf.itertuples(index=False)
    ]
    ship_us = max(r.ship_us for r in rows)
    return {
        "n_rows": sum(r.n_rows for r in rows),
        "null_qty": sum(r.null_qty for r in rows),
        "null_flag": sum(r.null_flag for r in rows),
        "price_max": max(r.price_max for r in rows),
        "price_min": min(r.price_min for r in rows),
        "last_ship_date": (
            _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(ship_us))
        ).date(),
    }


def footer_rowcount_value(spark: SparkSession, path: str) -> int | None:
    """Driver-path row count (see ``footer_stats_row``): the exact total
    when the file count permits driver-side footer reads, else None. The
    row gates that pick a physical shape (``_use_footer_stats``,
    ``relational._use_split_distinct``, ``similarity.q_embedding_spectrum``)
    treat None — more than ``PROBE_DRIVER_MAX`` files — as above every
    threshold: a table that large takes the large-data shape."""
    paths = _list_parquet_files(spark, path)
    if not paths:
        raise ValueError(f"no parquet files under {path}")
    if len(paths) > PROBE_DRIVER_MAX:
        return None
    return sum(int(_footer_metadata(p).num_rows) for p in paths)


def parquet_rowcount_probe(spark: SparkSession, path: str) -> DataFrame:
    """Exact table row count from parquet footers alone — the generic
    single-stat sibling of ``parquet_stats_probe`` (``num_rows`` is exact
    per the parquet spec and present for every file regardless of column
    statistics). O(files) metadata reads, zero data pages; schema-agnostic,
    so it serves any table's completeness check."""
    paths = _list_parquet_files(spark, path)
    if not paths:
        raise ValueError(f"no parquet files under {path}")
    val = footer_rowcount_value(spark, path)
    if val is not None:
        return spark.createDataFrame([(val,)], "n_rows long")

    def _counts(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"n_rows": [int(_footer_metadata(p).num_rows) for p in pdf["path"]]}
            )

    partials = (
        spark.createDataFrame([(p,) for p in paths], "path string")
        .repartition(min(len(paths), 32))
        .mapInPandas(_counts, "n_rows long")
    )
    return partials.agg(F.sum("n_rows").alias("n_rows"))


QUERIES = {"quality_report": q_quality_report}
ORACLES = {"quality_report": ORACLE_QUALITY_REPORT}
