"""Warehouse sinks (SURVEY §2 A6-A10).

The reference's sinks are DuckDB DDL + positional ``INSERT INTO … SELECT *``
(append, ``ingest_nba_daily.py:96-148``) and ``DROP TABLE`` + CTAS overwrite
(``transform_player_stats.py:175-199``), plus pandas ``to_json`` exports
(``prepare_dashboard_data.py:290-319``). Here every sink is a Spark
DataFrameWriter over a partitioned parquet layout:

- append is BY NAME, fixing the reference's positional-insert fragility
  (SURVEY G4): we select the target column order explicitly before writing.
- the raw layer partitions by a low-cardinality derived key so the 30-day
  scan predicates (B2) become partition pruning at 100 TB.
- JSON export writes distributed shards; ``single_file=True`` coalesces to
  one shard for byte-parity with the reference's one-file-per-table export
  (only sane for mart-sized frames — documented, not default).
- the overwrite and upsert sinks return a read of the table they wrote
  whose schema is pinned to the written one, so the writer's downstream
  plans skip parquet schema inference (one Spark job per read).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def append_table(df: DataFrame, path: str, partition_by: tuple[str, ...] = (), column_order: tuple[str, ...] = ()) -> None:
    """A6 append sink. ``column_order`` pins the canonical schema by name —
    a frame with reordered columns lands correctly (unlike the reference's
    positional INSERT, ``ingest_nba_daily.py:141``)."""
    if column_order:
        df = df.select(*column_order)
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _read_written(df: DataFrame, path: str) -> DataFrame:
    """The hand-off read of a table this process just wrote from ``df``,
    pinned to ``df``'s schema, so the read launches no schema-inference
    job. A file source reads a given schema the way it infers one: every
    field nullable (nested ones too) and the partition columns last. Only
    the writer may use it: a path another process rewrites needs
    ``read_table``. Building the read still lists the table's partition
    directories; a session from ``session.get_spark`` lists up to
    ``session.DRIVER_LISTING_MAX_DIRS`` of them (the raw tables' months) on
    the driver, and more by a Spark job."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


def overwrite_table(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> DataFrame:
    """A7 overwrite sink (the reference's DROP + CTAS). Returns a
    schema-pinned read of the written table."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return _read_written(df, path)


def upsert_partitions(
    df: DataFrame, path: str, partition_by: tuple[str, ...], column_order: tuple[str, ...] = ()
) -> DataFrame:
    """Idempotent partition re-ingest: overwrite ONLY the partitions present
    in ``df``, leave every other partition untouched (dynamic partition
    overwrite). The fix for the reference's re-run hazard — its daily cron
    re-runs positional-INSERT the same execution date again
    (``ingest_nba_daily.py:141,172``, ``catchup=False`` retries), silently
    duplicating rows. Here re-running a day replaces exactly that day.

    At 100 TB this is the standard incremental-ingest contract: the job is
    keyed by partition (date), re-runs are idempotent, and the write
    touches only the partitions the batch covers.

    Returns a schema-pinned read of the whole table, the partitions this
    batch left untouched included (they share the batch's schema)."""
    if column_order:
        df = df.select(*column_order)
    # a writer option, not the session conf, so concurrent writes keep
    # their own overwrite mode
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return _read_written(df, path)


def write_clustered(df: DataFrame, path: str, cluster_by: str, *, n_files: int = 4) -> None:
    """Layout-optimized write: range-repartition on ``cluster_by`` and sort
    within partitions, so every output file covers a narrow, disjoint range
    of the cluster key and its parquet row-group min/max statistics prune
    range predicates at read time (verified against the actual footers in
    tests/test_layout.py). The single-column form of the lakehouse
    OPTIMIZE ... ZORDER move; at 100 TB this is what turns a time-range
    scan from 'read everything' into 'read two files'."""
    (
        df.repartitionByRange(n_files, cluster_by)
        .sortWithinPartitions(cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )


ZORDER_BITS = 16  # per-dimension resolution of the interleaved key


def zorder_key(df: DataFrame, cols: tuple[str, ...], *, bits: int = ZORDER_BITS) -> Column:
    """Morton (Z-order) key over ``cols``: each column min-max scales to
    ``bits`` bits (stats collected in one tiny driver job — layout writes
    are eager jobs already) and the bits interleave, so points close in
    the key are close in EVERY listed dimension. Pure codegen expression
    (bits × len(cols) shift/mask terms), no UDF.

    Per-dimension resolution auto-scales so the top interleaved bit never
    reaches the int64 sign bit (``bits × len(cols) ≤ 63`` — at the default
    16 bits a 4-column key would otherwise put bit 63 into the sign and
    sort high-value rows NEGATIVE, breaking the hyper-rectangle layout;
    ADVICE r7). NULL dimension values land in that dimension's MINIMUM
    cell (explicit placement, mirroring Spark's NULLS FIRST sort default)
    so every row gets a non-null key and null-heavy rows cluster together
    — still skippable via row-group null counts."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"too many z-order columns ({len(cols)}): needs ≥1 bit each")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None:  # all-null dimension: constant cell 0
            continue
        span = (float(mx) - float(mn)) or 1.0
        scaled = F.coalesce(
            F.floor(
                (F.col(c).cast("double") - F.lit(float(mn))) / F.lit(span) * F.lit(float(top))
            ).cast("long"),
            F.lit(0).cast("long"),  # nulls → minimum cell
        )
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(scaled, b).bitwiseAND(F.lit(1)), b * len(cols) + i)
            )
    return z


def write_zordered(
    df: DataFrame, path: str, cols: tuple[str, ...], *, n_files: int = 16
) -> None:
    """Multi-column layout optimization — the lakehouse
    ``OPTIMIZE ... ZORDER BY (a, b)`` move, generalizing
    ``write_clustered`` beyond one key: rows sort by the interleaved
    Morton key, so every output file covers a small HYPER-RECTANGLE of
    the listed dimensions and parquet row-group min/max stats prune range
    predicates on ANY of them (a linear sort prunes only its leading
    column; verified against the actual footers, both layouts, in
    tests/test_layout.py). At 100 TB this is what makes the second and
    third most-filtered columns skippable without a second copy of the
    data."""
    (
        df.withColumn("_z", zorder_key(df, cols))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def export_json(df: DataFrame, path: str, *, single_file: bool = False) -> None:
    """A8 JSON-records export (``to_json(orient='records')``,
    ``prepare_dashboard_data.py:302-319``). Distributed shards by default;
    ``single_file`` coalesces mart-sized frames to one shard."""
    (df.coalesce(1) if single_file else df).write.mode("overwrite").json(path)


def json_export_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*")))
