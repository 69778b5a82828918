"""Scale-layout sinks: idempotent partition re-ingest (dynamic partition
overwrite) and clustered writes whose parquet row-group statistics actually
prune range predicates — both verified against real files, not just plans."""

from __future__ import annotations

import datetime as dt
import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, MapType, StringType, StructField, StructType, TimestampNTZType,
)

from wnba_data_pipeline_spark.sources.sinks import overwrite_table, read_table, upsert_partitions, write_clustered
from wnba_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_SMOKE, assert_handle_matches_path


def _with_ym(df):
    return df.withColumn("ship_ym", F.date_format(F.col("l_shipdate"), "yyyy-MM"))


def test_upsert_partitions_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "raw_lineitem")
    li = _with_ym(load_table(spark, SF_SMOKE, "lineitem"))
    upsert_partitions(li, path, ("ship_ym",))
    n1 = read_table(spark, path).count()

    # re-run ONE month (the reference's daily-cron re-run shape): the
    # month's partition is replaced, nothing duplicates, nothing else moves
    march = li.filter(F.col("ship_ym") == "2001-03")
    n_march = march.count()
    assert n_march > 0
    handle = upsert_partitions(march, path, ("ship_ym",))
    after = read_table(spark, path)
    # the returned handle reads the whole table, untouched months included
    assert_handle_matches_path(spark, handle, path)
    assert after.count() == n1  # total unchanged: replace, not append
    assert after.filter(F.col("ship_ym") == "2001-03").count() == n_march

    # a corrected re-run (subset of rows) must SHRINK only that partition
    fixed = march.filter(F.col("l_linenumber") == 1)
    upsert_partitions(fixed, path, ("ship_ym",))
    after2 = read_table(spark, path)
    assert after2.filter(F.col("ship_ym") == "2001-03").count() == fixed.count()
    assert after2.filter(F.col("ship_ym") != "2001-03").count() == n1 - n_march

    # the overwrite mode is a writer option: the session conf stays unset
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    upsert_partitions(fixed, path, ("ship_ym",))
    assert spark.conf.get(key, None) is None


def test_clustered_write_rowgroup_stats_prune(spark, tmp_path):
    path = str(tmp_path / "clustered")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    write_clustered(li, path, "l_orderkey", n_files=4)

    # read the ACTUAL parquet footers: each file covers a narrow key range,
    # and the per-file [min, max] ranges are pairwise disjoint — the
    # property that lets a range predicate skip whole files/row-groups
    ranges = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_orderkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges  # disjoint: a key-range scan prunes files

    # and the data round-trips completely
    assert read_table(spark, path).count() == li.count()


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    # Z-order vs linear sort, measured against the REAL footers: per-file
    # min/max of both keys, then for a narrow range predicate on each key
    # count the files whose range intersects. Linear prunes only its
    # leading column (every file spans the full second-key domain);
    # z-order must prune meaningfully on BOTH.
    from wnba_data_pipeline_spark.sources.sinks import write_zordered

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_files = 16
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    write_zordered(orders, zpath, ("o_custkey", "o_orderkey"), n_files=n_files)
    (
        orders.repartitionByRange(n_files, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    assert sorted(tuple(r) for r in spark.read.parquet(zpath).collect()) == sorted(
        tuple(r) for r in orders.collect()
    )

    def file_ranges(path, col):
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            mn = min(md.row_group(g).column(idx[col]).statistics.min for g in range(md.num_row_groups))
            mx = max(md.row_group(g).column(idx[col]).statistics.max for g in range(md.num_row_groups))
            out.append((mn, mx))
        return out

    bounds = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]

    def hits(path, col, lo_frac, hi_frac, cmin, cmax):
        lo = cmin + (cmax - cmin) * lo_frac
        hi = cmin + (cmax - cmin) * hi_frac
        return sum(1 for mn, mx in file_ranges(path, col) if not (mx < lo or mn > hi))

    # narrow (1/8-domain) predicate on each key
    zc = hits(zpath, "o_custkey", 0.4, 0.525, bounds[0], bounds[1])
    zo = hits(zpath, "o_orderkey", 0.4, 0.525, bounds[2], bounds[3])
    lc = hits(lpath, "o_custkey", 0.4, 0.525, bounds[0], bounds[1])
    lo_ = hits(lpath, "o_orderkey", 0.4, 0.525, bounds[2], bounds[3])
    # linear: leading column prunes hard, second column does not at all
    assert lc <= n_files // 4
    assert lo_ >= n_files - 1
    # z-order: BOTH columns prune — the expected trade: weaker than
    # linear's leading column (each z-file is a hyper-rectangle, ~sqrt
    # geometry at 16 files: measured 10/9 of 16 for a 1/8-domain range),
    # but the second column goes from no pruning at all to meaningful
    assert zc <= n_files - 4
    assert zo <= n_files - 4
    assert zo <= lo_ - 4


def test_zorder_key_bounds_and_locality(spark):
    # zorder key sanity: values bound by 2^(bits*ncols); equal points get
    # equal keys; moving only one dimension by the full domain moves the
    # key more than a one-quantum step does (interleaving preserves
    # per-dimension monotonicity at fixed other dims)
    from wnba_data_pipeline_spark.sources.sinks import ZORDER_BITS, zorder_key

    df = spark.createDataFrame(
        [(0, 0), (0, 100), (100, 0), (100, 100), (50, 50), (50, 50)], "a long, b long"
    )
    keys = [
        r.z for r in df.withColumn("z", zorder_key(df, ("a", "b"))).collect()
    ]
    assert all(0 <= k < (1 << (ZORDER_BITS * 2)) for k in keys)
    rows = {(r.a, r.b): r.z for r in df.withColumn("z", zorder_key(df, ("a", "b"))).collect()}
    assert rows[(0, 0)] < rows[(0, 100)] and rows[(0, 0)] < rows[(100, 0)]
    assert rows[(100, 100)] == max(rows.values())
    dup = [r.z for r in df.filter("a = 50").withColumn("z", zorder_key(df, ("a", "b"))).collect()]
    assert dup[0] == dup[1]


def test_zorder_key_never_overflows_sign_bit(spark):
    # 4 columns at the default 16 bits/dim would put the top interleaved
    # bit at position 63 (the sign), sorting high-value rows NEGATIVE —
    # the resolution must auto-scale to 63 // n_cols instead (ADVICE r7).
    from wnba_data_pipeline_spark.sources.sinks import zorder_key

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_linenumber"
    )
    keys = li.select(
        zorder_key(li, ("l_orderkey", "l_suppkey", "l_partkey", "l_linenumber")).alias("z")
    )
    mn, mx, nulls = keys.agg(
        F.min("z"), F.max("z"), F.sum(F.when(F.col("z").isNull(), 1).otherwise(0))
    ).collect()[0]
    assert mn >= 0 and mx >= 0 and nulls == 0
    # and the max-corner row actually maps near the key-space top, proving
    # the high bits are in use (not clipped away with the sign fix)
    assert mx > (1 << 59)


def test_zorder_key_places_nulls_in_min_cell(spark):
    from wnba_data_pipeline_spark.sources.sinks import zorder_key

    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .withColumn(
            "l_suppkey",
            F.when(F.col("l_orderkey") % 7 == 0, None).otherwise(F.col("l_suppkey")),
        )
    )
    keyed = li.withColumn("z", zorder_key(li, ("l_orderkey", "l_suppkey")))
    # every row keyed, none null
    assert keyed.filter(F.col("z").isNull()).count() == 0
    # a null dimension equals the key of that dimension's minimum value
    s_min = li.agg(F.min("l_suppkey")).collect()[0][0]
    probe = keyed.filter(F.col("l_suppkey").isNull()).limit(1).collect()
    if probe:
        ok = li.filter(F.col("l_orderkey") == probe[0]["l_orderkey"]).withColumn(
            "l_suppkey", F.lit(s_min)
        )
        want = ok.withColumn("z", zorder_key(li, ("l_orderkey", "l_suppkey"))).collect()[0]["z"]
        assert probe[0]["z"] == want


def test_sink_handles_pin_the_schema_a_read_infers(spark, tmp_path):
    # non-nullable top-level, array-element, struct-field and map-value
    # types, a timestamp_ntz column, and a partition column that is not
    # last: the handle's pinned schema is what a read by path infers
    schema = StructType([
        StructField("part", StringType(), False),
        StructField("id", LongType(), False),
        StructField("xs", ArrayType(IntegerType(), False), False),
        StructField("s", StructType([StructField("a", IntegerType(), False)]), False),
        StructField("m", MapType(StringType(), ArrayType(LongType(), False), False), True),
        StructField("ts", TimestampNTZType(), False),
    ])
    rows = [
        (p, i, [i, i + 1], (i,), {"k": [i]}, dt.datetime(2001, 9, 1, 0, i))
        for p in ("2001-08", "2001-09") for i in range(3)
    ]
    df = spark.createDataFrame(rows, schema)
    flat = overwrite_table(df, str(tmp_path / "flat"))
    assert_handle_matches_path(spark, flat, str(tmp_path / "flat"))
    parted = overwrite_table(df, str(tmp_path / "parted"), partition_by=("part",))
    assert_handle_matches_path(spark, parted, str(tmp_path / "parted"))
    assert parted.columns[-1] == "part"
    upserted = upsert_partitions(df, str(tmp_path / "upserted"), ("part",))
    assert_handle_matches_path(spark, upserted, str(tmp_path / "upserted"))
