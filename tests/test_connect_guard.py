"""Spark Connect compatibility guard (round 10, VERDICT r9 item 4).

Spark Connect sessions expose no ``sparkContext`` / ``_jvm`` / ``_jsc`` —
any code path touching them breaks. The audit's contract, asserted here:

- EVERY registry query builds its plan without JVM-internal access (the
  proxy below raises on those attributes, so a regression fails loudly);
- the query-path filesystem consumer (the quality footer listing)
  degrades to a pyarrow fallback with identical semantics.

What this does NOT prove: end-to-end execution over a real Connect
server (none in this container). Plan BUILD is where all of this repo's
driver-side code runs; execution is engine-side DataFrame API throughout.
"""

from __future__ import annotations

import os

import pytest

from .conftest import SF_ORACLE


class _ConnectStyleSession:
    """Delegating proxy that forbids the attributes Spark Connect lacks."""

    _BLOCKED = ("sparkContext", "_jvm", "_jsc", "_sc")

    def __init__(self, spark):
        object.__setattr__(self, "_real", spark)

    def __getattr__(self, name):
        if name in _ConnectStyleSession._BLOCKED:
            raise AttributeError(f"'{name}' is not available under Spark Connect")
        return getattr(object.__getattribute__(self, "_real"), name)


@pytest.fixture(scope="module")
def connect_spark(spark):
    return _ConnectStyleSession(spark)


def test_every_registry_query_builds_without_jvm_access(connect_spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    assert len(qs) == 50
    for name, q in qs.items():
        df = q(connect_spark, SF_ORACLE)  # plan build = all our driver code
        assert len(df.columns) > 0, name


def test_quality_footer_listing_falls_back_to_pyarrow(spark, connect_spark):
    from wnba_data_pipeline_spark.operators.quality import _list_parquet_files

    want = _list_parquet_files(spark, f"{SF_ORACLE}/lineitem.parquet")
    got = _list_parquet_files(connect_spark, f"{SF_ORACLE}/lineitem.parquet")
    # the JVM path returns file: URIs, pyarrow returns plain paths — the
    # FILE SET must agree (the probe reads footers per path either way)
    assert [p.removeprefix("file:") for p in want] == got
    with pytest.raises(ValueError, match="no parquet files"):
        _list_parquet_files(connect_spark, f"{SF_ORACLE}/definitely_missing.parquet")


def test_pa_uri_prefix_reconstructs_scheme():
    # ADVICE r10: FileSelector paths come back scheme-stripped; the
    # fallbacks must re-prefix them before crossing into Spark/URI land
    from wnba_data_pipeline_spark.operators.quality import pa_uri_prefix

    # object-store URI: pa_fs("s3://bucket/key") -> rel "bucket/key"
    assert pa_uri_prefix("s3://bucket/key", "bucket/key") == "s3://"
    assert pa_uri_prefix("s3://bucket/key/", "bucket/key") == "s3://"
    # file URI: rel is the plain path
    assert pa_uri_prefix("file:///tmp/x", "/tmp/x") == "file://"
    # local path: no scheme stripped, nothing to re-attach
    assert pa_uri_prefix("/tmp/x", "/tmp/x") == ""
    # defensive: unrelated rel -> empty prefix (never corrupt the path)
    assert pa_uri_prefix("s3://bucket/key", "other") == ""


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_CONNECT") != "1",
    reason="opt-in: needs a Spark Connect environment (SPARK_GRAFT_CONNECT=1)",
)
def test_registry_executes_under_real_connect_session():
    """VERDICT r10 item 4 — END-TO-END execution over a real Connect
    session, opt-in. This container ships pyspark WITHOUT the Connect
    client deps (no grpcio/protobuf, installs forbidden), so the test
    skips with the precondition named; in an environment that has them it
    spins an in-process local Connect server (builder.remote), runs every
    registry query to completion, cross-checks row counts against a
    classic session."""
    pytest.importorskip("grpc", reason="Spark Connect client needs grpcio")
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    remote = SparkSession.builder.remote("local[8]").getOrCreate()
    try:
        qs = entrymod.queries()
        classic_counts = {}
        from wnba_data_pipeline_spark.session import get_spark

        classic = get_spark("connect-crosscheck")
        for name, q in qs.items():
            classic_counts[name] = q(classic, SF_ORACLE).count()
        for name, q in qs.items():
            got = q(remote, SF_ORACLE).count()
            assert got == classic_counts[name], name
    finally:
        remote.stop()
