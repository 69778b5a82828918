"""Connected-components / cluster-survivor tests: chains, multi-component
graphs, and the composed near-dup flow (planted MULTI-HOP near-dup chains
through MinHash pairs → transitive clusters → one survivor)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wnba_data_pipeline_spark.operators.dedup import shingle_docs
from wnba_data_pipeline_spark.operators.graph import cluster_survivors, connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_empty_pair_set_is_a_no_op(spark):
    # a clean corpus produces zero pairs; the component step must converge
    # immediately and remove nothing (curation's near-dedup stage relies
    # on this being safe)
    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty_edges).count() == 0
    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert cluster_survivors(empty_pairs).count() == 0


def test_chain_collapses_to_one_component(spark):
    # a 6-vertex path (diameter 5) plus an isolated pair
    comps = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]))
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert {got[i] for i in (1, 2, 3, 4, 5, 6)} == {1}
    assert got[10] == got[11] == 10


def test_components_ignore_edge_direction_and_duplicates(spark):
    comps = connected_components(_edges(spark, [(2, 1), (1, 2), (3, 2), (2, 3), (3, 1)]))
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_converges_within_default_cap(spark):
    # a 300-vertex path has diameter 299 — plain min-label propagation
    # would need ~300 rounds and abort at the 25-round cap; the
    # pointer-doubling shortcut converges in O(log diameter) (~9 rounds
    # of label work), so the default cap holds even for pathological
    # chain-shaped near-dup graphs (round-4 ADVICE: degrade, don't abort)
    n = 300
    comps = connected_components(
        _edges(spark, [(i, i + 1) for i in range(n)]), driver_max_edges=0
    )
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert len(got) == n + 1 and set(got.values()) == {0}


def test_max_iter_is_exposed_and_enforced(spark):
    # callers can tighten the cap through the public surface; an
    # impossible cap still raises rather than returning a partial labeling
    import pytest

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long")
    assert cluster_survivors(pairs, max_iter=10).count() == 4
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(50)]), max_iter=1, driver_max_edges=0
        )


def test_cluster_survivors_keep_lowest(spark):
    pairs = spark.createDataFrame([(7, 8), (8, 9), (20, 21)], "doc_a long, doc_b long")
    out = {r["id"]: (r["comp"], r["is_survivor"]) for r in cluster_survivors(pairs).collect()}
    assert out[7] == (7, True) and out[8] == (7, False) and out[9] == (7, False)
    assert out[20] == (20, True) and out[21] == (20, False)


def test_multi_hop_near_dup_chain_dedups_transitively(spark):
    """The composed flow: a doc and two successive last-word-dropped copies
    form a CHAIN of near-dup pairs (doc≈copy1, copy1≈copy2 — doc vs copy2
    may or may not pair directly); the cluster step must still collapse all
    three to one survivor."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    text0 = base.strip()
    text1 = text0.rsplit(" ", 1)[0]  # drop last word
    text2 = text1.rsplit(" ", 1)[0]  # drop another
    docs = spark.createDataFrame(
        [(100, text0), (101, text1), (102, text2), (500, "completely different words here entirely unrelated")],
        "doc_id long, text string",
    )
    shingled = shingle_docs(docs).select("doc_id", "sh")
    a, b = shingled.alias("a"), shingled.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a.sh", "b.sh")) / F.size(F.array_union("a.sh", "b.sh")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    out = {r["id"]: (r["comp"], r["is_survivor"]) for r in cluster_survivors(pairs).collect()}
    # the three chained near-dups form ONE cluster surviving as doc 100
    assert out[100] == (100, True)
    assert out[101][0] == 100 and not out[101][1]
    assert out[102][0] == 100 and not out[102][1]
    # the unrelated doc never entered the pair graph at all
    assert 500 not in out


def test_driver_and_distributed_components_agree(spark):
    """The size-gated driver union-find fast path labels every vertex
    identically to the distributed pointer-doubling loop (same
    smallest-reachable-id contract) on a mixed graph: two chains, a
    triangle with a duplicate edge, reversed directions, an isolated
    pair."""
    pairs = (
        [(i, i + 1) for i in range(0, 40)]
        + [(100 + i + 1, 100 + i) for i in range(0, 17)]
        + [(200, 201), (201, 202), (202, 200), (200, 202)]
        + [(300, 301)]
    )
    edges = _edges(spark, pairs)
    via_driver = {
        (r["id"], r["comp"]) for r in connected_components(edges).collect()
    }
    via_distributed = {
        (r["id"], r["comp"])
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert via_driver == via_distributed
    assert via_driver  # non-empty


def test_upstream_pair_plan_executes_exactly_once(spark, tmp_path):
    """Round 14 (VERDICT r13 item 3): symmetrizing the LAZY edge plan
    inside one checkpoint used to execute the entire upstream pair
    pipeline twice (a union's branches are separate subplans — no
    cross-branch CSE) — at sf100 that double execution was the bulk of
    the funnel's 263 s-vs-~92 s gap. Pin the fix: an upstream mapInPandas
    stage drops a marker file per task invocation; with one input
    partition, exactly one marker means the pair plan ran once."""
    import os
    import uuid

    marker_dir = str(tmp_path / "exec-markers")
    os.makedirs(marker_dir, exist_ok=True)

    def _mark_batches(batches):
        import pandas as pd  # noqa: F401

        with open(os.path.join(marker_dir, uuid.uuid4().hex), "w") as f:
            f.write("x")
        for pdf in batches:
            yield pdf

    edges = (
        _edges(spark, [(1, 2), (2, 3), (10, 11)])
        .repartition(1)
        .mapInPandas(_mark_batches, "src long, dst long")
    )
    comps = connected_components(edges)
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert {got[i] for i in (1, 2, 3)} == {1} and got[10] == got[11] == 10
    # localCheckpoint of the one-sided projection is the ONLY execution;
    # symmetrize + count + labeling all read its blocks
    assert len(os.listdir(marker_dir)) == 1


def test_cc_seam_seconds_hook(spark):
    # the funnel_gap_attrib hook: seams recorded, zero behavior change
    seams: dict = {}
    comps = connected_components(_edges(spark, [(1, 2), (2, 3)]), seam_seconds=seams)
    assert {r["id"]: r["comp"] for r in comps.collect()} == {1: 1, 2: 1, 3: 1}
    # the driver path: one checkpoint, one bounded collect, no symmetrize
    assert set(seams) == {"edges_checkpoint_sec", "labeling_sec"}


def test_zero_edge_graph_labels_nothing(spark):
    # the driver path builds its (id, comp) frame from an empty Arrow
    # table: no rows, typed like the edge ids
    for ids, name in (("long", "bigint"), ("int", "int")):
        comps = connected_components(spark.createDataFrame([], f"src {ids}, dst {ids}"))
        assert comps.collect() == []
        assert comps.dtypes == [("id", name), ("comp", name)]


def test_int_ids_keep_their_type_on_both_paths(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src int, dst int")
    via_driver = connected_components(edges)
    via_distributed = connected_components(edges, driver_max_edges=0)
    assert via_driver.dtypes == via_distributed.dtypes == [("id", "int"), ("comp", "int")]
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert {tuple(r) for r in via_driver.collect()} == want
    assert {tuple(r) for r in via_distributed.collect()} == want


def test_driver_gate_boundary(spark):
    """The bounded-collect gate keeps the symmetrized-edge bound: exactly
    ``max // 2`` one-sided edges take the driver path (no symmetrize
    seam), one more takes the distributed loop, and both label alike."""
    for max_edges in (10, 11):
        n = max_edges // 2
        for n_edges, driver in ((n, True), (n + 1, False)):
            edges = _edges(spark, [(2 * i, 2 * i + 1) for i in range(n_edges)])
            seams: dict = {}
            comps = connected_components(edges, driver_max_edges=max_edges, seam_seconds=seams)
            got = {tuple(r) for r in comps.collect()}
            assert ("symmetrize_sec" not in seams) == driver, (max_edges, n_edges)
            want = {(v, 2 * i) for i in range(n_edges) for v in (2 * i, 2 * i + 1)}
            assert got == want
