"""Connected components over a pair set — the iterative step that turns
near-duplicate PAIRS (``dedup_minhash`` / ``emb_near_dup_bucketed``) into
duplicate CLUSTERS with one survivor each.

Pairwise output alone under-deduplicates: near-duplication is transitive in
practice (A≈B, B≈C ⇒ keep one of {A, B, C}), so production dedup closes the
pair set into components first. This is the one genuinely ITERATIVE
algorithm in the engine (SURVEY §2's category "not SQL-expressible — no
oracle entry"): min-label propagation, the dataframe-native form of the
classic large-star/small-star MapReduce connectivity algorithm —
every vertex repeatedly adopts the smallest component id among itself and
its neighbors, converging in O(graph diameter) rounds.

Spark-specifics that make the loop viable at scale:
- each round is one shuffle join (labels ⋈ symmetrized edges) + a groupBy
  min — all map-side-combining aggregates;
- ``localCheckpoint`` truncates the lineage every round; without it the
  plan doubles per iteration and the driver's analysis time explodes by
  round ~15 (the standard iterative-Spark trap);
- convergence is detected with a 1-row count of changed labels, the only
  driver-side action per round.

No DuckDB oracle (iterative; the driver records rows-only checks for such
ops) — correctness is pytest-verified on chains, planted multi-hop
near-dup clusters, and invariants (tests/test_graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Below this many (symmetrized) edges the component labeling runs as a
# driver-local union-find instead of the distributed loop: each distributed
# round costs ~5 fixed-overhead jobs (neighbor join, shortcut, convergence
# count, checkpoint), which dominates wall time on the small pair graphs
# real dedup produces (912 edges at the sf1 funnel → the CC step was 8.1 s
# of the 23.6 s near-dedup stage; the union-find is milliseconds). 100 TB
# posture: the gate is on the PAIR GRAPH, not the corpus — a graph under
# the bound is ≤ ~16 MB of longs on the driver (the same bounded-driver-
# coordination contract as the footer stats probe and the k-means partial
# collect); anything larger takes the distributed log-diameter loop
# unchanged.
DRIVER_CC_MAX_EDGES = 100_000


def _driver_components(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Union-find with path compression over collected one-sided edges
    (union-find needs no symmetrized copy); labels every vertex with the
    smallest reachable vertex id — the same contract as the distributed
    loop (equality-tested in tests/test_graph.py). The (id, comp) frame is
    built from an Arrow table, typed like the edge ids, so reading it needs
    no Python worker."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller so the root IS the
            # component minimum at all times
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    ids = list(parent)
    labels = StructType(
        [StructField("id", schema[0].dataType), StructField("comp", schema[1].dataType)]
    )
    # createDataFrame casts the Arrow columns to the edge id type
    return spark.createDataFrame(pa.table({"id": ids, "comp": [find(v) for v in ids]}), labels)


def connected_components(
    edges: DataFrame,
    *,
    max_iter: int = 25,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    seam_seconds: dict | None = None,
) -> DataFrame:
    """(src, dst) undirected pair set → (id, comp): every vertex labeled
    with the smallest vertex id reachable from it.

    Each round does min-label propagation through the EDGES (one shuffle
    join + groupBy-min) followed by a pointer-doubling shortcut through the
    LABELS (comp ← comp[comp], a self-join on the vertex-sized label table)
    — the shortcut halves the remaining pointer-chain depth every round, so
    convergence is O(log diameter), not O(diameter). The default cap of 25
    therefore covers any component a physical graph could present (diameter
    up to ~2^25); it exists only to bound a logic error, and is exposed
    through ``cluster_survivors`` / ``plans.curation.run_curation`` so a
    caller with a pathological pair set can raise it instead of aborting
    the funnel (round-4 ADVICE). Raises rather than returning a partial
    labeling on non-convergence.

    ``seam_seconds``: pass a dict to receive per-seam wall seconds:
    ``edges_checkpoint_sec`` (the one pair materialization),
    ``symmetrize_sec`` (distributed path only) and ``labeling_sec``; zero
    cost when not passed.
    """
    import time as _time

    _t0 = _time.perf_counter()

    def _mark(key: str) -> None:
        nonlocal _t0
        if seam_seconds is not None:
            seam_seconds[key] = round(_time.perf_counter() - _t0, 2)
        _t0 = _time.perf_counter()

    # Materialize the edge set ONCE before iterating: ``edges`` usually
    # arrives as a lazy pair pipeline (MinHash shingle+LSH+verify, or the
    # SemDeDup fit+gram), and the per-round neighbor join would otherwise
    # re-execute that whole pipeline every round — measured as the
    # dominant cost of the sf1 curation near-dedup stage (the pair graph
    # itself is tiny next to the corpus, so checkpointing it is cheap by
    # construction).
    #
    # Checkpoint the ONE-SIDED projection FIRST, then symmetrize from the
    # checkpointed blocks (round 14, VERDICT r13 item 3): a union's two
    # branches are separate subplans — Spark performs no cross-branch
    # common-subexpression elimination — so symmetrizing the LAZY plan
    # inside one checkpoint executed the entire upstream pair pipeline
    # TWICE (once per branch). That double execution was the bulk of the
    # sf100 funnel's 263 s-vs-~92 s end-to-end/stage-median gap (the stage
    # probes pre-persisted their pairs, hiding it). Measured in
    # BENCH_SCALE_r14 funnel_gap_attrib: shipped sf100 batch funnel
    # 327 → 187 s, near-dedup stage 263.4 → 121.2 s, survivor count AND
    # hash identical to r13, and the seam walls now SUM to the stage wall
    # (shingle+advisory 45.7 + one pair materialization 68.7 + labeling
    # 3.8 + anti-join/write 1.6 ≈ 121).
    one = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).localCheckpoint()
    _mark("edges_checkpoint_sec")
    # the driver-path gate is one bounded collect over the one-sided
    # edges: 2 × n_one ≤ driver_max_edges exactly when n_one ≤ max // 2,
    # so reading one row past that decides the gate
    head = one.limit(driver_max_edges // 2 + 1).collect()
    if 2 * len(head) <= driver_max_edges:
        out = _driver_components(edges.sparkSession, head, one.schema)
        _mark("labeling_sec")
        return out
    sym = one.unionByName(
        one.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    _mark("symmetrize_sec")
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("a", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
        )
        # pointer doubling: adopt the label OF my label (labels is one row
        # per vertex — this join is vertex-sized, far smaller than the edge
        # join above). comp ids are vertex ids, so comp[comp] is a lookup
        # into the same table; min-monotone, so correctness is unaffected.
        shortcut = stepped.select(F.col("comp").alias("c2_id")).distinct().join(
            stepped.select(F.col("id").alias("c2_id"), F.col("comp").alias("c2_comp")), "c2_id"
        )
        new_labels = (
            stepped.join(shortcut, stepped.comp == shortcut.c2_id, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("c2_comp"), F.col("comp"))).alias("comp"),
            )
        ).localCheckpoint()
        changed = (
            new_labels.withColumnRenamed("comp", "new_comp")
            .join(labels, "id")
            .filter(F.col("new_comp") != F.col("comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            _mark("labeling_sec")
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def cluster_survivors(
    pairs: DataFrame,
    *,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    seam_seconds: dict | None = None,
) -> DataFrame:
    """Near-dup pairs → (id, comp, is_survivor): close the pair set into
    components and keep the smallest id per component (the same
    keep-lowest policy as ``exact_survivors``). Join the result back to
    the corpus and filter ``is_survivor`` to deduplicate transitively.
    ``seam_seconds`` passes through to ``connected_components``."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    comps = connected_components(edges, max_iter=max_iter, seam_seconds=seam_seconds)
    return comps.withColumn("is_survivor", F.col("id") == F.col("comp"))
