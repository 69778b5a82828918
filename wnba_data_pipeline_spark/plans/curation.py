"""Corpus-curation pipeline: the LLM-training-data analog of the medallion
layer chain (``plans/layers.py``) — quality filter → stratified language
sampling → exact dedup → sequence packing, composed from the operator
library's reusable transforms as ONE lazy lineage per stage write.

This is the composed form of the build brief's north star: the reference
pipeline curates box scores for a dashboard; a 100 TB training-data
pipeline curates documents for a tokenizer, and these are its passes. Each
stage is the already-oracle-verified transform (``operators/text.py``,
``operators/dedup.py``); the pipeline adds the funnel composition, the
warehouse layout, and a stage-count report — the data-health artifact a
curation run ships with.

Scale posture: quality filter and sample gate are zero-shuffle codegen
filters stacked on the scan; dedup shuffles once on the (uniform) content
hash; packing shuffles once on the pack id. Stage outputs land in the
curation warehouse (parquet, catalog-registrable like every layer) so each
stage is independently inspectable and resumable.

Determinism (SURVEY G5): stage gates are hash-derived (no RNG), so a rerun
— or a run on a reshuffled 100 TB copy — selects byte-identical corpora;
the ``as_of`` audit column is injected like the layer jobs'.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import exact_survivors, minhash_pairs, shingle_docs
from ..operators.graph import cluster_survivors
from ..operators.text import PACK_BUDGET, pack_docs, quality_score_col, sample_gate
from ..sources.sinks import overwrite_table, read_table
from ..sources.tables import load_table

QUALITY_MIN = 0.5  # composite quality-score gate (doc_stats)
DEFAULT_AS_OF = "2001-09-01 00:00:00"

# Per-batch persist pays for itself only when re-EXECUTING the batch's
# upstream plan costs more than materializing it: at sf100 (~590 k gated
# docs/batch) the uncached plan re-ran ~6× per batch (BENCH_SCALE_r14
# inc_shipped100's swinging walls), while at sf0.1 (~1 k docs/batch) the
# eager materialization jobs cost 3× the recompute they saved (measured
# 154.8 s vs 46.4 s, r15 smoke A/B — tiny batches are per-job-floor
# bound). The auto mode keys on the driver-side batch SPAN (an upper
# bound on gated batch size, known without a count job); the threshold
# sits well under the sf100 regime and well over the per-job-floor one.
INC_PERSIST_MIN_BATCH = 50_000


def _should_persist_batches(span: int) -> bool:
    """The incremental funnel's per-batch persist mode: persist exactly
    when batches are big enough that plan re-execution dominates
    materialization cost. Reads ``INC_PERSIST_MIN_BATCH`` at call time."""
    return span >= INC_PERSIST_MIN_BATCH

STAGES = ("corpus", "quality_kept", "sampled", "deduped", "near_deduped", "packed")


def _p(base: str, *parts: str) -> str:
    return os.path.join(base, *parts)


def run_curation(
    spark: SparkSession, sf_dir: str, base: str, as_of: str = DEFAULT_AS_OF,
    *, cc_max_iter: int = 25, near_dedup: str = "minhash",
    stage_seconds: dict | None = None,
    near_dedup_seconds: dict | None = None,
    band_geometry: tuple[int, int] | None = None,
) -> DataFrame:
    """Run the funnel over ``documents``: corpus → quality gate → sample
    gate → exact dedup → transitive near-dedup → sequence packing. Writes
    every stage, then the funnel report (stage, n_docs, n_tokens), to the
    curation warehouse and returns the report as a DataFrame.

    Each stage is a linear chain of one write: it is built from the
    schema-pinned handle its upstream write returned
    (``sources.sinks.overwrite_table``), and so is the report, so no read
    of a stage this run wrote launches a schema-inference job.

    ``cc_max_iter`` bounds the connected-components rounds in the
    near-dedup stage (log-diameter convergence — see
    ``operators.graph.connected_components``).

    ``near_dedup`` picks the near-duplicate detector: ``"minhash"`` (text
    MinHash-LSH pairs, the data-independent path) or ``"semantic"``
    (SemDeDup: k-means cells over the documents' embeddings + within-cell
    cosine, the data-dependent path; documents without an embedding row
    pass through undeduplicated). Both feed the same transitive closure +
    keep-lowest survivor contract (``cluster_survivors``), so the funnel
    downstream of the pair source is identical.

    ``stage_seconds``: pass a dict to receive per-stage wall seconds, keyed
    ``corpus_write``, ``quality_gate``, ``sample_gate``, ``exact_dedup``,
    ``near_dedup`` and ``packing``. Each stage is write-materialized, so
    the walls are real work, not laziness artifacts.

    ``near_dedup_seconds``: pass a dict to receive the near-dedup stage's
    per-seam walls through the same plan the stage ships:
    ``shingle_mat_sec`` and ``advisory_estimate_sec`` (the geometry
    advisory), ``shingle_advisory_sec``, the connected-components seams
    (``edges_checkpoint_sec``, ``labeling_sec``, ...),
    ``pairs_cc_total_sec`` and ``anti_join_write_sec``. Zero cost when not
    passed; minhash path only.

    ``band_geometry``: optional (K, band_rows) override for the MinHash
    near-dup detector, the explicit dial for the candidate quadratic of
    the default geometry at large corpora (see ``dedup.GEOMETRY_LARGE_N``
    and the K_MINHASH comment): at ≳1 M docs pass
    ``dedup.GEOMETRY_LARGE_N`` to re-linearize the candidate step. A
    deliberate semantic choice (it moves the S-curve midpoint), so no
    auto-switch — and the incremental funnel must run the same detector
    for increment-equals-batch to hold."""
    import time as _time

    _t = _time.perf_counter()

    def _mark(stage: str) -> None:
        nonlocal _t
        if stage_seconds is not None:
            stage_seconds[stage] = round(_time.perf_counter() - _t, 2)
        _t = _time.perf_counter()

    written: dict[str, DataFrame] = {}

    def write(stage: str, df: DataFrame) -> DataFrame:
        written[stage] = overwrite_table(df, _p(base, "curation", stage))
        return written[stage]

    audit = F.lit(as_of).cast("timestamp_ntz").alias("curated_at")
    docs = load_table(spark, sf_dir, "documents")
    write("corpus", docs.select("*", audit))
    _mark("corpus_write")

    # 1. quality gate: the score is a ROW-LOCAL expression, so it stacks
    # directly on the scan (one codegen pass, zero shuffle) — the earlier
    # doc_stats self-join re-scanned the corpus and shuffled two
    # corpus-sized sides on doc_id for a value derivable in place
    # (round-8 review fix; same 6-decimal value as doc_stats)
    kept = docs.withColumn("quality_score", quality_score_col("text")).filter(
        F.col("quality_score") >= QUALITY_MIN
    )
    kept = write("quality_kept", kept.select("*", audit))
    _mark("quality_gate")

    # 2. stratified sampling (hash gate — reshuffle-proof)
    sampled = write("sampled", sample_gate(kept))
    _mark("sample_gate")

    # 3. exact dedup (content hash, keep lowest doc_id)
    deduped = write("deduped", exact_survivors(sampled))
    _mark("exact_dedup")

    # 4. transitive near-dup removal: near-dup PAIRS (MinHash-LSH or
    # SemDeDup, see docstring) → connected components (the iterative step)
    # → drop every non-survivor. The cluster labeling runs over the PAIR
    # graph only (tiny next to the corpus); the corpus-side removal is one
    # anti-join on doc_id.
    _nt = _time.perf_counter()

    def _nmark(key: str) -> None:
        nonlocal _nt
        if near_dedup_seconds is not None:
            near_dedup_seconds[key] = round(_time.perf_counter() - _nt, 2)
        _nt = _time.perf_counter()

    shingled = None
    if near_dedup == "minhash":
        # persist ONE shingle computation across the geometry advisory's
        # count + sample estimate and the pair plan — the funnel
        # evaluates the pairs eagerly inside cluster_survivors, so the
        # persist is released as soon as the stage's write lands
        geom_kw = {}
        if band_geometry is not None:
            from ..functions.hashing import minhash_coeffs

            k, rows_per_band = band_geometry
            geom_kw = {"coeffs": minhash_coeffs(k), "band_rows": rows_per_band}
        # hh_only: band keys and the hh verify never read the string
        # arrays, so neither the Arrow transfer nor the persisted cache
        # carries a corpus's worth of strings (round 12)
        shingled = shingle_docs(
            deduped.select("doc_id", "text"), hh_only=True
        ).persist()
        _geometry_advisory(shingled, band_geometry, seam_seconds=near_dedup_seconds)
        _nmark("shingle_advisory_sec")
        # verify="hh": the funnel's scale dial — exact Jaccard over the
        # md5-int64 arrays (13.6 s vs 46.7 s over 19.1 M sf100 candidates,
        # pair sets hash-identical; BENCH_SCALE_r12 stages100). The
        # registry/oracle row (q_dedup_minhash) keeps the string contract.
        pairs = minhash_pairs(
            deduped.select("doc_id", "text"), shingled=shingled, verify="hh", **geom_kw
        )
        # cluster_survivors is eager through its checkpoints, so the cc
        # seam walls below are real work (pair materialization runs ONCE
        # inside edges_checkpoint_sec — see connected_components)
        survivors = cluster_survivors(
            pairs, max_iter=cc_max_iter, seam_seconds=near_dedup_seconds
        )
        _nmark("pairs_cc_total_sec")
    elif near_dedup == "semantic":
        survivors = _semantic_survivors(spark, sf_dir, deduped, cc_max_iter=cc_max_iter)
    else:
        raise ValueError(f"unknown near_dedup path: {near_dedup!r}")
    losers = (
        survivors
        .filter(~F.col("is_survivor"))
        .select(F.col("id").alias("doc_id"))
    )
    near_deduped = write("near_deduped", deduped.join(losers, "doc_id", "left_anti"))
    _nmark("anti_join_write_sec")
    if shingled is not None:
        shingled.unpersist()
    _mark("near_dedup")

    # 5. sequence packing to the token budget
    write("packed", pack_docs(near_deduped))
    _mark("packing")

    report = funnel_report(written)
    overwrite_table(report, _p(base, "curation", "funnel_report"))
    return report


def _geometry_advisory(
    shingled: DataFrame,
    band_geometry: tuple[int, int] | None,
    *,
    min_docs: int | None = None,
    pairs_per_doc: float | None = None,
    sample_mod: int | None = None,
    seam_seconds: dict | None = None,
) -> None:
    """One-line log advisory (round 11, VERDICT r10 item 7) when the
    sampled candidate-pair estimate says the DEFAULT band geometry has
    entered its background-quadratic regime — the sf100 finding, surfaced
    where users meet it. Advisory ONLY: the geometry stays an explicit
    ``run_curation(band_geometry=...)`` choice (S-curve semantics +
    the incremental funnel's one-detector contract — see
    ``dedup.GEOMETRY_LARGE_N``). Cost: one agg over ~1/64 of the docs."""
    import logging

    from ..operators.dedup import (
        ADVISORY_MIN_DOCS,
        ADVISORY_PAIRS_PER_DOC,
        GEOMETRY_LARGE_N,
        estimate_pair_volume,
    )

    import time as _time

    min_docs = ADVISORY_MIN_DOCS if min_docs is None else min_docs
    pairs_per_doc = ADVISORY_PAIRS_PER_DOC if pairs_per_doc is None else pairs_per_doc
    if band_geometry is not None:
        return  # the caller already made the explicit choice
    _t0 = _time.perf_counter()
    n_docs = shingled.count()  # shingled is persisted by the caller — this
    # count IS its cache materialization (the Arrow shingle pass)
    if seam_seconds is not None:
        seam_seconds["shingle_mat_sec"] = round(_time.perf_counter() - _t0, 2)
    if n_docs < min_docs:
        return
    _t0 = _time.perf_counter()
    est_pairs = estimate_pair_volume(
        shingled, **({} if sample_mod is None else {"sample_mod": sample_mod})
    )
    if seam_seconds is not None:
        seam_seconds["advisory_estimate_sec"] = round(_time.perf_counter() - _t0, 2)
    ratio = est_pairs / max(n_docs, 1)
    if ratio >= pairs_per_doc:
        logging.getLogger(__name__).warning(
            "near-dedup candidate volume ~%.1f pairs/doc over %d docs — the "
            "default LSH geometry is in its background-quadratic regime; "
            "consider run_curation(band_geometry=%r) (see dedup.GEOMETRY_LARGE_N: "
            "sharper S-curve, measured candidate cut ~69x at sf100)",
            ratio,
            n_docs,
            GEOMETRY_LARGE_N,
        )


def _semantic_survivors(
    spark: SparkSession, sf_dir: str, deduped: DataFrame, *, cc_max_iter: int
) -> DataFrame:
    """SemDeDup pair source for the funnel: restrict the ``embeddings``
    table to the surviving docs (vec_id ≡ doc_id in the driver's data
    model), fit k-means on that restricted geometry, and close the
    within-cell cosine pairs with the same ``cluster_survivors`` contract
    as the MinHash path. k scales with the surviving corpus
    (``sd_cells_for``: k ≈ n/SD_CELL_TARGET, floored at SD_K, capped at
    n) so per-cell pair volume stays bounded as the funnel grows — the
    fixed test-corpus k=8 measured 434 s at sf1 against 76 s for the
    whole MinHash stage (BENCH_SCALE_r08 curation_sf1)."""
    from ..operators.clustering import sd_cells_for, sd_fit_mod_for, semantic_pairs
    from ..operators.similarity import _dot

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = (
        deduped.select(F.col("doc_id").alias("vec_id"))
        .join(emb, "vec_id")
        .withColumn("norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))
        .persist()
    )
    n = corpus.count()  # also materializes the join once for the fit's iterations
    try:
        if n < 2:
            # nothing to pair: every doc is its own survivor
            return deduped.select(
                F.col("doc_id").alias("id"),
                F.col("doc_id").alias("comp"),
                F.lit(True).alias("is_survivor"),
            )
        # gram path: per-cell numpy Gram pairs (the production physics —
        # the join path's per-candidate fold measured 216 s at sf1); fit
        # on a hash-sample of ~SD_FIT_PER_CELL points per cell (with
        # scaled k a full-corpus fit pays O(n·k) distance work and n
        # fixed-point partial-sum rows PER ITERATION — quadratic-ish in n)
        k = sd_cells_for(n)
        pairs = semantic_pairs(
            corpus, k=k, path="gram", fit_sample_mod=sd_fit_mod_for(n, k)
        )
        return cluster_survivors(pairs, id_a="vec_a", id_b="vec_b", max_iter=cc_max_iter)
    finally:
        corpus.unpersist()


def run_curation_incremental(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    as_of: str = DEFAULT_AS_OF,
    *,
    n_batches: int = 4,
    cc_max_iter: int = 25,
    batch_walls: list | None = None,
    batch_stage_walls: list | None = None,
) -> DataFrame:
    """The funnel's INCREMENTAL mode (round 9, VERDICT r8 item 8) — the
    shape a production 100 TB pipeline actually runs daily: documents
    arrive in ``n_batches`` doc_id-ordered slices; each batch passes the
    same row-local quality/sample gates, collapses its WITHIN-batch exact
    and near duplicates (the batch-local ``minhash_pairs`` +
    ``cluster_survivors`` pass), screens the remainder against the
    ACCUMULATED corpus through ``streaming.dedup.process_batch`` (exact
    hash + banded near screen — never batch × corpus), and appends its
    survivors. Packing then runs over the final corpus (``pack_docs`` is
    a pure function of the surviving doc set, so the packed layout is
    identical to the batch funnel's whenever the survivor sets agree).

    INCREMENT-EQUALS-BATCH (asserted in tests/test_curation.py): in
    doc_id-ascending arrival order this produces the same survivor set as
    ``run_curation`` over the union whenever near-dup components are
    stars/cliques around their lowest doc_id (planted copies and
    boilerplate families are). The one semantic divergence is inherent to
    ANY streaming dedup: a CHAIN component A–B–C where sim(A,C) < t
    removes C in the global transitive closure but keeps it
    incrementally once B (its only witness) was dropped in an earlier
    batch — the whole-corpus sweep (`run_curation`) is the documented
    repair, exactly like compaction repairs small files.

    Row-local gates commute with batching (same verdict per doc whatever
    slice it rides in), so gating INSIDE the loop is the real streaming
    shape AND comparable to the batch funnel."""
    import time as _time

    from ..streaming.dedup import process_batch, read_corpus

    audit = F.lit(as_of).cast("timestamp_ntz").alias("curated_at")
    docs = load_table(spark, sf_dir, "documents")
    lo_hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    lo, hi = int(lo_hi[0]), int(lo_hi[1])
    span = (hi - lo) // n_batches + 1

    corpus_dir = _p(base, "curation_inc", "corpus")
    verdicts_dir = _p(base, "curation_inc", "verdicts")
    # signature index (round 11, VERDICT r10 item 2): the corpus-side
    # hash/band/shingle derivations are written ONCE per batch and read
    # back by every later batch — per-batch cost stops growing with the
    # corpus's recompute volume (the measured 334→522 s sf100 growth)
    index_dir = _p(base, "curation_inc", "index")
    # A fresh run must not inherit the previous run's batch=N subdirs:
    # process_batch only overwrites the batches THIS run produces, so a
    # re-run with fewer batches (or changed gates) would silently fold the
    # prior run's stale batch=N output into read_corpus and the packed
    # corpus. Delete the whole tree first — the same drop-then-write
    # semantics overwrite_table gives the batch funnel (round-10 advice
    # fix; asserted in tests/test_curation.py).
    from ..sources.maintenance import delete_dir

    for d in (corpus_dir, verdicts_dir, index_dir):
        delete_dir(spark, d)
    # Round 15 (VERDICT r14 item 1 — why the incremental funnel never
    # inherited the batch funnel's 3.4× near-dedup win): the per-batch
    # plan re-EXECUTED its upstream repeatedly. (a) the batch's shingles
    # are persisted with it, so one Arrow pass materializes both caches
    # and the shingle pass is timed as its own seam (local_shingle_sec);
    # (b) the gated scan (documents read + quality
    # score + sample gate) and the local anti-join are subplans of
    # screen_batch's verdict branches AND the kept write — Spark performs
    # no cross-branch CSE, so they re-ran ~6× per batch (the swinging
    # 23.5–93.9 s batch_local_dedup / 10.4–81.8 s screen_verdicts walls
    # in BENCH_SCALE_r14 inc_shipped100). Persist the gated batch, its
    # shingles, and the local-survivor frame for the batch's lifetime —
    # a PHYSICAL choice (values identical; A/B'd survivor-hash-equal in
    # BENCH_SCALE_r15 inc_seam_attrib) that the span-keyed gate makes (see
    # _should_persist_batches). Seam walls land in ``batch_stage_walls``.
    inc_persist = _should_persist_batches(span)
    _ts = 0.0
    for i in range(n_batches):
        t0 = _time.perf_counter()
        _ts = t0
        stages: dict | None = {} if batch_stage_walls is not None else None

        def _smark(key: str) -> None:
            nonlocal _ts
            if stages is not None:
                stages[key] = round(_time.perf_counter() - _ts, 2)
            _ts = _time.perf_counter()

        arriving = docs.filter(
            (F.col("doc_id") >= lo + i * span) & (F.col("doc_id") < lo + (i + 1) * span)
        )
        gated = sample_gate(
            arriving.withColumn("quality_score", quality_score_col("text")).filter(
                F.col("quality_score") >= QUALITY_MIN
            )
        ).select("doc_id", "text")
        to_unpersist = []
        # same hh verify as the batch funnel's near-dup stage AND the
        # corpus screen below — increment-equals-batch requires one
        # detector end to end
        if inc_persist:
            gated = gated.persist()
            shingled = shingle_docs(gated, hh_only=True).persist()
            to_unpersist += [gated, shingled]
            shingled.count()  # materializes both caches (one Arrow pass)
            _smark("local_shingle_sec")
            pairs = minhash_pairs(gated, shingled=shingled, verify="hh")
        else:
            pairs = minhash_pairs(gated, verify="hh")
        losers = (
            cluster_survivors(pairs, max_iter=cc_max_iter, seam_seconds=stages)
            .filter(~F.col("is_survivor"))
            .select(F.col("id").alias("doc_id"))
        )
        _smark("local_pairs_cc_sec")
        batch = gated.join(losers, "doc_id", "left_anti")
        if inc_persist:
            batch = batch.persist()
            to_unpersist.append(batch)
            batch.count()
            _smark("local_batch_mat_sec")
        if stages is not None:
            # total for continuity with the r13/r14 probes (the seam
            # marks above sum to it); cluster_survivors evaluates the
            # pair plan eagerly, so these walls are real work
            stages["batch_local_dedup"] = round(_time.perf_counter() - t0, 2)
        process_batch(
            spark, batch, i, corpus_dir, verdicts_dir, index_dir=index_dir,
            stage_seconds=stages, persist=inc_persist,
        )
        for df in to_unpersist:
            df.unpersist()
        if batch_stage_walls is not None:
            batch_stage_walls.append(stages)
        if batch_walls is not None:
            batch_walls.append(round(_time.perf_counter() - t0, 2))

    final = read_corpus(spark, corpus_dir)
    overwrite_table(final.select("*", audit), _p(base, "curation_inc", "near_deduped"))
    packed = pack_docs(read_table(spark, _p(base, "curation_inc", "near_deduped")))
    overwrite_table(packed, _p(base, "curation_inc", "packed"))
    return read_table(spark, _p(base, "curation_inc", "near_deduped"))


def funnel_report(stages: Mapping[str, DataFrame]) -> DataFrame:
    """(stage, n_docs, n_tokens) per funnel stage, in funnel order, over
    the stage tables keyed by ``STAGES`` name."""
    frames = []
    for idx, stage in enumerate(STAGES):
        df = stages[stage]
        n_tok = (
            F.sum("n_tok") if "n_tok" in df.columns
            else F.sum(F.size(F.split(F.col("text"), " ")))
        )
        frames.append(
            df.agg(F.count(F.lit(1)).alias("n_docs"), n_tok.cast("long").alias("n_tokens")).select(
                F.lit(idx).alias("stage_idx"), F.lit(stage).alias("stage"), "n_docs", "n_tokens"
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def packed_sequences(spark: SparkSession, base: str) -> DataFrame:
    """The training-ready view: documents that fit their pack's budget cut
    (running_tok ≤ PACK_BUDGET), ordered within packs."""
    packed = read_table(spark, _p(base, "curation", "packed"))
    return packed.filter(F.col("running_tok") <= PACK_BUDGET).orderBy("pack_id", "running_tok")
