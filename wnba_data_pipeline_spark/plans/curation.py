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
from ..operators.text import pack_docs, quality_score_col, sample_gate
from ..sources.sinks import overwrite_table
from ..sources.tables import load_table

QUALITY_MIN = 0.5  # composite quality-score gate (doc_stats)
DEFAULT_AS_OF = "2001-09-01 00:00:00"

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
    auto-switch."""
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
    ``run_curation(band_geometry=...)`` choice (S-curve semantics — see
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


