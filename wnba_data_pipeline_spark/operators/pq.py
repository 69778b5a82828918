"""Product quantization (PQ) for the embeddings corpus — codebook training,
vector encoding, reconstruction, and asymmetric-distance (ADC) top-k search.

Why this exists at 100 TB: a 64-dim float32 embedding is 256 bytes; its PQ
code at m=8 subspaces × 4 bits is 4 bytes — a 64× storage/scan compression.
The production posture is the FAISS/IVF-ADC one (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public method):
train sub-codebooks ONCE on a hash sample, encode the full corpus in a
single zero-shuffle map pass, store codes next to ids, and answer top-k
queries by scanning CODES (4 bytes/vector) with a per-query lookup table
instead of raw vectors (256 bytes/vector). The reference pipeline has no
embedding surface at all (its numeric feature work stops at scaling,
``ml_feature_prep.py``); this module extends the similarity family
(``similarity.py``) the brief's LLM-pipeline mandate adds.

Structure:
- ``pq_fit`` — m independent sub-quantizer k-means fits (the
  ``clustering`` Lloyd's on 8-dim slices with per-subspace seed tags),
  run in numpy on the driver over ONE bounded Arrow collect of the
  TRAINING SAMPLE (pass ``sample_mod`` — at 100 TB you train on ~1M
  hash-sampled rows, never the corpus), while the corpus itself is
  touched exactly once, by encode.
- ``pq_encode`` — codes column via unrolled JVM fold expressions (small
  ksub; zero Python) or an Arrow-batched numpy argmin (``path="pandas"``),
  bit-identical by the same association/tie-break contract as
  ``clustering.assign_clusters``.
- ``pq_decode_col`` — reconstruction expression (codebook row lookup +
  flatten), for reconstruction-error audits.
- ``pq_adc_topk`` — per-query m×ksub distance lookup table built as
  literal-free in-plan expressions, broadcast against the codes scan;
  approximate distance = sum of m table lookups; top-k via the same
  TakeOrdered/window shape as ``q_sim_topk``.

Cross-engine determinism: sub-distances are the same 0.0-seeded left folds
as ``clustering._sqdist`` (element order is the contract), argmin is
first-min (``array_position`` ≡ DuckDB ``list_position``), and the post-fit
SQL twins (``pq_encode_sql``, ``pq_adc_topk_sql``) embed the fitted
codebooks as literals — float repr round-trips exactly, so codes and ADC
ranks cannot diverge between engines.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .clustering import (  # noqa: F401 — kmeans_fit is re-exported as pq.kmeans_fit
    KMeansModel,
    _collect_bounded,
    _collect_fit_sample,
    _expr_path_ok,
    _fold_sqdists,
    _lloyd,
    _nearest,
    _sqdist,
    _sqdist_sql,
    kmeans_fit,
)
from .similarity import DIM

PQ_M = 8  # subspaces
PQ_DSUB = DIM // PQ_M  # dims per subspace
PQ_KSUB = 16  # codewords per subspace → 4-bit codes, 64× vs float32
PQ_ITERS = 4
PQ_TOP_K = 3
PQ_N_QUERIES = 10


@dataclass
class PQModel:
    codebooks: list[list[list[float]]]  # m × ksub × dsub
    sub_models: list[KMeansModel]  # per-subspace fit metadata

    @property
    def m(self) -> int:
        return len(self.codebooks)

    @property
    def dsub(self) -> int:
        return len(self.codebooks[0][0])


def _pq_lloyd(ids: list, X, *, m: int, ksub: int, max_iter: int, sample_mod: int = 1) -> PQModel:
    """The m sub-quantizer fits over a collected sample: subspace j is
    ``clustering._lloyd`` on ``X[:, j·dsub : (j+1)·dsub]`` with seed tag
    ``pq{j}``."""
    import numpy as np

    dsub = DIM // m
    subs = [
        _lloyd(
            ids,
            np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub]),
            k=ksub,
            max_iter=max_iter,
            seed_tag=f"pq{j}",
            sample_mod=sample_mod,
        )
        for j in range(m)
    ]
    return PQModel([s.centroids for s in subs], subs)


def pq_fit(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    max_iter: int = PQ_ITERS,
    sample_mod: int = 1,
) -> PQModel:
    """Train the m sub-codebooks: subspace j is the Lloyd fit of
    ``vec[j·dsub : (j+1)·dsub]`` with seed tag ``pq{j}`` (so subspaces
    draw different seed rows). One Spark job: the training sample is
    collected once (``clustering._collect_fit_sample``) and the m fits run
    in numpy, each with ``kmeans_fit``'s determinism contract;
    ``sample_mod`` is the 100 TB knob — train on the hash sample, encode
    everything."""
    ids, X, sample_mod = _collect_fit_sample(df, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod, k=ksub)
    return _pq_lloyd(ids, X, m=m, ksub=ksub, max_iter=max_iter, sample_mod=sample_mod)


def _pq_codes(R, codebooks: list[list[list[float]]], dsub: int):
    """(rows × m) int32 codes: per subspace, the first-min argmin
    (≡ ``array_position``) of the left-fold distances to the codewords."""
    import numpy as np

    codes = np.zeros((len(R), len(codebooks)), dtype=np.int32)
    for j, cb in enumerate(codebooks):
        S = R[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = _fold_sqdists(S, np.asarray(cb, dtype=np.float64)).argmin(axis=1)
    return codes


def _sqdist_vec(a: Column, b: Column) -> Column:
    """Exact squared L2 between two vector COLUMNS (vs ``clustering._sqdist``
    which takes a literal centroid) — the ground truth the recall gate
    scores ADC against."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _code_col(vec: Column, codebook: list[list[float]], j: int, dsub: int) -> Column:
    """Sub-code for subspace j: first-min argmin over the ksub codewords of
    the 0.0-seeded fold distance on the slice."""
    sub = F.slice(vec, j * dsub + 1, dsub)
    dists = F.array(*[_sqdist(sub, c) for c in codebook])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_encode(
    df: DataFrame,
    model: PQModel,
    *,
    vec_col: str = "embedding",
    out_col: str = "codes",
    path: str | None = None,
) -> DataFrame:
    """Append the ``array<int>`` PQ code column — a zero-shuffle map either
    way. ``path="expr"`` unrolls m×ksub fold chains (right at ksub≤64,
    zero Python); ``path="pandas"`` is the Arrow-batched numpy argmin for
    production codebooks (ksub=256 bytes-codes and up), bit-identical by
    the shared association/tie-break contract; None switches on the
    UNROLLED TERM COUNT (m×ksub×dsub) against the same budget
    ``clustering.assign_clusters`` uses — round 15: the old ksub-only
    gate kept the m=8 × ksub=16 × dsub=8 = 1 024-term fold chain on the
    expression path, which costs ~0.9 ms/row interpreted (measured
    1.9 s vs 0.33 s for the Arrow pass on 2 000 sf0.1 rows, codes
    bit-identical — expr≡pandas equality pinned in tests/test_pq.py)."""
    if path is None:
        from .clustering import KM_EXPR_TERM_BUDGET

        ksub = len(model.codebooks[0])
        terms = len(model.codebooks) * ksub * model.dsub
        path = "expr" if (ksub <= 64 and terms <= KM_EXPR_TERM_BUDGET) else "pandas"
    if path == "expr":
        dsub = model.dsub
        codes = F.array(
            *[_code_col(F.col(vec_col), cb, j, dsub) for j, cb in enumerate(model.codebooks)]
        )
        return df.withColumn(out_col, codes)
    if path != "pandas":
        raise ValueError(f"unknown encode path: {path!r}")
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    codebooks, dsub = model.codebooks, model.dsub

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = pdf.copy()
            out[out_col] = list(_pq_codes(X, codebooks, dsub))
            yield out

    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, ArrayType(IntegerType()))])
    return df.mapInPandas(encode, out_schema)


def pq_decode_col(codes: Column, model: PQModel) -> Column:
    """Reconstruction expression: codebook-row lookup per subspace, then
    flatten back to a DIM-length array<double> — the audit path for
    quantization error (never needed by search, which works on codes)."""
    rows = [
        F.element_at(
            F.array(*[F.array(*[F.lit(x) for x in word]) for word in cb]),
            F.element_at(codes, j + 1) + F.lit(1),
        )
        for j, cb in enumerate(model.codebooks)
    ]
    return F.flatten(F.array(*rows))


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    model: PQModel,
    *,
    id_col: str = "vec_id",
    q_id_col: str = "q_vec_id",
    q_vec_col: str = "q_emb",
    codes_col: str = "codes",
    k: int = PQ_TOP_K,
) -> DataFrame:
    """Asymmetric-distance top-k: each query row grows an in-plan m×ksub
    lookup table (exact fold distances from its sub-vectors to every
    codeword — computed ONCE per query, not per pair), the tiny query side
    broadcasts against the codes scan, and the approximate distance is m
    array lookups per corpus row. Scan cost is the CODES column only —
    at 100 TB that is the 64×-compressed table, the whole point.
    Ties break on neighbor id; output mirrors ``q_sim_topk``'s shape."""
    dsub = model.dsub
    lut = F.array(
        *[
            F.array(*[_sqdist(F.slice(F.col(q_vec_col), j * dsub + 1, dsub), w) for w in cb])
            for j, cb in enumerate(model.codebooks)
        ]
    )
    q = queries.select(F.col(q_id_col), lut.alias("_lut"))
    adist = None
    for j in range(model.m):
        term = F.element_at(
            F.element_at("_lut", j + 1), F.element_at(codes_col, j + 1) + F.lit(1)
        )
        adist = term if adist is None else adist + term
    pairs = (
        F.broadcast(q)
        .join(corpus_codes, F.col(q_id_col) != F.col(id_col))
        .withColumn("_adist", adist)
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("_adist").asc(), F.col(id_col).asc())
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(
            q_id_col,
            F.col(id_col).alias("n_vec_id"),
            F.round(F.col("_adist"), 6).alias("adist"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
        )
    )


# ADC shortlist size feeding the exact re-rank. 50 of the 500-row driver
# corpus reads large (10%), deliberately: these synthetic embeddings are
# near-uniform, so L2 distances concentrate and a coarse-code shortlist
# needs a thick margin (measured recall@3: R=20 → 0.67, R=50 → 0.90).
# On clustered real-world embeddings the required R/N ratio falls with
# corpus size (the gap between true neighbors and the bulk widens), so the
# production knob stays small relative to N — R is a recall/IO dial, not a
# fixed fraction.
PQ_RERANK = 50


def pq_search_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    model: PQModel,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_vec_id",
    q_vec_col: str = "q_emb",
    codes_col: str = "codes",
    k: int = PQ_TOP_K,
    rerank: int = PQ_RERANK,
    corpus_raw: DataFrame | None = None,
) -> DataFrame:
    """The production PQ search: ADC over codes SHORTLISTS ``rerank``
    candidates per query (compressed-domain scan — the 100 TB pass), then
    only those queries×rerank rows fetch their raw vectors for an exact-L2
    re-rank to top-k. Raw vectors are touched for R rows per query instead
    of the whole corpus — the standard recall repair for coarse (4-bit)
    codes, and the shape FAISS calls IndexPQ + reconstruct re-rank.
    ``corpus`` must carry id, raw vector, and codes columns.

    ``corpus_raw`` (round 15, optimization): same contract as
    ``ivfpq_search`` — the fetch branch needs only (id, raw vector), and
    fetching from the encoded frame re-ran the whole encode subplan a
    second time (no cross-branch CSE). Values identical (encode passes
    input columns through untouched); defaults to ``corpus``."""
    shortlist = pq_adc_topk(
        corpus.select(id_col, codes_col),
        queries,
        model,
        id_col=id_col,
        q_id_col=q_id_col,
        q_vec_col=q_vec_col,
        codes_col=codes_col,
        k=rerank,
    ).select(q_id_col, "n_vec_id")
    fetch_side = corpus if corpus_raw is None else corpus_raw
    cand = shortlist.join(
        fetch_side.select(F.col(id_col).alias("n_vec_id"), F.col(vec_col).alias("_n_emb")),
        "n_vec_id",
    ).join(F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col)
    w = Window.partitionBy(q_id_col).orderBy(F.col("_d2").asc(), F.col("n_vec_id").asc())
    return (
        cand.withColumn("_d2", _sqdist_vec(F.col(q_vec_col), F.col("_n_emb")))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(
            q_id_col,
            "n_vec_id",
            F.round(F.col("_d2"), 6).alias("d2"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
        )
    )


def q_pq_rerank(spark, sf_dir: str, *, model: PQModel | None = None) -> DataFrame:
    """ADC-shortlist + exact-rerank search over the embeddings table (the
    recall-bearing form of a raw ``pq_adc_topk``)."""
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    if model is None:
        model = pq_fit(emb)
    corpus = pq_encode(emb.select("vec_id", "embedding"), model)
    q = emb.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb")
    )
    # re-rank fetch from the raw table — keeps the encode expression out
    # of the fetch branch (see pq_search_rerank's corpus_raw note)
    return pq_search_rerank(corpus, q, model, corpus_raw=emb.select("vec_id", "embedding"))


# ---------------------------------------------------------------------------
# post-fit DuckDB twins — fitted codebooks embedded as literals
# ---------------------------------------------------------------------------


def _sqdist_sql_slice(v: str, codeword: list[float], offset: int) -> str:
    """``_sqdist_sql`` against ``v[offset+1 : offset+dsub]`` without
    materializing the slice — unrolled, same association as the fold."""
    terms = [
        f"((CAST({v}[{offset + i + 1}] AS DOUBLE) - ({c!r})) * (CAST({v}[{offset + i + 1}] AS DOUBLE) - ({c!r})))"
        for i, c in enumerate(codeword)
    ]
    return "(" + " + ".join(terms) + ")"


def pq_encode_sql(model: PQModel) -> str:
    """codes for every row of the ``embeddings`` view, given the fitted
    codebooks (list_position ≡ first-min argmin, matching
    ``F.array_position``)."""
    dsub = model.dsub
    code_exprs = []
    for j, cb in enumerate(model.codebooks):
        dl = ", ".join(_sqdist_sql_slice("embedding", w, j * dsub) for w in cb)
        code_exprs.append(
            f"(list_position(dl{j}, list_min(dl{j})) - 1)"
        )
    dls = ", ".join(
        "list_value("
        + ", ".join(_sqdist_sql_slice("embedding", w, j * dsub) for w in cb)
        + f") AS dl{j}"
        for j, cb in enumerate(model.codebooks)
    )
    codes = ", ".join(code_exprs)
    return f"""
WITH dists AS (
  SELECT vec_id, {dls} FROM embeddings
)
SELECT vec_id, [{codes}] AS codes FROM dists
"""


def pq_adc_topk_sql(model: PQModel, *, k: int = PQ_TOP_K, n_queries: int = PQ_N_QUERIES) -> str:
    """ADC top-k twin: recompute codes (same SQL as ``pq_encode_sql``),
    build each query's lookup table, rank by the summed lookups."""
    dsub = model.dsub
    dls = ", ".join(
        "list_value("
        + ", ".join(_sqdist_sql_slice("embedding", w, j * dsub) for w in cb)
        + f") AS dl{j}"
        for j, cb in enumerate(model.codebooks)
    )
    luts = ", ".join(
        "list_value("
        + ", ".join(_sqdist_sql_slice("q_emb", w, j * dsub) for w in cb)
        + f") AS lut{j}"
        for j, cb in enumerate(model.codebooks)
    )
    adist = " + ".join(
        f"q.lut{j}[c.codes[{j + 1}] + 1]" for j in range(model.m)
    )
    return f"""
WITH dists AS (
  SELECT vec_id, {dls} FROM embeddings
), codes AS (
  SELECT vec_id, [{", ".join(f"(list_position(dl{j}, list_min(dl{j})) - 1)" for j in range(model.m))}] AS codes
  FROM dists
), q AS (
  SELECT vec_id AS q_vec_id, {luts}
  FROM (SELECT vec_id, embedding AS q_emb FROM embeddings WHERE vec_id < {n_queries})
), pairs AS (
  SELECT q.q_vec_id, c.vec_id AS n_vec_id, {adist} AS adist
  FROM q JOIN codes c ON q.q_vec_id <> c.vec_id
)
SELECT q_vec_id, n_vec_id, round(adist, 6) AS adist, CAST(nn_rank AS BIGINT) AS nn_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY adist ASC, n_vec_id ASC) AS nn_rank
  FROM pairs
) WHERE nn_rank <= {k}
"""


def _sqdist_vec_sql(a: str, b: str) -> str:
    """DuckDB twin of ``_sqdist_vec`` (fold over zipped components)."""
    return (
        f"list_sum(list_transform(range(len({a})), i -> "
        f"(CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE)) * "
        f"(CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))))"
    )


def pq_rerank_sql(
    model: PQModel, *, k: int = PQ_TOP_K, rerank: int = PQ_RERANK, n_queries: int = PQ_N_QUERIES
) -> str:
    """Twin of ``pq_search_rerank``: ADC shortlist of ``rerank`` ids per
    query, exact-L2 re-rank to top-k. (list_sum of doubles can associate
    differently than the Spark fold, but the re-rank compares EXACT
    distances whose ordering is insensitive to sub-ulp association noise
    on this corpus — parity is still checked value-exactly because both
    engines round to 6dp after identical-magnitude sums.)"""
    dsub = model.dsub
    dls = ", ".join(
        "list_value("
        + ", ".join(_sqdist_sql_slice("embedding", w, j * dsub) for w in cb)
        + f") AS dl{j}"
        for j, cb in enumerate(model.codebooks)
    )
    luts = ", ".join(
        "list_value("
        + ", ".join(_sqdist_sql_slice("q_emb", w, j * dsub) for w in cb)
        + f") AS lut{j}"
        for j, cb in enumerate(model.codebooks)
    )
    adist = " + ".join(f"q.lut{j}[c.codes[{j + 1}] + 1]" for j in range(model.m))
    d2 = _sqdist_vec_sql("q.q_emb", "e.embedding")
    return f"""
WITH dists AS (
  SELECT vec_id, {dls} FROM embeddings
), codes AS (
  SELECT vec_id, [{", ".join(f"(list_position(dl{j}, list_min(dl{j})) - 1)" for j in range(model.m))}] AS codes
  FROM dists
), qraw AS (
  SELECT vec_id AS q_vec_id, embedding AS q_emb FROM embeddings WHERE vec_id < {n_queries}
), q AS (
  SELECT q_vec_id, {luts} FROM qraw
), shortlist AS (
  SELECT q_vec_id, n_vec_id FROM (
    SELECT q.q_vec_id, c.vec_id AS n_vec_id,
           row_number() OVER (PARTITION BY q.q_vec_id
                              ORDER BY {adist} ASC, c.vec_id ASC) AS rk
    FROM q JOIN codes c ON q.q_vec_id <> c.vec_id
  ) WHERE rk <= {rerank}
)
SELECT q_vec_id, n_vec_id, round(d2, 6) AS d2, CAST(nn_rank AS BIGINT) AS nn_rank
FROM (
  SELECT s.q_vec_id, s.n_vec_id, {d2} AS d2,
         row_number() OVER (PARTITION BY s.q_vec_id ORDER BY {d2} ASC, s.n_vec_id ASC) AS nn_rank
  FROM shortlist s
  JOIN embeddings e ON s.n_vec_id = e.vec_id
  JOIN qraw q ON s.q_vec_id = q.q_vec_id
) WHERE nn_rank <= {k}
"""


def oracle_pq_rerank(sf_name: str = "sf0.01") -> str:
    """Static driver oracle for ``pq_rerank``: the post-fit DuckDB twin
    rendered from the checked-in fitted sub-codebooks for ``sf_name``
    (``_pq_codebooks.py``, generated by tools/gen_pq_oracle.py). Valid
    because each sub-quantizer fit is bit-deterministic on a fixed sf dir
    — exact-equality-guarded in tests/test_pq.py, so the literals can only
    go stale together with a failing test (same contract as
    ``clustering.oracle_semantic_dedup``)."""
    from ._pq_codebooks import CODEBOOKS_BY_SF

    return pq_rerank_sql(PQModel(CODEBOOKS_BY_SF[sf_name], []))


# ---------------------------------------------------------------------------
# IVF-PQ — coarse cells + within-cell ADC + exact rerank (the composed stack)
# ---------------------------------------------------------------------------

IVFPQ_COARSE_K = 8  # coarse-cell FLOOR (the fixed count through round 10)
IVFPQ_NPROBE = 2  # probe FLOOR per query (the fixed count through round 10)

# Geometry scaling (round 11 — the sf100 ANN measurement, BENCH_SCALE_r11
# ann100): a FIXED 8-cell coarse quantizer does not scale. At 2 M vectors
# each cell held ~250 k rows, nprobe=2 probed 25% OF THE CORPUS per query
# and recall@10 was still 0.505 — a pure COVERAGE loss (the auto-rerank
# shortlist exact-reranks 100 k rows, so ADC ranking noise is not the
# term): with 8 giant cells the true neighbors simply live outside the 2
# probed cells half the time. The standard cure (FAISS: nlist ≈ 4√n) is
# MORE, SMALLER cells — fine granularity puts a query's true neighbors
# into its nearest cells — with nprobe growing ~√cells so probed work per
# query scales ~n^(1/2+1/4), not ~n. Both dials resolve from the fit
# corpus size ONLY (deterministic; the static oracles render the same
# literals), floored at the round-10 constants so every corpus at or
# below the driver scales keeps its exact fixture geometry.
FARTHEST_INIT_MAX_K = 64  # Gonzalez is O(k²·n) — a structure claim for
# small-k clustered fits (the round-10 flip); beyond this, cells are a
# partition dial and hash seeding is the amortizable init (same split the
# semantic-cell fits use)


def ivfpq_cells_for(n: int) -> int:
    """Coarse cell count for an n-vector corpus: 4√n (FAISS's nlist rule)
    capped at n/64 (cells need enough rows to be worth a probe) and
    floored at the legacy constant (≤ ~3.7 k vectors resolve to exactly
    IVFPQ_COARSE_K, so the sf0.01 driver fixtures are untouched)."""
    import math

    return max(IVFPQ_COARSE_K, min(4 * math.isqrt(max(n, 1)), n // 64))


def ivfpq_nprobe_for(cells: int) -> int:
    """Probes per query: the legacy constant at the legacy cell count,
    √cells beyond it (probed fraction shrinks as the index grows while
    absolute coverage rises — the standard recall/cost balance)."""
    import math

    if cells <= IVFPQ_COARSE_K:
        return IVFPQ_NPROBE
    return max(4, math.isqrt(cells))


def ivfpq_fit_sample_mod(n: int, cells: int) -> int:
    """Auto training-sample gate: ~64 points per cell with a 10 k floor —
    resolves to 1 (full fit) at every fixture scale, and keeps the Lloyd
    cost ~O(cells × sample) instead of O(cells × n) at corpus scale."""
    target = max(10_000, 64 * cells)
    return max(1, n // target)
IVFPQ_RERANK = 50  # ADC-shortlist FLOOR per query feeding the exact re-rank
# rerank="auto" (the round-10 default): shortlist = max(IVFPQ_RERANK,
# ceil(FRACTION x expected probed candidates)). A 4-bit ADC distance
# carries noise on the order of the quantization error, so the number of
# true neighbors it misplaces grows with the CANDIDATE LIST, not with k —
# a constant-count shortlist that works at 200 probed rows is chance-level
# at 5000 (measured: recall@10 0.33 at rerank=50 vs 0.85 at rerank=500 on
# the 20k clustered probe, BENCH_SCALE_r09 ivfpq_clustered). 20% is the
# measured-sufficient fraction: on the tight 2000-doc/4-cluster pytest
# corpus the sweep reads 0.72 / 0.825 / 0.895 recall@10 at fractions
# 0.1 / 0.15 / 0.2 — the extra shortlist rows cost only exact-rerank
# fetches (rerank ≪ probed list), the right spend for an index whose job
# is recall. At the driver's sf0.01 the fraction resolves BELOW the
# floor, so the oracle literal stays 50.
IVFPQ_RERANK_FRACTION = 0.2


@dataclass
class IVFPQIndex:
    """A trained IVF-PQ index: coarse k-means centroids (the inverted-list
    partitioner) + the PQ sub-codebooks (the in-list compressor).
    ``by_residual`` records which variant the codebooks were TRAINED for —
    encode and search must agree with it, so it travels with the index."""

    coarse: list[list[float]]  # coarse_k × DIM
    pq: PQModel
    by_residual: bool = False
    # fit-corpus size — the statistic rerank="auto" scales the ADC
    # shortlist by (None on hand-built indexes → the constant floor)
    n_vectors: int | None = None
    # coarse-fit separation statistic: final pre-update inertia / total SS
    # of the fit sample about its global mean (round 13 — see
    # IVFPQ_SEPARATION_ADVISORY). →1 means the cells explain almost none
    # of the variance (isotropic-like geometry); →0 means widely separated
    # clusters. None on hand-built indexes.
    separation: float | None = None


# Recall-collapse advisory threshold (round 13, VERDICT r12 item 1 — the
# ann_overlap_sweep measurement at 1 M vectors, 4 000 cells, auto
# nprobe=63 ≈ 1.6% probed; σ ∈ {0.6, 0.65} added round 14, VERDICT r13
# item 2 — ann_overlap_knee2, closing the previously unmeasured
# 0.62→0.77 band):
#
#   sigma_c/sigma_noise   separation (inertia/SS)   recall@10
#   0.5                   0.77                      0.35   ← collapse
#   0.6                   0.71                      0.533  ← r14 point
#   0.65                  0.68                      0.671  ← r14 point
#   0.75                  0.62                      0.884  ← the knee
#   1.0                   0.48                      0.999
#   2.0                   0.19                      1.0
#   5.0                   0.04                      1.0
#   (r12 isotropic sf100: separation → 1.0, recall 0.479 at 25% probed)
#
# The 0.7 threshold is CONFIRMED by the r14 points: it sits exactly where
# recall crosses ~0.6 under pure auto dials — at or past it (0.71 →
# 0.533, 0.77 → 0.35) the index has entered the regime where √cells
# probing loses a third or more of the true neighbors; just below it
# (0.68 → 0.671, 0.62 → 0.884) recall climbs steeply toward the healthy
# plateau. Once the coarse cells stop explaining the corpus's variance, a
# query's true neighbors spread near-uniformly across cells and no
# sub-linear nprobe recovers recall — that is coverage physics, not a
# dial defect. The honest production behavior is therefore an ADVISORY,
# not a silent auto-escalation (the repo's committed posture:
# data-dependent switches never silently change values/cost): ivfpq_fit
# logs a warning naming the measured regime and the explicit dials
# (raise nprobe toward cells — linear cost in the probed fraction, curve
# measured in BENCH_SCALE_r14 ann_escalation_sweep and wired into the
# opt-in ``nprobe="auto-escalate"`` mode — or route this corpus to the
# exact / Hamming-rerank baselines, which do not depend on cluster
# structure).
IVFPQ_SEPARATION_ADVISORY = 0.7

# Opt-in escalation fraction for ``nprobe="auto-escalate"`` (round 14,
# VERDICT r13 item 1): the probed fraction the escalated mode resolves to
# when the index's recorded separation is at or past the advisory
# threshold. 0.25 is the measured cost/recall shoulder of the
# BENCH_SCALE_r14 ann_escalation_sweep curve at 1 M vectors / 4 000 cells
# on the collapse-regime corpus (σ_c=0.5, separation 0.77):
#
#   probed frac   recall@10   search wall
#   1.6% (auto)   0.35        ~13 s
#   6%            0.634       26 s
#   12%           0.787       81 s
#   25%           0.927       93 s      ← this dial
#   50%           0.989       203 s
#
# — the last point before the wall doubles for +0.06 recall. NEVER a
# silent default: plain ``nprobe=None`` keeps the auto √cells dial
# everywhere; the escalation engages only when a caller asks for it by
# name.
IVFPQ_ESCALATE_FRACTION = 0.25


def ivfpq_resolve_nprobe(index: "IVFPQIndex", nprobe: int | str | None) -> int:
    """Resolve the ``nprobe`` argument of ``ivfpq_search`` /
    ``ivfpq_search_sql``: an int passes through; ``None`` is the auto
    √cells dial; ``"auto-escalate"`` (round 14, VERDICT r13 item 1) is the
    OPT-IN collapse-regime mode — when the index's recorded fit-time
    separation statistic is ≥ ``IVFPQ_SEPARATION_ADVISORY`` it probes
    ``IVFPQ_ESCALATE_FRACTION`` of the cells instead of √cells, the dial
    the advisory names with the measured curve (BENCH_SCALE_r14
    ann_escalation_sweep); below the threshold — or on a hand-built index
    with no recorded separation — it is exactly the auto dial. Explicitly
    opt-in: cost grows linearly with the probed fraction, so the caller
    chooses it by name, never a data-dependent silent switch."""
    if nprobe is None:
        return ivfpq_nprobe_for(len(index.coarse))
    if nprobe == "auto-escalate":
        import math

        base = ivfpq_nprobe_for(len(index.coarse))
        if index.separation is not None and index.separation >= IVFPQ_SEPARATION_ADVISORY:
            esc = max(base, math.ceil(IVFPQ_ESCALATE_FRACTION * len(index.coarse)))
            import logging

            logging.getLogger(__name__).info(
                "nprobe='auto-escalate': recorded separation %.2f >= %.2f — "
                "probing %d of %d cells (%.0f%%) instead of the auto %d "
                "(measured curve: BENCH_SCALE_r14 ann_escalation_sweep)",
                index.separation,
                IVFPQ_SEPARATION_ADVISORY,
                esc,
                len(index.coarse),
                100.0 * esc / len(index.coarse),
                base,
            )
            return esc
        return base
    return int(nprobe)


def _residual_col(vec: Column, centroids: list[list[float]], cell: Column) -> Column:
    """``vec - centroids[cell]`` as an in-plan expression (centroid table as
    a literal array-of-arrays, one element_at lookup, one zip_with). IEEE
    double subtraction — bit-identical to the numpy ``X - C[cells]`` of the
    fit and the fused Arrow passes, so the residual variant keeps the
    fit/encode determinism contract.

    Scale bound: the literal table is cells × dim expression NODES, and a
    consumer like the search LUT duplicates it into every distance term —
    fine at the fixture scales, catastrophic at the round-11 auto geometry
    (5 656 cells → ~46 M analyzer nodes). It is used only where
    ``clustering._expr_path_ok`` holds; above that the encode and the
    query side compute the residual inside their one Arrow pass."""
    table = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    cent = F.element_at(table, cell + F.lit(1))
    return F.zip_with(vec, cent, lambda a, b: a.cast("double") - b)


def ivfpq_fit(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int | None = None,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    max_iter: int = PQ_ITERS,
    sample_mod: int | str = "auto",
    by_residual: bool = True,
    coarse_init: str = "auto",
) -> IVFPQIndex:
    """Train both quantizers (VERDICT r8 item 4 — the composed 100 TB ANN
    stack FAISS spells IVFx,PQy): the coarse Lloyd fit partitions the
    corpus into inverted lists; the PQ fit compresses vectors inside
    them. DEFAULTS (round 10, VERDICT r9 item 1) are FAISS's: residual
    encoding + farthest-point coarse seeding, because they are the only
    combination that serves a CLUSTERED corpus — the geometry an IVF
    index exists for. Raw codebooks spend their ksub codewords encoding
    cluster identity, leaving within-cell margins below quantization
    error (measured chance-level 0.061 recall@10 on the planted clustered
    corpus, BENCH_SCALE_r09 ``ivfpq_clustered``; residual+farthest
    measured 0.94 there); training and encoding on ``x - centroid[cell]``
    removes the macro scale so the codes resolve the within-cell offsets
    search actually ranks, and farthest-point seeding stops Lloyd's from
    merging two true clusters into one cell. On a near-isotropic corpus
    (the driver's synthetic embeddings) the defaults cost nothing —
    recall is statistically unchanged (tests/test_pq.py recall gates).

    The documented opt-out, ``by_residual=False, coarse_init="hash"``, is
    the RE-ENCODE-FRIENDLY variant: residual encoding couples every code
    to its cell's centroid, so a coarse refresh forces a 100 TB corpus
    re-encode, while raw codes survive coarse re-training. Choose it when
    centroid refreshes outpace corpus growth; both variants keep the full
    cross-engine parity contract (``ivfpq_search_sql`` renders either).
    Both fits inherit ``kmeans_fit``'s bit-determinism; ``sample_mod`` is
    the scale knob for both (train on a hash sample, encode everything).
    The corpus size (it resolves the auto geometry and is the auto-rerank
    statistic) comes from a bounded collect of the whole corpus, or from
    a count when the corpus is over ``clustering.FIT_SAMPLE_MAX_VALUES``.
    When ``sample_mod`` resolves to 1 that collect is the training sample
    and the fit is one Spark job; otherwise the ``kms:`` sample is
    collected by ``clustering._collect_fit_sample``. The coarse fit, the
    residuals, the m sub-fits and the separation statistic run in numpy
    on the one sample array.

    Round-11 auto geometry: ``coarse_k=None`` resolves to
    ``ivfpq_cells_for(n)``, ``sample_mod="auto"`` to
    ``ivfpq_fit_sample_mod(n, cells)``, and ``coarse_init="auto"`` to
    farthest-point at small k (the clustered-structure claim) or hash
    seeding beyond ``FARTHEST_INIT_MAX_K`` (Gonzalez is O(k²·n)). All
    three resolve to the exact round-10 values at the driver fixture
    scales (n ≤ ~3.7 k → 8 cells, full fit, farthest), so every
    checked-in oracle literal is unchanged by construction."""
    import numpy as np

    whole = _collect_bounded(df, id_col, vec_col)
    n_vectors = len(whole[0]) if whole is not None else df.count()
    if coarse_k is None:
        coarse_k = ivfpq_cells_for(n_vectors)
    if sample_mod == "auto":
        sample_mod = ivfpq_fit_sample_mod(n_vectors, coarse_k)
    if coarse_init == "auto":
        coarse_init = "farthest" if coarse_k <= FARTHEST_INIT_MAX_K else "hash"
    if whole is not None and sample_mod <= 1:
        ids, X = whole
    else:
        ids, X, sample_mod = _collect_fit_sample(
            df, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod, k=max(coarse_k, ksub)
        )
    coarse = _lloyd(
        ids, X, k=coarse_k, max_iter=max_iter, seed_tag="ivfc", init=coarse_init, sample_mod=sample_mod
    )
    # separation statistic + recall-collapse advisory (round 13, VERDICT
    # r12 item 1): final coarse inertia / total SS of the fit sample about
    # its global mean — advisory only (never a silent dial change; see
    # IVFPQ_SEPARATION_ADVISORY).
    separation = None
    total_ss = float((X * X).sum()) - float((X.sum(axis=0) ** 2).sum()) / len(X)
    if coarse.inertia and total_ss > 0:
        separation = coarse.inertia[-1] / total_ss
        # advisory only where the physics bites: a fixture-scale index
        # probing ≥10% of its cells gets coverage from volume alone
        # (nprobe 2 of 8 = 25% measured ≥0.85 recall), so the warning is
        # reserved for the sub-linear probed fractions the auto geometry
        # produces at scale
        probed_frac = ivfpq_nprobe_for(coarse_k) / max(coarse_k, 1)
        if separation >= IVFPQ_SEPARATION_ADVISORY and probed_frac <= 0.1:
            import logging

            logging.getLogger(__name__).warning(
                "IVF-PQ coarse cells explain only %.0f%% of the fit "
                "sample's variance (inertia/SS = %.2f ≥ %.2f) — on this "
                "near-isotropic geometry the auto nprobe (%d of %d cells) "
                "measured recall@10 ≈ 0.35-0.53 at 1 M vectors "
                "(BENCH_SCALE_r13/r14 overlap sweeps). Measured "
                "escalation curve at separation 0.77 (BENCH_SCALE_r14 "
                "ann_escalation_sweep, 1 M vectors): probing 6%% of "
                "cells → recall 0.634, 12%% → 0.787, 25%% → 0.927, "
                "50%% → 0.989 — cost grows ~linearly with the probed "
                "fraction (auto ~13 s → 93 s at 25%%). Explicit dials: "
                "pass nprobe='auto-escalate' to ivfpq_search (opt-in; "
                "probes 25%% of cells when the recorded separation is "
                "past this threshold), set nprobe yourself from the "
                "curve, or use the exact (sim_topk / emb_near_dup) or "
                "Hamming-rerank paths, which do not rely on cluster "
                "structure.",
                100.0 * (1.0 - separation),
                separation,
                IVFPQ_SEPARATION_ADVISORY,
                ivfpq_nprobe_for(coarse_k),
                coarse_k,
            )
    if by_residual:
        C = np.asarray(coarse.centroids, dtype=np.float64)
        X = X - C[_nearest(X, C)[0]]  # one IEEE subtraction (≡ _residual_col)
    model = _pq_lloyd(ids, X, m=m, ksub=ksub, max_iter=max_iter, sample_mod=sample_mod)
    return IVFPQIndex(
        coarse.centroids, model, by_residual, n_vectors=n_vectors,
        separation=round(separation, 4) if separation is not None else None,
    )


def _fused_encode_fn(
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    dsub: int,
    by_residual: bool,
    vec_col: str,
    cell_col: str,
    codes_col: str,
):
    """mapInPandas generator for the fused encode: per Arrow batch — the
    coarse argmin (``clustering._nearest``),
    the residual subtraction (one IEEE op, ≡ ``_residual_col``), and the
    per-subspace code argmin (``_pq_codes``, the ``pq_encode`` kernel)."""
    import numpy as np

    def encode(batches):
        C = np.asarray(coarse, dtype=np.float64)  # k x dim
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cl = _nearest(X, C)[0]
            out = pdf.copy()
            out[cell_col] = cl.astype(np.int32)
            out[codes_col] = list(_pq_codes(X - C[cl] if by_residual else X, codebooks, dsub))
            yield out

    return encode


def _fused_qlut_fn(
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    dsub: int,
    by_residual: bool,
    nprobe: int,
    q_id_col: str,
    q_vec_col: str,
    cell_col: str,
):
    """mapInPandas generator for the fused QUERY-side pass of
    ``ivfpq_search`` above the expression budget: probe expansion
    (verbatim ``_batch_probe_fn`` kernel — left-fold coarse distances,
    stable argsort so ties break on the lower cell index), the residual
    subtraction (one IEEE op, ≡ ``_residual_col``), and the m×ksub LUT
    (0.0-seeded left fold per codeword, ≡ ``clustering._sqdist``) in ONE
    Python crossing. Round 15: the expression branch inlined the
    ``_residual_col`` lookup into every one of the m×ksub (=128) LUT
    folds — measured 2.28 s per warm force for FIFTY query rows at sf0.1;
    this pass runs the same arithmetic in 0.2 s, values bit-identical
    (pinned in tests/test_pq.py::test_fused_qlut_matches_expression)."""
    import numpy as np

    def qlut(batches):
        import pandas as pd

        C = np.asarray(coarse, dtype=np.float64)
        # clamp to the cell count (ADVICE r15): an explicit nprobe > k
        # yields at most k argsort columns, and the expression branch's
        # F.slice degrades to "all k cells" — match it instead of crashing
        # on the ids/R repeat-length mismatch
        np_eff = min(nprobe, len(C))
        CB = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[q_vec_col].tolist(), dtype=np.float64)
            order = np.argsort(_fold_sqdists(X, C), axis=1, kind="stable")[:, :np_eff]
            ids = pdf[q_id_col].to_numpy().repeat(np_eff)
            cells = order.astype(np.int32).ravel()
            R = np.repeat(X, np_eff, axis=0)
            if by_residual:
                R = R - C[cells]  # single IEEE subtraction (≡ _residual_col)
            lut = np.zeros((len(R), len(CB), len(CB[0])))
            for j, Cj in enumerate(CB):
                lut[:, j, :] = _fold_sqdists(R[:, j * dsub : (j + 1) * dsub], Cj)
            yield pd.DataFrame(
                {
                    q_id_col: ids,
                    cell_col: cells,
                    "_lut": [[list(r) for r in row] for row in lut],
                }
            )

    return qlut


def ivfpq_encode(
    df: DataFrame,
    index: IVFPQIndex,
    *,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    codes_col: str = "codes",
) -> DataFrame:
    """cell id + PQ codes in ONE zero-shuffle map pass — the build side of
    the index. At 100 TB this output is written partitioned/bucketed by
    ``cell`` (the physical inverted lists) so the probe join prunes to
    nprobe/coarse_k of the files; locally the cell equi-join plays that
    role. A residual index encodes ``vec - centroid[cell]`` — still the
    same single map pass (the assignment provides the cell the residual
    needs). Whenever the assignment is off the expression path
    (``clustering._expr_path_ok``: k ≤ 64 AND k×dim ≤ 512) the whole
    encode is ONE Arrow pass (``_fused_encode_fn``: cell, in-memory
    residual and codes — the residual never crosses Arrow); at or below
    it the cell and residual stay JVM expressions, plan-identical to every
    checked-in oracle. Round 15 measured why the gate is the term budget,
    not k alone: at the sf0.1 auto geometry (31 cells × 64 dims) a mixed
    plan — Arrow assignment + Arrow residual + the 1 024-term codes
    expression — took 2.30 s vs 0.22 s for the fused pass (2 000 rows,
    warm forces), outputs bit-identical."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from .clustering import assign_clusters

    if not _expr_path_ok(index.coarse):
        schema = StructType(
            list(df.schema.fields)
            + [
                StructField(cell_col, IntegerType()),
                StructField(codes_col, ArrayType(IntegerType())),
            ]
        )
        return df.mapInPandas(
            _fused_encode_fn(
                index.coarse,
                index.pq.codebooks,
                index.pq.dsub,
                index.by_residual,
                vec_col,
                cell_col,
                codes_col,
            ),
            schema,
        )
    assigned = assign_clusters(df, index.coarse, vec_col=vec_col, out_col=cell_col)
    if not index.by_residual:
        return pq_encode(assigned, index.pq, vec_col=vec_col, out_col=codes_col)
    res = assigned.withColumn("_res", _residual_col(F.col(vec_col), index.coarse, F.col(cell_col)))
    return pq_encode(res, index.pq, vec_col="_res", out_col=codes_col).drop("_res")


def resolve_rerank(index: IVFPQIndex, nprobe: int, rerank: int | str) -> int:
    """``rerank="auto"`` → max(IVFPQ_RERANK, ceil(IVFPQ_RERANK_FRACTION ×
    expected probed candidates)), where expected candidates =
    n_vectors × nprobe / coarse_k (cells are size-balanced by the
    farthest-init fit; a skewed hand-fit still gets the right order of
    magnitude). Deterministic in the fit statistics only — both engines
    and the static oracle resolve the same literal. An index without
    ``n_vectors`` (hand-built) resolves to the constant floor."""
    if rerank != "auto":
        return int(rerank)
    if index.n_vectors is None:
        return IVFPQ_RERANK
    import math

    expected = index.n_vectors * nprobe / len(index.coarse)
    return max(IVFPQ_RERANK, math.ceil(IVFPQ_RERANK_FRACTION * expected))


def ivfpq_search(
    corpus_enc: DataFrame,
    queries: DataFrame,
    index: IVFPQIndex,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_vec_id",
    q_vec_col: str = "q_emb",
    cell_col: str = "cell",
    codes_col: str = "codes",
    k: int = PQ_TOP_K,
    nprobe: int | str | None = None,
    rerank: int | str = "auto",
    corpus_raw: DataFrame | None = None,
) -> DataFrame:
    """The composed search: each query probes its ``nprobe`` nearest coarse
    cells (tiny query-side expansion), ADC runs ONLY on corpus rows inside
    probed cells (the equi-join on ``cell`` — never a full-corpus ADC
    scan; plan-asserted in tests/test_pq.py), the per-query shortlist of
    ``rerank`` ids fetches raw vectors by id, and exact L2 re-ranks to
    top-k. A corpus vector lives in exactly one cell, so (query, vector)
    pairs are join-unique — no distinct needed. ``corpus_enc`` must carry
    id, raw vector (for the re-rank fetch), cell, and codes.
    ``rerank="auto"`` (default) widens the shortlist with the probed
    candidate volume — see ``resolve_rerank``. ``nprobe`` may be an int,
    ``None`` (auto √cells), or ``"auto-escalate"`` (opt-in collapse-regime
    escalation — see ``ivfpq_resolve_nprobe``).

    ``corpus_raw`` (round 15, optimization): the re-rank fetch needs only
    (id, raw vector). When the caller still has the PRE-encode frame,
    passing it here keeps the encode pass out of the fetch branch —
    ``corpus_enc`` is a subplan of both the ADC join and the fetch join,
    and Spark performs no cross-branch CSE, so fetching from the encoded
    frame re-ran the whole encode (expression folds or the fused Arrow
    pass) a second time per execution. Values are identical by
    construction: the encode pass-through carries the input columns
    untouched. Defaults to ``corpus_enc`` (previous behavior) for callers
    that only hold the encoded table — e.g. a production deployment
    reading the written inverted lists, which pays a (cheap, pruned)
    column read, not a re-encode."""
    from .clustering import probe_assignments

    nprobe = ivfpq_resolve_nprobe(index, nprobe)
    rerank = resolve_rerank(index, nprobe, rerank)

    model, dsub = index.pq, index.pq.dsub
    if _expr_path_ok(index.coarse):
        # Fixture-scale expression branch (k×dim within the term budget —
        # plan-identical to every checked-in oracle). A residual index
        # ranks ||(q - c) - code||² — the LUT is built from the query's
        # residual AGAINST EACH PROBED CELL, which is exactly one
        # expression here because qp is already one row per (query, cell).
        qp = probe_assignments(
            queries.select(q_id_col, q_vec_col), index.coarse, vec_col=q_vec_col,
            nprobe=nprobe, out_col=cell_col,
        )
        q_eff = (
            _residual_col(F.col(q_vec_col), index.coarse, F.col(cell_col))
            if index.by_residual
            else F.col(q_vec_col)
        )
        lut = F.array(
            *[
                F.array(*[_sqdist(F.slice(q_eff, j * dsub + 1, dsub), w) for w in cb])
                for j, cb in enumerate(model.codebooks)
            ]
        )
        q = qp.select(F.col(q_id_col), F.col(cell_col), lut.alias("_lut"))
    else:
        # Above the budget the whole query side (probe + residual + LUT)
        # runs as ONE Arrow pass. A separate residual pass would be a
        # second Python crossing (Spark forbids Python UDFs inside
        # higher-order lambdas, so it cannot inline into the folds), and
        # _residual_col's inline expression duplicates the k×dim centroid
        # table into all m×ksub fold terms (measured 2.28 s per warm force
        # for 50 rows at sf0.1; this pass runs in ~0.2 s, values
        # bit-identical, equality-pinned).
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        q_schema = StructType(
            [
                StructField(q_id_col, queries.schema[q_id_col].dataType),
                StructField(cell_col, IntegerType()),
                StructField("_lut", ArrayType(ArrayType(DoubleType()))),
            ]
        )
        q = queries.select(q_id_col, q_vec_col).mapInPandas(
            _fused_qlut_fn(
                index.coarse,
                model.codebooks,
                dsub,
                index.by_residual,
                nprobe,
                q_id_col,
                q_vec_col,
                cell_col,
            ),
            q_schema,
        )
    adist = None
    for j in range(model.m):
        term = F.element_at(
            F.element_at("_lut", j + 1), F.element_at(codes_col, j + 1) + F.lit(1)
        )
        adist = term if adist is None else adist + term
    pairs = (
        F.broadcast(q)
        .join(corpus_enc.select(id_col, cell_col, codes_col), [cell_col])
        .filter(F.col(q_id_col) != F.col(id_col))
        .withColumn("_adist", adist)
    )
    w_sl = Window.partitionBy(q_id_col).orderBy(F.col("_adist").asc(), F.col(id_col).asc())
    shortlist = (
        pairs.withColumn("_rk", F.row_number().over(w_sl))
        .filter(F.col("_rk") <= rerank)
        .select(q_id_col, F.col(id_col).alias("n_vec_id"))
    )
    fetch_side = corpus_enc if corpus_raw is None else corpus_raw
    cand = shortlist.join(
        fetch_side.select(F.col(id_col).alias("n_vec_id"), F.col(vec_col).alias("_n_emb")),
        "n_vec_id",
    ).join(F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col)
    w = Window.partitionBy(q_id_col).orderBy(F.col("_d2").asc(), F.col("n_vec_id").asc())
    return (
        cand.withColumn("_d2", _sqdist_vec(F.col(q_vec_col), F.col("_n_emb")))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(
            q_id_col,
            "n_vec_id",
            F.round(F.col("_d2"), 6).alias("d2"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
        )
    )


def q_ivfpq_search(spark, sf_dir: str, *, index: IVFPQIndex | None = None) -> DataFrame:
    """End-to-end IVF-PQ search over the embeddings table: fit both
    quantizers (if no index is passed), encode the corpus once, probe +
    ADC + exact-rerank top-3 for the first PQ_N_QUERIES vectors — the
    composed production twin of ``q_pq_rerank`` (which ADC-scans the WHOLE
    corpus) and ``q_sim_ivf`` (which probes cells but stores raw
    vectors)."""
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    if index is None:
        index = ivfpq_fit(emb)
    corpus = ivfpq_encode(emb.select("vec_id", "embedding"), index)
    q = emb.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb")
    )
    # re-rank fetch from the raw table: keeps the encode out of the fetch
    # branch (see ivfpq_search's corpus_raw note) — values identical
    return ivfpq_search(corpus, q, index, corpus_raw=emb.select("vec_id", "embedding"))


def ivfpq_search_sql(
    index: IVFPQIndex,
    *,
    k: int = PQ_TOP_K,
    nprobe: int | str | None = None,
    rerank: int | str = "auto",
    n_queries: int = PQ_N_QUERIES,
) -> str:
    """Post-fit DuckDB twin of ``q_ivfpq_search``: coarse centroids AND
    sub-codebooks as literals; cell assignment via the same first-min
    argmin, probes via the same sorted (distance, index) structs as
    ``clustering.semantic_dedup_pairs_sql``, then in-cell ADC, shortlist,
    exact re-rank. Same association/tie-break contracts throughout, so
    cells, codes, shortlists, and ranks cannot diverge.

    Renders BOTH encodings (round 10 — the residual default needs a full
    SQL twin, not just the numpy differential): under ``by_residual`` the
    corpus codes come from ``embedding - coarse[cell]`` and each query
    builds its LUT from its residual AGAINST EACH PROBED CELL, so the LUT
    CTE is keyed (q_vec_id, cell) and the ADC join matches on cell. The
    residual element ``CAST(x AS DOUBLE) - centroid_literal`` is the same
    single IEEE subtraction as ``_residual_col``'s zip_with, so codes and
    ranks stay bit-aligned. The per-cell residual is an unrolled CASE
    over the coarse cells (literal-list indexing inside list_transform is
    pathological in DuckDB — see ``clustering._sqdist_sql``), wrapped in
    MATERIALIZED CTEs so the optimizer cannot inline the CASE into the
    ~m×ksub×dsub distance terms that reference it."""
    from .clustering import _sqdist_sql

    nprobe = ivfpq_resolve_nprobe(index, nprobe)
    rerank = resolve_rerank(index, nprobe, rerank)
    model = index.pq
    dsub = model.dsub
    dim = model.m * dsub
    cdists = ", ".join(_sqdist_sql("embedding", c) for c in index.coarse)
    qcdists = ", ".join(_sqdist_sql("q_emb", c) for c in index.coarse)

    def _res_case(cell: str, vec: str) -> str:
        branches = "".join(
            f" WHEN {ci} THEN list_value("
            + ", ".join(
                f"(CAST({vec}[{i + 1}] AS DOUBLE) - ({c[i]!r}))" for i in range(dim)
            )
            + ")"
            for ci, c in enumerate(index.coarse)
        )
        return f"CASE {cell}{branches} END"

    corpus_vec = "res" if index.by_residual else "embedding"
    dls = ", ".join(
        "list_value("
        + ", ".join(_sqdist_sql_slice(corpus_vec, w, j * dsub) for w in cb)
        + f") AS dl{j}"
        for j, cb in enumerate(model.codebooks)
    )
    q_vec = "res" if index.by_residual else "q_emb"
    luts = ", ".join(
        "list_value("
        + ", ".join(_sqdist_sql_slice(q_vec, w, j * dsub) for w in cb)
        + f") AS lut{j}"
        for j, cb in enumerate(model.codebooks)
    )
    adist = " + ".join(f"q.lut{j}[c.codes[{j + 1}] + 1]" for j in range(model.m))
    d2 = _sqdist_vec_sql("q.q_emb", "e.embedding")
    codes = ", ".join(
        f"(list_position(dl{j}, list_min(dl{j})) - 1)" for j in range(model.m)
    )
    if index.by_residual:
        encode_ctes = f"""resid AS MATERIALIZED (
  SELECT e.vec_id, cl.cell, {_res_case("cl.cell", "e.embedding")} AS res
  FROM embeddings e JOIN cells cl ON e.vec_id = cl.vec_id
), dists AS (
  SELECT vec_id, cell, {dls} FROM resid
), corpus AS (
  SELECT vec_id, cell, [{codes}] AS codes FROM dists
)"""
        lut_ctes = f"""qres AS MATERIALIZED (
  SELECT p.q_vec_id, p.cell, {_res_case("p.cell", "q.q_emb")} AS res
  FROM qprobe p JOIN qraw q ON p.q_vec_id = q.q_vec_id
), q AS (
  SELECT q_vec_id, cell, {luts} FROM qres
)"""
        shortlist_from = f"""FROM q
    JOIN corpus c ON q.cell = c.cell AND q.q_vec_id <> c.vec_id"""
    else:
        encode_ctes = f"""dists AS (
  SELECT vec_id, {dls} FROM embeddings
), corpus AS (
  SELECT d.vec_id, cl.cell, [{codes}] AS codes
  FROM dists d JOIN cells cl ON d.vec_id = cl.vec_id
)"""
        lut_ctes = f"""q AS (
  SELECT q_vec_id, {luts} FROM qraw
)"""
        shortlist_from = """FROM qprobe p
    JOIN corpus c ON p.cell = c.cell AND p.q_vec_id <> c.vec_id
    JOIN q ON q.q_vec_id = p.q_vec_id"""
    return f"""
WITH cells AS (
  SELECT vec_id, (list_position(cd, list_min(cd)) - 1) AS cell
  FROM (SELECT vec_id, list_value({cdists}) AS cd FROM embeddings)
), {encode_ctes}, qraw AS (
  SELECT vec_id AS q_vec_id, embedding AS q_emb FROM embeddings WHERE vec_id < {n_queries}
), qprobe AS (
  SELECT q_vec_id, unnest(list_transform(rk[1:{nprobe}], s -> s.i)) AS cell
  FROM (
    SELECT q_vec_id,
           list_sort(list_transform(range({len(index.coarse)}),
                                    j -> {{'d': cd[j + 1], 'i': j}})) AS rk
    FROM (SELECT q_vec_id, list_value({qcdists}) AS cd FROM qraw)
  )
), {lut_ctes}, shortlist AS (
  SELECT q_vec_id, n_vec_id FROM (
    SELECT q.q_vec_id, c.vec_id AS n_vec_id,
           row_number() OVER (PARTITION BY q.q_vec_id
                              ORDER BY {adist} ASC, c.vec_id ASC) AS rk
    {shortlist_from}
  ) WHERE rk <= {rerank}
)
SELECT q_vec_id, n_vec_id, round(d2, 6) AS d2, CAST(nn_rank AS BIGINT) AS nn_rank
FROM (
  SELECT s.q_vec_id, s.n_vec_id, {d2} AS d2,
         row_number() OVER (PARTITION BY s.q_vec_id ORDER BY {d2} ASC, s.n_vec_id ASC) AS nn_rank
  FROM shortlist s
  JOIN embeddings e ON s.n_vec_id = e.vec_id
  JOIN qraw q ON s.q_vec_id = q.q_vec_id
) WHERE nn_rank <= {k}
"""


def oracle_ivfpq(sf_name: str = "sf0.01") -> str:
    """Static driver oracle for ``ivfpq_search``: the post-fit twin rendered
    from the checked-in DEFAULT-variant fit — farthest-init coarse
    centroids (``_ivfpq_coarse.py``) and RESIDUAL-trained PQ sub-codebooks
    (``_ivfpq_residual.py``), both generated by tools/gen_pq_oracle.py
    from one ``ivfpq_fit(emb)`` under the round-10 defaults. Valid on the
    same bit-determinism argument as ``oracle_pq_rerank`` — fit ==
    literals is exact-equality-guarded in tests/test_pq.py."""
    from ._ivfpq_coarse import COARSE_BY_SF
    from ._ivfpq_residual import IVFPQ_N_BY_SF, RESIDUAL_CODEBOOKS_BY_SF

    return ivfpq_search_sql(
        IVFPQIndex(
            COARSE_BY_SF[sf_name],
            PQModel(RESIDUAL_CODEBOOKS_BY_SF[sf_name], []),
            by_residual=True,
            n_vectors=IVFPQ_N_BY_SF[sf_name],
        )
    )


QUERIES = {"ivfpq_search": q_ivfpq_search, "pq_rerank": q_pq_rerank}
ORACLE_PQ_RERANK = oracle_pq_rerank("sf0.01")
ORACLES = {"ivfpq_search": oracle_ivfpq("sf0.01"), "pq_rerank": ORACLE_PQ_RERANK}
