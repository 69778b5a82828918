"""Deduplication operators over the ``documents`` table — exact content-hash
dedup, MinHash-LSH near-duplicate detection, and SimHash fingerprints.

These are the LLM-training-data operators the reference pipeline does not
have but a 100 TB corpus pipeline needs (the build brief's north star; the
reference's closest analog is its quality-check suite,
``data_quality_checks.py:162-270``, which counts rows but never dedups).

Cross-engine determinism: all hashing goes through the md5→int64 contract in
``functions/hashing.py`` (same value in Spark and DuckDB), and the MinHash
universal-hash family's (a, b) constants are embedded as literals in BOTH
the Spark plan and the generated oracle SQL — so the t2 hash-differential
can check dedup output exactly, not just row counts.

Self-contained non-triviality: the driver's sf0.01 documents are all unique,
so each query augments the corpus in-plan with deterministic copies
(exact copies for ``dedup_exact``, drop-last-word perturbations for
``dedup_minhash``) — the operator must then find exactly those planted
duplicates. The augmentation is part of the query on both engines.

Scale posture (100 TB):
- exact dedup: one shuffle on content_hash (uniform by construction — md5
  can't skew); survivors picked per-hash-partition, no global sort.
- minhash: candidates come from BANDED BUCKETS (explode k/r band keys,
  group on band_key) — pair work ~ O(colliding pairs), never the all-pairs
  O(n²); exact Jaccard runs once per candidate, inside its bucket group.
- simhash: embarrassingly parallel map (no shuffle at all); downstream
  near-dup grouping is a groupBy on the 16-bit fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_PRIME as P
from ..functions.hashing import md5_long, md5_long_bytes, md5_long_sql, minhash_coeffs
from ..sources.tables import load_table

# Band geometry (round 9, VERDICT r8 item 3): the sf30 candidate anatomy
# (BENCH_SCALE_r09 minhash_probe) measured the corpus cleanly bimodal —
# 95% of 6.64 M candidates had true Jaccard in [0.2, 0.3) (S-curve false
# positives, all exact-verified then rejected at the 0.5 threshold; max
# band bucket 359 rows, so NOT bucket skew) with real dups at j >= 0.8 and
# NOTHING in [0.4, 0.8). Sharpening rows-per-band 3 -> 4 moves
# P(candidate | j=0.25) from 6.0% to 1.55% (~4x fewer false candidates,
# the verification stage's whole cost) while keeping detection at
# j=0.9 / 0.95 / 0.985 (planted copies) at 98.6% / 99.88% / 99.999%.
# The extra 4 hashes are map-side per-row cost — the right place to spend
# at 100 TB, vs shuffling 4x the candidate pairs. Survivor delta vs the
# old 12/3x4 geometry is measured in BENCH_SCALE_r09 minhash_ab.
#
# What the sharper curve costs NEAR THE 0.5 VERIFICATION THRESHOLD
# (round-10 advice fix — the j>=0.9 detection numbers above are not the
# whole story; P(candidate) = 1-(1-j^BAND_ROWS)^N_BANDS, exact):
#
#   true j : 0.50   0.60   0.70   0.80   0.90
#   4x4    : 0.23   0.43   0.67   0.88   0.986   (this geometry)
#   4x3    : 0.41   0.65   0.86   0.97   0.998   (old geometry)
#
# P=0.5 midpoint: ~0.63 (4x4) vs ~0.54 (4x3). So a pair at exactly the
# j=0.5 verification bar has a 23% candidate probability here (41% under
# the old geometry) — acceptable because the measured corpus is BIMODAL
# (nothing organic in [0.4, 0.8); see the sf30 anatomy above), and ANY
# banded geometry is probabilistic at its midpoint. A corpus with real
# mass near j~0.5-0.7 should widen to 8 bands (K=32) rather than revert
# to 4x3, which buys its recall with 4x the false-candidate volume.
K_MINHASH = 16  # signature length
BAND_ROWS = 4  # rows per band → 4 bands; P(candidate) = 1-(1-j⁴)⁴

# THE QUADRATIC THE sf100 LADDER CAUGHT (round 10, BENCH_SCALE_r10
# curation_sf100): at fixed geometry, banded LSH's candidate volume has a
# background term ∝ n² × P(candidate | j_bg) — every pair of UNRELATED
# documents with nonzero background similarity rolls the band dice.
# Measured: 1.74 M distinct candidates at 878 k docs → 19.14 M at 2.93 M
# docs (11× for 3.33× docs — exactly n²), 99.5% of them cross-corpus
# background pairs at j≈0.2-0.3, ALL rejected by the exact j≥0.5
# verification — a pure COST quadratic, values untouched. The cure is a
# sharper geometry at larger n: 6 bands × 8 rows (K=48) cuts
# P(candidate | j=0.25) from 1.55% to ~9e-6 (≈2500×, re-linearizing the
# candidate step for another ~3 decades) at the price of a higher
# S-curve midpoint (~0.77) and j=0.9 per-pair detection 0.966 vs 0.986 —
# a SEMANTIC dial, so it is an explicit caller choice
# (``run_curation(band_geometry=...)``), never a silent scale switch:
# the S-curve midpoint decides which pairs count as duplicates.
GEOMETRY_LARGE_N = (48, 8)  # the measured-cure (K, band_rows) at n ≳ 1M
N_BANDS = K_MINHASH // BAND_ROWS
COEFFS = minhash_coeffs(K_MINHASH)  # seeded — identical constants both engines

EXACT_COPY_OFFSET = 2_000_000  # doc_id offset for planted exact copies
NEAR_COPY_OFFSET = 1_000_000  # doc_id offset for planted near-copies
SIMHASH_BITS = 16

# LSH band buckets above this many rows are sliced into pair groups of at
# most 2 × HOT_BUCKET_MIN rows (see band_slices). The sf30 organic
# maximum bucket was 359 rows (BENCH_SCALE_r09 minhash_probe), so only
# adversarial boilerplate corpora cross this line.
HOT_BUCKET_MIN = 1024
PAIR_EST_SAMPLE_MOD = 64  # doc sample fraction of estimate_pair_volume


# ---------------------------------------------------------------------------
# exact dedup — md5 content hash, keep lowest doc_id per hash
# ---------------------------------------------------------------------------


def exact_survivors(docs: DataFrame) -> DataFrame:
    """Exact-dedup transform over any (… doc_id, text …) frame: content-hash
    every row, keep the lowest doc_id per hash, annotate the copy count.
    One shuffle on content_hash (uniform by construction), one window pass
    (row_number + count share the partitioning). Reused by
    ``q_dedup_exact`` (planted-copy check) and the curation pipeline."""
    w_pick = Window.partitionBy("content_hash").orderBy("doc_id")
    w_cnt = Window.partitionBy("content_hash")
    return (
        docs.withColumn("content_hash", md5_long(F.col("text")))
        .withColumn("_rn", F.row_number().over(w_pick))
        .withColumn("dup_count", F.count(F.lit(1)).over(w_cnt))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: plant an exact copy of every short document, content-hash
    everything, keep the lowest doc_id per hash and count the copies.

    Plan: union (no shuffle) → single shuffle on content_hash → one
    window pass (row_number + count share the partitioning). Survivor set
    must equal the original 500 docs, each short doc with dup_count=2.
    """
    docs = load_table(spark, sf_dir, "documents")
    copies = docs.filter(F.col("n_chars") < 200).select(
        (F.col("doc_id") + F.lit(EXACT_COPY_OFFSET)).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    aug = docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(copies)
    return exact_survivors(aug).select(
        "doc_id", "lang", "source", "n_chars", "content_hash", "dup_count"
    )


ORACLE_DEDUP_EXACT = f"""
WITH aug AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_COPY_OFFSET}, text, lang, source, n_chars
  FROM documents WHERE n_chars < 200
), hashed AS (
  SELECT doc_id, lang, source, n_chars,
         {md5_long_sql("text")} AS content_hash,
         row_number() OVER (PARTITION BY {md5_long_sql("text")} ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY {md5_long_sql("text")}) AS dup_count
  FROM aug
)
SELECT doc_id, lang, source, n_chars, content_hash, dup_count
FROM hashed WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup — shingle → k-hash signature → banded bucket join
# ---------------------------------------------------------------------------


_SHINGLES_SQL = """list_distinct(CASE WHEN len(words) >= 3
    THEN list_transform(range(len(words)-2), i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])
    ELSE [text] END)"""


def _minhash_band_keys_sql(n_bands: int = N_BANDS, band_rows: int = BAND_ROWS) -> str:
    """DuckDB twin of the band keys ``_with_band_keys`` emits: a list of
    ``n_bands`` band-key strings 't:s:...:s' (expects a column ``sig``
    built by ``_sig_sql`` from the same (a, b) literals)."""
    bands = []
    for t in range(n_bands):
        parts = " || ':' || ".join(f"CAST(sig[{t * band_rows + r + 1}] AS VARCHAR)" for r in range(band_rows))
        bands.append(f"'{t}:' || {parts}")
    return "[" + ", ".join(bands) + "]"


def _sig_sql(coeffs: list[tuple[int, int]] = COEFFS) -> str:
    """DuckDB twin of ``minhash_sig_udf``: the K universal-hash mins over a
    materialized ``hh`` list column."""
    return "[" + ", ".join(f"list_min(list_transform(hh, h -> ({a}*(h%{P})+{b})%{P}))" for a, b in coeffs) + "]"


_SIG_SQL = _sig_sql()


# The signature map runs as one vectorized numpy pass per Arrow batch
# (``minhash_sig_udf``): flatten the batch's hash arrays, K affine remixes
# over the flat int64 vector, segment-min via minimum.reduceat. As K
# Catalyst higher-order expressions (``array_min(transform(hh, …))``) the
# mins would be interpreted per element (no whole-stage codegen, boxed Long
# per value) — 48 boxed array traversals per doc at GEOMETRY_LARGE_N;
# measured at sf100 on the default 16×4 geometry the Arrow pass is 4.12×
# faster (62.7 → 15.2 s, BENCH_SCALE_r14 sig_arrow_ab). The arithmetic is
# _SIG_SQL's: md5 hashes are 60-bit POSITIVE int64, so %/× match DuckDB
# exactly, overflow-free by the a·(h%P) < 2^62 bound.


def minhash_sig_udf(coeffs: list[tuple[int, int]]):
    """Arrow-batched signature column: ``hh`` (array<long> of md5 shingle
    hashes) → array<long> of the K universal-hash mins (``_SIG_SQL``), all
    K computed in one numpy pass per Arrow batch (see the note above).

    NULL rows: when an Arrow batch's flattened list values contain ANY
    null, pyarrow converts the ENTIRE batch's values to float64 — so the
    60-bit md5 hashes of the *sibling non-NULL rows* would lose their low
    bits in the int64 cast and their band keys would silently diverge.
    Precision is lost before this UDF ever sees the data, so the fix is
    PLAN-SIDE: ``_with_band_keys`` collapses a null-containing ``hh`` to a
    list-level NULL (list-level nulls keep sibling rows exact int64 — only
    element-level nulls poison the values buffer). Here a ``None`` row
    gets the all-NULL signature, which degrades every band key to the bare
    ``"t"`` prefix (concat_ws skips NULLs) — the keys of SQL's list_min
    over a NULL/all-NULL list (edge rows, single-partition so NULL and
    real docs share one batch, in tests/test_dedup_arrow.py). A float64
    batch whose values exceed 2^53 can only mean a caller bypassed the
    collapse — refuse loudly rather than emit corrupt signatures."""
    import numpy as np
    import pandas as pd

    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    k = len(coeffs)

    def _sig(hh):
        n = len(hh)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs, null_rows = [], []
        for v in hh:
            # list-level NULL (banded_keys' plan-side collapse of any
            # null-containing array, incl. a NULL ``sh`` through the
            # computed-hh fallback): all-NULL signature. Checked FIRST —
            # np.asarray(None) is a 0-d object array that crashes every
            # later branch (ADVICE r14 low).
            if v is None:
                null_rows.append(len(arrs))
                arrs.append(np.zeros(1, dtype=np.int64))  # placeholder segment
                continue
            va = np.asarray(v)
            # element-level nulls should never reach here (the plan-side
            # collapse above) — but a direct caller bypassing banded_keys
            # could deliver them, and then pyarrow has ALREADY degraded
            # the whole batch's values to float64 (see docstring). Treat
            # a null-containing row as all-NULL, and refuse loudly if
            # sibling rows lost int64 precision.
            if va.dtype == object:
                has_null = any(x is None for x in va)
            elif va.dtype.kind == "f":
                has_null = bool(np.isnan(va).any())
                if not has_null and va.size and np.abs(va).max() >= 2.0**53:
                    raise ValueError(
                        "minhash_sig_udf: float64 hash batch above 2^53 — "
                        "int64 precision was lost in the Arrow transfer "
                        "(an element-level NULL elsewhere in this batch); "
                        "collapse null-containing arrays to a list-level "
                        "NULL plan-side as banded_keys does"
                    )
            else:
                has_null = False
            if has_null:
                null_rows.append(len(arrs))
                arrs.append(np.zeros(1, dtype=np.int64))  # placeholder segment
            else:
                arrs.append(va.astype(np.int64, copy=False))
        lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=n)
        if (lens == 0).any():
            # shingles are never empty (whole-text fallback in
            # shingle_docs); refuse loudly rather than silently diverge
            # from list_min's NULL-on-empty semantics
            raise ValueError("empty shingle hash array")
        flat = np.concatenate(arrs)
        r = flat % P  # md5_long is 60-bit positive → % matches JVM/SQL
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        sigs = np.empty((n, k), dtype=np.int64)
        for i in range(k):
            sigs[:, i] = np.minimum.reduceat((A[i] * r + B[i]) % P, starts)
        out = list(sigs)
        for idx in null_rows:
            out[idx] = [None] * k
        return pd.Series(out)

    # explicit form (not the type-hint decorator): pandas is imported
    # function-locally, so string annotations would not resolve
    return F.pandas_udf(_sig, "array<long>")


def _band_keys_from_sig(sig: Column, n_bands: int, band_rows: int) -> list[Column]:
    """Band-key strings 't:s:...:s' from a materialized signature array
    column — the strings of ``_minhash_band_keys_sql``."""
    return [
        F.concat_ws(
            ":",
            F.lit(str(t)),
            *[sig.getItem(t * band_rows + r).cast("string") for r in range(band_rows)],
        )
        for t in range(n_bands)
    ]


def _with_band_keys(
    shingled: DataFrame,
    keep: list[str],
    *,
    coeffs: list[tuple[int, int]] | None = None,
    band_rows: int | None = None,
) -> DataFrame:
    """(… sh[, hh] …) → (``keep`` columns, ``_keys``): each row's band keys as an
    array<string> in band-index order — the signature+band map behind
    ``minhash_pairs`` and ``banded_keys``. Key
    ``t`` of every doc starts with ``"t:"``, so two docs share a key at
    some band iff their key arrays overlap. Signatures come from the Arrow
    pass (``minhash_sig_udf``); keys equal ``_minhash_band_keys_sql``."""
    coeffs = COEFFS if coeffs is None else coeffs
    band_rows = BAND_ROWS if band_rows is None else band_rows
    n_bands = len(coeffs) // band_rows
    # NULL collapse: an ELEMENT-level null in ``hh`` poisons the Arrow
    # transfer of its whole batch — pyarrow converts the batch's flattened
    # values to float64 and sibling rows' 60-bit hashes silently lose their
    # low bits in the int64 cast. Collapse null-containing arrays to a
    # LIST-level NULL (which keeps sibling rows exact int64). Null hashes
    # only arise as the whole array [NULL] (a NULL text shingles to a
    # single NULL entry and md5_long of a non-null string is never NULL),
    # so testing element 0 is O(1)-exact: hh NULL → NULL stays NULL,
    # [NULL] → NULL, real arrays untouched. The keys are unchanged —
    # list_min over NULL ≡ list_min over [NULL] ≡ NULL — pinned in
    # tests/test_dedup_arrow.py with NULL and real docs forced into one
    # Arrow batch.
    if "hh" in shingled.columns:
        hh = F.when(
            F.col("hh").getItem(0).isNull(), F.lit(None).cast("array<bigint>")
        ).otherwise(F.col("hh"))
    else:
        # condition on sh (not the computed hh) so the md5 transform is
        # not a subexpression of both the when() condition and its else
        # branch (no CSE across higher-order functions → 2× md5)
        hh = F.when(
            F.col("sh").getItem(0).isNull(), F.lit(None).cast("array<bigint>")
        ).otherwise(F.transform(F.col("sh"), md5_long))
    sigged = shingled.select(*keep, minhash_sig_udf(coeffs)(hh).alias("_sig"))
    keys = _band_keys_from_sig(F.col("_sig"), n_bands, band_rows)
    return sigged.select(*keep, F.array(*keys).alias("_keys"))


def banded_keys(
    shingled: DataFrame,
    *,
    coeffs: list[tuple[int, int]] | None = None,
    band_rows: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sh[, hh]) → exploded (doc_id, band_key): one row per doc
    and band (see ``_with_band_keys``)."""
    keyed = _with_band_keys(shingled, [id_col], coeffs=coeffs, band_rows=band_rows)
    # _outer: see band_slices
    return keyed.select(id_col, F.explode_outer("_keys").alias("band_key"))


# Geometry advisory (round 11, VERDICT r10 item 7): run_curation logs a
# one-line pointer at GEOMETRY_LARGE_N when the ESTIMATED LSH pair volume
# per doc crosses the fitted break-even — surfacing the sf100 finding
# where users meet it while preserving the explicit-dial contract (no
# auto-switch: the S-curve midpoint is semantics). The fitted constants:
# the r10 sf100 run measured ~14.6 µs/candidate of pure verification cost
# and 6.5 candidates/doc under the default geometry (19.1 M over 2.93 M
# docs) — the regime where the sharp geometry's 69× candidate cut beats
# its signature premium (now small: the Arrow pass above). Below ~1 M
# docs the background quadratic hasn't bitten at any measured rung.
ADVISORY_MIN_DOCS = 1_000_000
ADVISORY_PAIRS_PER_DOC = 3.0


def estimate_pair_volume(
    shingled: DataFrame,
    *,
    coeffs: list[tuple[int, int]] | None = None,
    band_rows: int | None = None,
    sample_mod: int = PAIR_EST_SAMPLE_MOD,
) -> int:
    """Estimated per-band LSH candidate-pair volume from a deterministic
    1/``sample_mod`` doc sample: a bucket holding B docs contributes
    C(B,2) pairs, and each pair survives the doc sample with probability
    1/m² — so Σ_buckets C(b_sampled, 2) × m² is UNBIASED for the corpus
    pair volume. One small agg job over ~1/m of the docs (the band map
    runs only on the sample). Estimates per-band
    pair SLOTS (the pair groups' work), slightly above distinct pairs —
    the right cost proxy (sf100: 19.54 M slots vs 19.14 M distinct)."""
    gate = (
        F.pmod(
            md5_long(F.concat(F.lit("hb:"), F.col("doc_id").cast("string"))),
            F.lit(sample_mod),
        )
        == 0
    )
    banded = banded_keys(shingled.filter(gate), coeffs=coeffs, band_rows=band_rows)
    row = (
        banded.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum(F.col("_n") * (F.col("_n") - 1) / 2).alias("_p"))
        .collect()[0]
    )
    return int((row["_p"] or 0) * sample_mod * sample_mod)


def shingle_docs(docs: DataFrame, *, hh_only: bool = False) -> DataFrame:
    """(… doc_id, text …) → (doc_id, sh, hh): the per-doc distinct 3-word
    shingle arrays every MinHash consumer derives from, PLUS their
    md5-int64 hash array ``hh`` materialized once. Exposed so a caller can
    persist ONE shingle computation across several plans (the curation
    funnel shares it between its geometry advisory and ``minhash_pairs``).

    Computed row-batch-at-a-time in one Arrow pass — as interpreted
    Catalyst higher-order chains (split → sequence → 3×element_at →
    concat_ws → array_distinct → per-element md5, none of it codegen'd)
    the same arrays cost 14.8× more at sf100 (BENCH_SCALE_r12 stages100).
    Rows equal the DuckDB twin (``_SHINGLES_SQL`` and ``md5_long_sql``
    over ``string_split(text, ' ')``):

    - ``text.split(" ")`` ≡ ``string_split`` (inner AND trailing empty
      words kept);
    - first-occurrence dedup (dict.fromkeys) ≡ ``list_distinct``'s set;
    - ``md5_long_bytes`` over the UTF-8 bytes ≡ ``md5_long_sql``;
    - texts under 3 words shingle to the whole text; a NULL text to
      sh=[NULL], hh=[NULL].

    Edge rows (multibyte, empty, whitespace, NULL) in
    tests/test_dedup_arrow.py.

    ``hh`` rides along so the K signature mins read integers: inline, the
    md5 transform would be a subexpression of EVERY min, and Spark does
    not CSE across higher-order functions. The DuckDB twin has the same
    shape (``_SIG_SQL`` reads a materialized ``hh`` list).

    ``hh_only``: emit only (doc_id, hh) — the pure-hh pipeline
    (``verify="hh"``) never reads ``sh``, and the string shingles of a
    2.9 M-doc corpus are the bulk of both the Arrow transfer and the
    funnel's persisted cache. The strings are still built transiently
    (the hashes are defined over them), but never serialized across the
    Python→JVM boundary."""
    import pandas as pd

    def _batch(it):
        # uncached: 3-word shingles are mostly distinct, so a memo would
        # cost a dict insert per gram and save little
        h = md5_long_bytes
        for pdf in it:
            sh_out, hh_out = [], []
            for text in pdf["text"]:
                if text is None:
                    if not hh_only:
                        sh_out.append([None])
                    hh_out.append([None])
                    continue
                words = text.split(" ")
                if len(words) >= 3:
                    tris = list(
                        dict.fromkeys(
                            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
                        )
                    )
                else:
                    tris = [text]
                if not hh_only:
                    sh_out.append(tris)
                hh_out.append([h(s.encode("utf-8")) for s in tris])
            cols = {"doc_id": pdf["doc_id"]}
            if not hh_only:
                cols["sh"] = sh_out
            cols["hh"] = hh_out
            yield pd.DataFrame(cols)

    schema = (
        "doc_id long, hh array<long>"
        if hh_only
        else "doc_id long, sh array<string>, hh array<long>"
    )
    return docs.select("doc_id", "text").mapInPandas(_batch, schema)


def band_slices(
    shingled: DataFrame,
    *,
    verify: str = "sh",
    coeffs: list[tuple[int, int]] | None = None,
    band_rows: int | None = None,
    hot_bucket_min: int | None = None,
) -> DataFrame:
    """The pair-group rows of :func:`minhash_pairs`: one row per (doc,
    band, pair group) of every bucket holding two or more docs, carrying
    ``doc_id``, the verify payload ``_v``, the doc's band-key array
    ``_keys``, its band index ``_band`` and ``band_key``, the bucket's
    size ``_n`` and slice count ``_s``, the doc's salt ``_salt`` in
    [0, _s) and the pair-group id ``_sub``.

    A bucket of n rows gets S = ceil(n / hot_bucket_min) slices, so S = 1
    (one group, ``_sub`` 0, no replication) for every bucket up to
    ``hot_bucket_min`` rows. A doc's salt is its doc_id rank in the bucket
    mod S, so each salt holds at most ceil(n / S) ≤ ``hot_bucket_min``
    docs. A doc with salt s replicates into the S groups
    {(min(s, j), max(s, j)) : j < S} (encoded ``i*S + j``): every
    within-bucket pair meets in exactly the group keyed by its two salts,
    and a group holds the docs of at most two salts, ≤ 2 ×
    ``hot_bucket_min`` rows. S is uncapped so that bound holds at any
    bucket size."""
    if hot_bucket_min is None:
        hot_bucket_min = HOT_BUCKET_MIN
    if hot_bucket_min < 1:
        raise ValueError(f"hot_bucket_min must be >= 1, got {hot_bucket_min}")
    keyed = _with_band_keys(
        shingled, ["doc_id", verify], coeffs=coeffs, band_rows=band_rows
    ).withColumnRenamed(verify, "_v")
    # _outer only to stop the optimizer inferring a size(_keys) > 0 filter
    # below the explode, which re-runs the signature UDF for the filter;
    # the key array is never empty, so the rows are the same
    banded = keyed.select("*", F.posexplode_outer("_keys").alias("_band", "band_key"))
    # one sort, one Window pass: the count's whole-bucket frame shares the
    # rank's partitioning and order
    w = Window.partitionBy("band_key").orderBy("doc_id")
    n = F.count(F.lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    s, salt = F.col("_s"), F.col("_salt")
    return (
        banded.withColumn("_n", n)
        .filter(F.col("_n") >= 2)  # a one-doc bucket owns no pair
        .withColumn("_s", F.ceil(F.col("_n") / F.lit(hot_bucket_min)))
        .withColumn("_salt", F.pmod(F.row_number().over(w), s))
        .withColumn(
            "_sub",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), s - 1),
                    lambda j: F.least(salt, j) * s + F.greatest(salt, j),
                )
            ),
        )
    )


def minhash_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
    coeffs: list[tuple[int, int]] | None = None,
    band_rows: int | None = None,
    hot_bucket_min: int | None = None,
    verify: str = "sh",
) -> DataFrame:
    """(… doc_id, text …) → near-dup pairs (doc_a < doc_b, jaccard) with
    Jaccard ≥ ``threshold`` among MinHash-LSH candidates — the reusable
    transform behind ``q_dedup_minhash`` and the curation funnels'
    near-dup stage.

    One linear plan, one job, three stages:

    1. one shingle + signature pass per doc, carrying (doc_id, verify
       payload, band-key array), then a posexplode of the band keys;
    2. exchange on band_key: a window count sizes every bucket, one-doc
       buckets drop out, and the rows of buckets above ``hot_bucket_min``
       replicate into pair groups (:func:`band_slices`);
    3. exchange on (band_key, pair group): each group emits every pair it
       owns with its exact Jaccard.

    A pair's owner is the first band where the two docs share a key, in
    the group keyed by their two salts, so every candidate pair is
    verified exactly once with no ``distinct`` and no payload join — the
    whole plan runs the shingle and signature passes once. Only
    (doc_a, doc_b, jaccard) structs leave a group, never payload pairs,
    and a group holds at most 2 × ``hot_bucket_min`` rows (default
    ``HOT_BUCKET_MIN``), so a boilerplate bucket of any size spreads its
    C(n, 2) pair work over ~S²/2 groups instead of one task. The explicit
    repartition matters: a groupBy alone is satisfied by the window's
    band_key partitioning and would leave all slices of a bucket in one
    task. The Jaccard is ``round(|∩|/|∪|, 6)`` as a Spark expression, the
    DuckDB oracle's arithmetic.

    ``shingled``: optionally pass a (persisted) ``shingle_docs`` frame —
    lifecycle stays with the caller (the curation funnel shares it with
    its geometry advisory).

    ``verify``: which column the exact Jaccard runs over — ``"sh"`` (the
    string shingle arrays; the oracle contract, default) or ``"hh"``
    (their md5-int64 hash arrays — the scale dial: 8-byte longs instead of
    ~25-byte strings through the pair-group exchange, long-vs-long
    comparisons inside array_intersect/array_union; 13.6 s vs 46.7 s over
    19.1 M candidates at sf100 with hash-identical pair sets,
    BENCH_SCALE_r12 stages100 — values diverge only on an md5-60-bit
    collision between two shingles of one compared pair, probability
    ~|union|²/2⁶⁰). The curation funnel passes "hh"; the registry/oracle
    row keeps "sh" so the DuckDB twin stays the definition."""
    if verify not in ("sh", "hh"):
        raise ValueError(f"verify must be 'sh' or 'hh', got {verify!r}")
    if shingled is not None and verify not in shingled.columns:
        # an hh_only shingled frame with the default verify="sh" would
        # otherwise surface as an opaque unresolved-column analysis error
        raise ValueError(
            f"shingled frame has no {verify!r} column (columns: "
            f"{shingled.columns}); pass verify={'hh' if verify == 'sh' else 'sh'!r} "
            "or re-shingle without hh_only"
        )
    if shingled is None:
        # the hh pipeline never reads the string arrays — keep them out
        # of the Arrow transfer entirely (see shingle_docs)
        shingled = shingle_docs(docs, hh_only=(verify == "hh"))
    sliced = band_slices(
        shingled,
        verify=verify,
        coeffs=coeffs,
        band_rows=band_rows,
        hot_bucket_min=hot_bucket_min,
    )
    m, band, s, sub = F.col("_m"), F.col("_band"), F.col("_s"), F.col("_sub")

    def _owned(x: Column, y: Column) -> Column:
        # this group's slice, and no shared key in an earlier band
        lo = F.least(x["_salt"], y["_salt"])
        hi = F.greatest(x["_salt"], y["_salt"])
        return (
            (x["doc_id"] != y["doc_id"])
            & (lo * s + hi == sub)
            & ~F.arrays_overlap(F.slice(x["_keys"], 1, band), F.slice(y["_keys"], 1, band))
        )

    def _pair(x: Column, y: Column) -> Column:
        jaccard = F.round(
            F.size(F.array_intersect(x["_v"], y["_v"]))
            / F.size(F.array_union(x["_v"], y["_v"])),
            6,
        )
        return F.struct(
            F.least(x["doc_id"], y["doc_id"]).alias("doc_a"),
            F.greatest(x["doc_id"], y["doc_id"]).alias("doc_b"),
            jaccard.alias("jaccard"),
        )

    def _pairs_of(x: Column, i: Column) -> Column:
        later = F.slice(m, i + F.lit(2), F.greatest(F.size(m) - i - F.lit(1), F.lit(0)))
        return F.transform(F.filter(later, lambda y: _owned(x, y)), lambda y: _pair(x, y))

    pairs = F.filter(F.flatten(F.transform(m, _pairs_of)), lambda p: p["jaccard"] >= threshold)
    return (
        sliced.repartition("band_key", "_sub")
        .groupBy("band_key", "_sub", "_band", "_s")
        .agg(F.collect_list(F.struct("doc_id", "_salt", "_keys", "_v")).alias("_m"))
        .select(F.inline(pairs))
    )


def near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus with a planted near-copy (last word dropped)
    of every long document — the deterministic positive control shared by
    the minhash registry query and the leakage-split tests."""
    docs = load_table(spark, sf_dir, "documents")
    pert = docs.filter(F.col("n_chars") >= 200).select(
        (F.col("doc_id") + F.lit(NEAR_COPY_OFFSET)).alias("doc_id"),
        F.regexp_replace(F.col("text"), " [^ ]+$", "").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(pert)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH: plant a near-copy (last word
    dropped) of every long document, then find pairs with Jaccard ≥ 0.5
    among banded-bucket candidates. Output is deterministic because the
    hash family is fixed: both engines compute identical signatures, so
    identical candidates survive. (Plan notes: ``minhash_pairs``.)"""
    return minhash_pairs(near_dup_corpus(spark, sf_dir))


def _oracle_dedup_minhash(coeffs: list[tuple[int, int]] = COEFFS, band_rows: int = BAND_ROWS) -> str:
    """DuckDB twin of ``minhash_pairs`` over ``near_dup_corpus`` at a band
    geometry (the registry row uses the module geometry)."""
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {NEAR_COPY_OFFSET}, regexp_replace(text, ' [^ ]+$', '')
  FROM documents WHERE n_chars >= 200
), tok AS (
  SELECT doc_id, text, string_split(text, ' ') AS words FROM aug
), shingled AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tok
), hashed AS (
  SELECT doc_id, sh, list_transform(sh, s -> {md5_long_sql("s")}) AS hh FROM shingled
), sigs AS (
  SELECT doc_id, sh, {_sig_sql(coeffs)} AS sig FROM hashed
), banded AS (
  SELECT doc_id, unnest({_minhash_band_keys_sql(len(coeffs) // band_rows, band_rows)}) AS band_key FROM sigs
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(x.sh, y.sh)) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
  FROM cand c
  JOIN shingled x ON c.doc_a = x.doc_id
  JOIN shingled y ON c.doc_b = y.doc_id
) WHERE jaccard >= 0.5
"""


ORACLE_DEDUP_MINHASH = _oracle_dedup_minhash()


# ---------------------------------------------------------------------------
# SimHash — 16-bit fingerprint over the word multiset
# ---------------------------------------------------------------------------


def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash: each word's md5-int64 votes ±1 on each of 16 bit
    positions; a bit is set when its vote sum is positive. Pure per-row
    expression work (one codegen'd map stage, zero shuffles) — at 100 TB the
    fingerprint column costs one pass and near-dup grouping is a groupBy on
    the fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    hashes = F.transform(words, md5_long)
    def _vote(d: int):
        # closure (not default args): PySpark derives lambda arity by signature
        return lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(d)) != 0, F.lit(1)).otherwise(F.lit(-1))

    sums = [F.aggregate(hashes, F.lit(0).cast("long"), _vote(1 << bit)) for bit in range(SIMHASH_BITS)]
    simhash = None
    for bit, s in enumerate(sums):
        term = F.when(s > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        simhash.cast("bigint").alias("simhash16"),
    )


def _oracle_simhash() -> str:
    sums = ", ".join(
        f"list_sum(list_transform(hh, h -> CASE WHEN (h & {1 << bit}) <> 0 THEN 1 ELSE -1 END)) AS s{bit}"
        for bit in range(SIMHASH_BITS)
    )
    total = " + ".join(f"CASE WHEN s{bit} > 0 THEN {1 << bit} ELSE 0 END" for bit in range(SIMHASH_BITS))
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), hashed AS (
  SELECT doc_id, len(words) AS n_tokens,
         list_transform(words, w -> {md5_long_sql("w")}) AS hh
  FROM tok
), votes AS (
  SELECT doc_id, n_tokens, {sums} FROM hashed
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST({total} AS BIGINT) AS simhash16
FROM votes
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    # simhash_fingerprint stays off the capped registry: hamming_rerank
    # holds its packed-sign Hamming arithmetic; it keeps oracle parity in
    # tests/test_offregistry_parity.py.
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_minhash": ORACLE_DEDUP_MINHASH,
}

ORACLE_SIMHASH = _oracle_simhash()  # off-registry parity
