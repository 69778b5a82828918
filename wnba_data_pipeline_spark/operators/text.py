"""Text-analysis operators over the ``documents`` table — token statistics,
quality scoring, a language-ID heuristic, per-(lang, source) corpus
aggregates, and character-shingle document fingerprints.

LLM-training-data operators beyond the reference's surface (build brief
north star). The reference's only string processing is H1/H2-level scalar
work (``ingest_nba_daily.py:24``, ``model_training.py:88``); these are the
corpus-curation passes a 100 TB text pipeline runs before training.

All queries are pure per-row expressions + one hash aggregate at most —
zero Python UDFs; everything stays inside whole-stage codegen. Oracle
parity: tokenization is a plain single-space split in BOTH engines, word
folds are explicit left folds, and hashes use the md5→int64 contract
(``functions/hashing.py``).

Scale posture: per-doc stats and fingerprints are zero-shuffle map stages;
the lang/source rollup shuffles only the (≤ #groups) partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_bytes, md5_long_memo, md5_long_sql
from ..sources.tables import collect_bounded, load_table

# tiny fixed stopword list — embedded identically in the oracle SQL
STOPWORDS = ("a", "the", "of", "to", "and", "in", "is")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# language marker words for the heuristic (the corpus vocabulary is synthetic
# English-ish for every lang label, so the heuristic mostly answers 'en' —
# the DETERMINISM and the agreement report are the point, not accuracy)
LANG_MARKERS = {
    "en": ("the", "a", "is", "of"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "les", "des", "et"),
}

TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # BPE-ish: runs of letters/digits, else single char


def _count_in(words: Column, vocab: tuple[str, ...]) -> Column:
    """Left-fold count of words contained in a fixed vocabulary."""
    vals = [F.lit(w) for w in vocab]
    return F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.when(w.isin(*vals), F.lit(1)).otherwise(F.lit(0))
    )


def _count_in_sql(words: str, vocab_sql: str) -> str:
    return f"list_sum(list_transform({words}, w -> CASE WHEN w IN ({vocab_sql}) THEN 1 ELSE 0 END))"


# ---------------------------------------------------------------------------
# Arrow text passes
# ---------------------------------------------------------------------------
#
# The gram/bigram inventories in this module share one physical shape:
# split the text, slide a fixed window, md5-hash (or emit) each gram. They
# run as mapInPandas passes with only the needed columns crossing (pandas
# and pyarrow are required on every executor — README "Worker
# dependencies"), because the same chain as Catalyst higher-order
# functions (transform / element_at / concat_ws / md5 lambdas) is
# interpreted per gram, not whole-stage-codegen'd. Values follow the
# DuckDB twins exactly: Python str.split(' ') ≡ string_split (inner and
# trailing empty words kept), md5 over the UTF-8 bytes, and the
# md5→int64 contract (the digest's first 60 bits). Edge rows (NULL,
# empty, short, repeated grams, multibyte, double spaces) are pinned
# against those twins in tests/test_text_arrow.py.


def _word_gram_hasher(n_words: int, *, distinct: bool):
    """One task's text → word ``n_words``-gram hash list: ``str.split(" ")``
    (≡ ``string_split``), every window of ``n_words`` words joined by one
    space, hashed through ``md5_long_memo`` (word grams repeat across docs
    over a shared vocabulary, so each distinct gram is hashed once per
    task). ``distinct`` keeps each hash's first occurrence (≡
    ``list_distinct``'s set). Texts with fewer than ``n_words`` words give
    an empty list. Call once per task; the cache lives in the closure."""
    h = md5_long_memo()

    def grams(text: str) -> list[int]:
        words = text.split(" ")
        hs = [h(" ".join(words[i : i + n_words])) for i in range(len(words) - n_words + 1)]
        return list(dict.fromkeys(hs)) if distinct else hs

    return grams


def word_gram_hash_rows(
    docs: DataFrame,
    *,
    n_words: int,
    id_col: str = "doc_id",
    out_id: str | None = None,
    distinct: bool = False,
    with_pos: bool = False,
) -> DataFrame:
    """(id, text) → one row per word ``n_words``-gram md5-int64 hash: the
    rows of DuckDB's ``unnest([list_distinct](list_transform(range(len(w)
    - n + 1), i -> md5_long(w[i+1] || ' ' || … || w[i+n]))))`` over
    ``string_split(text, ' ')`` (the gram lists in ``_oracle_contamination``
    and ``spans._gram_hashes_sql``). NULL texts and docs with fewer than
    ``n_words`` words emit nothing. ``distinct`` keeps each doc's first
    occurrence of a hash; ``with_pos`` adds the 0-based gram start as an
    int ``pos``."""
    assert not (distinct and with_pos)
    import pandas as pd

    oid = out_id or id_col

    def _batch(it):
        grams = _word_gram_hasher(n_words, distinct=distinct)
        for pdf in it:
            ids_out: list[int] = []
            pos_out: list[int] = []
            gh_out: list[int] = []
            for did, text in zip(pdf[id_col], pdf["text"]):
                if text is None:
                    continue
                hs = grams(text)
                ids_out.extend([did] * len(hs))
                gh_out.extend(hs)
                if with_pos:
                    pos_out.extend(range(len(hs)))
            cols = {oid: pd.Series(ids_out, dtype="int64")}
            if with_pos:
                cols["pos"] = pd.Series(pos_out, dtype="int32")
            cols["gh"] = pd.Series(gh_out, dtype="int64")
            yield pd.DataFrame(cols)

    schema = f"{oid} long" + (", pos int" if with_pos else "") + ", gh long"
    # scan-level prefilter: the Python loop skips NULL texts and docs that
    # cannot hold n_words words, but an opaque mapInPandas hides that from
    # the optimizer — without the plan filter those rows pay parquet
    # decode + the Arrow crossing for nothing, and the scan loses its
    # pushed IsNotNull. n words need at least n-1 separators (words may be
    # empty), so length >= n-1 is implied by the Python gate — rows
    # dropped here emit nothing either way, values unchanged.
    sel = docs.select(F.col(id_col).alias(id_col), "text").filter(
        F.col("text").isNotNull() & (F.length("text") >= n_words - 1)
    )
    return sel.mapInPandas(_batch, schema)


def bigram_count_rows(docs: DataFrame) -> DataFrame:
    """(text) → per-Arrow-batch PARTIAL ``(bigram, n)`` counts with the
    map-side combine folded in: ``groupBy('bigram').sum('n')`` over these
    rows equals the per-bigram occurrence count of the DuckDB twin (the
    ``bg`` CTE of ``ORACLE_HEAVY_HITTERS_CMS``), while the Python→JVM
    boundary and the shuffle carry one row per DISTINCT bigram per batch
    instead of one per occurrence."""
    from collections import Counter

    import pandas as pd

    def _batch(it):
        for pdf in it:
            c: Counter = Counter()
            for text in pdf["text"]:
                if text is None:
                    continue
                words = text.split(" ")
                if len(words) < 2:
                    continue
                c.update(map(" ".join, zip(words, words[1:])))
            yield pd.DataFrame(
                {
                    "bigram": pd.Series(list(c.keys()), dtype="object"),
                    "n": pd.Series(list(c.values()), dtype="int64"),
                }
            )

    # scan-level prefilter (round 16): the loop skips NULL and <2-word
    # texts; 2 words need >= 1 separator, so length >= 1 is implied —
    # identical rows, pushed IsNotNull restored at the scan
    return (
        docs.select("text")
        .filter(F.col("text").isNotNull() & (F.length("text") >= 1))
        .mapInPandas(_batch, "bigram string, n long")
    )


# ---------------------------------------------------------------------------
# per-document token / quality statistics
# ---------------------------------------------------------------------------


def quality_score_col(text: Column | str = "text") -> Column:
    """The composite per-document quality score as a ROW-LOCAL expression
    (rounded to 6 decimals, identical to ``doc_stats``'s column): exposed
    so gates can stack it on a scan with ``withColumn`` instead of
    re-deriving the whole stats frame and joining it back on doc_id —
    at corpus scale that join shuffles two corpus-sized sides for a value
    computable in the same codegen stage (round-8 review fix;
    ``plans/curation.py``'s quality gate is the consumer)."""
    words = F.split(F.col(text) if isinstance(text, str) else text, " ")
    n = F.size(words).cast("long")
    n_uniq = F.size(F.array_distinct(words)).cast("long")
    ttr = n_uniq / n
    stop_ratio = _count_in(words, STOPWORDS) / n
    return F.round(
        F.least(
            F.lit(1.0),
            ttr * 0.5
            + (F.lit(1.0) - stop_ratio) * 0.3
            + F.least(n / F.lit(100.0), F.lit(1.0)) * 0.2,
        ),
        6,
    )


def doc_stats(docs: DataFrame) -> DataFrame:
    """(… doc_id, lang, text …) → per-document curation stats — the
    reusable transform behind ``q_text_stats`` and the curation pipeline
    (``plans/curation.py``). One codegen'd map stage, no shuffle."""
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("long")
    n_uniq = F.size(F.array_distinct(words)).cast("long")
    sum_len = F.aggregate(words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    stop_n = _count_in(words, STOPWORDS)
    ttr = n_uniq / n
    stop_ratio = stop_n / n
    return docs.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0)).cast("long").alias("n_regex_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.round(sum_len / n, 6).alias("avg_token_len"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        # same formula as quality_score_col, inlined from the locals above
        # (calling the helper would rebuild the split/distinct/stopword
        # fold a second time in the same projection — higher-order-
        # function expressions are poorly covered by subexpression
        # elimination; identity pinned in tests/test_contamination.py)
        F.round(
            F.least(
                F.lit(1.0),
                ttr * 0.5
                + (F.lit(1.0) - stop_ratio) * 0.3
                + F.least(n / F.lit(100.0), F.lit(1.0)) * 0.2,
            ),
            6,
        ).alias("quality_score"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation stats: token counts (split + BPE-ish regex),
    type-token ratio, average token length, stopword ratio, and a composite
    quality score. One codegen'd map stage, no shuffle."""
    return doc_stats(load_table(spark, sf_dir, "documents"))


ORACLE_TEXT_STATS = f"""
WITH tok AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS words FROM documents
), s AS (
  SELECT doc_id, lang,
         CAST(len(words) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_regex_tokens,
         CAST(len(list_distinct(words)) AS BIGINT) AS n_uniq_tokens,
         list_sum(list_transform(words, w -> length(w))) AS sum_len,
         {_count_in_sql("words", _STOP_SQL)} AS stop_n
  FROM tok
)
SELECT doc_id, lang, n_tokens, n_regex_tokens, n_uniq_tokens,
       round(sum_len / n_tokens, 6) AS avg_token_len,
       round(n_uniq_tokens / n_tokens, 6) AS type_token_ratio,
       round(stop_n / n_tokens, 6) AS stopword_ratio,
       round(least(1.0, (n_uniq_tokens / n_tokens) * 0.5
                        + (1.0 - stop_n / n_tokens) * 0.3
                        + least(n_tokens / 100.0, 1.0) * 0.2), 6) AS quality_score
FROM s
"""


# ---------------------------------------------------------------------------
# language-ID heuristic + agreement report
# ---------------------------------------------------------------------------


def q_lang_id_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID, reported as an agreement matrix against the
    labeled ``lang`` column: (lang, predicted_lang, n_docs, avg marker hit
    rate). Prediction is a fixed-precedence CASE over marker counts so ties
    resolve identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    scores = {k: _count_in(words, v) for k, v in LANG_MARKERS.items()}
    pred = (
        F.when(scores["en"] >= F.greatest(scores["de"], scores["es"], scores["fr"]) + 1, F.lit("en"))
        .when(scores["de"] >= F.greatest(scores["en"], scores["es"], scores["fr"]) + 1, F.lit("de"))
        .when(scores["es"] >= F.greatest(scores["en"], scores["de"], scores["fr"]) + 1, F.lit("es"))
        .when(scores["fr"] >= F.greatest(scores["en"], scores["de"], scores["es"]) + 1, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    hit_rate = sum(scores.values()) / F.size(words)
    return (
        docs.select("lang", pred.alias("predicted_lang"), hit_rate.alias("_hr"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("_hr"), 6).alias("avg_marker_rate"))
    )


def _oracle_lang_id() -> str:
    score_cols = ", ".join(
        _count_in_sql("words", ", ".join(f"'{w}'" for w in v)) + f" AS s_{k}" for k, v in LANG_MARKERS.items()
    )
    pred = """CASE
      WHEN s_en >= greatest(s_de, s_es, s_fr) + 1 THEN 'en'
      WHEN s_de >= greatest(s_en, s_es, s_fr) + 1 THEN 'de'
      WHEN s_es >= greatest(s_en, s_de, s_fr) + 1 THEN 'es'
      WHEN s_fr >= greatest(s_en, s_de, s_es) + 1 THEN 'fr'
      ELSE 'und' END"""
    return f"""
WITH tok AS (
  SELECT lang, string_split(text, ' ') AS words FROM documents
), s AS (
  SELECT lang, len(words) AS n, {score_cols} FROM tok
)
SELECT lang, {pred} AS predicted_lang, count(*) AS n_docs,
       round(avg((s_en + s_de + s_es + s_fr) / n), 6) AS avg_marker_rate
FROM s GROUP BY lang, {pred}
"""


# ---------------------------------------------------------------------------
# corpus rollup by (lang, source)
# ---------------------------------------------------------------------------


def q_text_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation rollup: per (lang, source) doc counts and length
    moments — the pass that decides source sampling weights. One shuffle on
    the (small) group key."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(n_tok), 6).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(n_tok).alias("total_tokens"),
    )


ORACLE_TEXT_CORPUS_ROLLUP = """
SELECT lang, source, count(*) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# character-shingle fingerprint (rolling-hash style)
# ---------------------------------------------------------------------------

SHINGLE_CHARS = 8


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint from character 8-gram shingles: distinct-shingle
    count + the minimum shingle hash (the winnowing primitive — at 100 TB
    the per-window min selection extends this same expression). Zero-shuffle
    map stage."""
    # length guard on BOTH sides (round-8 review fix): below SHINGLE_CHARS
    # Spark's sequence(1, len-7) runs DESCENDING (default step -1) and
    # fabricates garbage shingles while DuckDB's range() is empty — the
    # same guard the sibling winnow_fingerprints always had
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= SHINGLE_CHARS
    )
    grams = F.expr(f"transform(sequence(1, length(text) - {SHINGLE_CHARS - 1}), i -> substring(text, i, {SHINGLE_CHARS}))")
    shingles = F.array_distinct(grams)
    hashes = F.transform(shingles, md5_long)
    return docs.select(
        "doc_id",
        F.size(shingles).cast("long").alias("n_shingles"),
        F.array_min(hashes).alias("min_shingle_hash"),
    )


ORACLE_DOC_FINGERPRINT = f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(length(text) - {SHINGLE_CHARS - 1}),
                                      i -> substr(text, i + 1, {SHINGLE_CHARS}))) AS sh
  FROM documents WHERE length(text) >= {SHINGLE_CHARS}
)
SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
       list_min(list_transform(sh, s -> {md5_long_sql("s")})) AS min_shingle_hash
FROM g
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints — per-window k-gram hash minima (MOSS-style)
# ---------------------------------------------------------------------------

WINNOW_WINDOW = 4


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full winnowing (the algorithm ``q_doc_fingerprint``'s global min is
    the degenerate w=∞ case of): hash every POSITIONAL character 8-gram,
    slide a window of {WINNOW_WINDOW} consecutive hashes, keep each
    window's minimum — the distinct minima are the document's fingerprint
    set, guaranteeing any match of length ≥ k+w-1 between two documents
    shares a fingerprint (the winnowing coverage property).

    Zero-shuffle map stage; expected fingerprint density is 2/(w+1) of
    positions, reported per doc. Oracle: identical positional grams /
    window slices via DuckDB list_slice.

    The per-position md5 and per-window min run in one Arrow pass
    (``_winnow_stats_rows``: memoized md5, numpy sliding min, exact int64
    throughout); the division/round stays plan-side so the double
    arithmetic is a codegen expression. The registry row only reads the
    fingerprint SET's size/min/max, so the pass never materializes the
    array; ``winnow_fingerprints`` is the property-testable set builder."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _winnow_stats_rows(docs, k=SHINGLE_CHARS, w=WINNOW_WINDOW)
    return stats.select(
        "doc_id",
        "n_grams",
        "n_windows",
        "n_fingerprints",
        "fp_min",
        "fp_max",
        F.round(F.col("n_fingerprints") / F.col("n_windows"), 6).alias("fp_density"),
    )


def _winnow_stats_rows(docs: DataFrame, *, k: int, w: int) -> DataFrame:
    """(doc_id, text) → the winnowing stats the registry row reads:
    (doc_id, n_grams, n_windows, n_fingerprints, fp_min, fp_max), equal to
    the matching columns of ``ORACLE_DOC_WINNOW``. Exactness: positional
    char grams are code-point slices (Python str slicing ≡ DuckDB substr),
    hashes are the md5→int64 contract over the gram's UTF-8 bytes, window
    minima and the distinct-set size/min/max are exact int64 (fp_min/max
    over the DISTINCT set equal those over all window minima). ASCII texts
    hash byte slices of the one-time UTF-8 encoding (identical bytes);
    multibyte texts fall back to per-slice encoding (edge rows for both
    in tests/test_text_arrow.py)."""
    import numpy as np
    import pandas as pd

    def _batch(it):
        # Positional grams repeat heavily (measured 111× at sf0.1 — 13 005
        # distinct among 1.45 M total), so each Arrow batch stacks EVERY
        # doc's gram bytes into one matrix, runs ONE
        # np.unique(return_inverse) across the whole batch, hashes only
        # the distinct grams (memoized across batches within the task),
        # and scatters the hashes back per position: one md5 per distinct
        # gram instead of per position, the same values.
        h = md5_long_memo()
        kb = md5_long_bytes
        # k = 8 bytes packs a gram into one uint64 — np.unique on a native
        # integer dtype sorts ~2.5× faster than on the void record view
        # (measured 0.86 s vs 2.12 s over 1.45 M grams)
        void_t = np.uint64 if k == 8 else f"V{k}"

        for pdf in it:
            out: dict[str, list[int]] = {
                "doc_id": [], "n_grams": [], "n_windows": [],
                "n_fingerprints": [], "fp_min": [], "fp_max": [],
            }
            ascii_rows: list[tuple[int, int]] = []  # (doc_id, n_grams)
            gram_blocks: list[np.ndarray] = []
            mb_rows: list[tuple[int, int, "np.ndarray"]] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) < k + w - 1:
                    continue
                m = len(text) - k + 1
                tb = text.encode("utf-8")
                if len(tb) == len(text):
                    a = np.frombuffer(tb, dtype=np.uint8)
                    gram_blocks.append(
                        np.ascontiguousarray(
                            np.lib.stride_tricks.sliding_window_view(a, k)[:m]
                        )
                    )
                    ascii_rows.append((did, m))
                else:
                    hs = np.fromiter(
                        (kb(text[i : i + k].encode("utf-8")) for i in range(m)),
                        dtype=np.int64,
                        count=m,
                    )
                    mb_rows.append((did, m, hs))
            if gram_blocks:
                G_all = np.concatenate(gram_blocks).view(void_t).ravel()
                u, inv = np.unique(G_all, return_inverse=True)
                # re-read each distinct gram's ORIGINAL bytes through a
                # uint8 view (byte-order-safe for both the uint64 and the
                # void dtype) before hashing
                uview = np.ascontiguousarray(u).view(np.uint8).reshape(-1, k)
                hu = np.fromiter((h(g.tobytes()) for g in uview), dtype=np.int64, count=len(u))
                hs_all = hu[inv]
            pos = 0
            rows: list[tuple[int, int, "np.ndarray"]] = []
            for did, m in ascii_rows:
                rows.append((did, m, hs_all[pos : pos + m]))
                pos += m
            rows.extend(mb_rows)
            for did, m, hs in rows:
                wins = hs[: m - w + 1].copy()
                for s in range(1, w):
                    np.minimum(wins, hs[s : s + wins.size], out=wins)
                out["doc_id"].append(did)
                out["n_grams"].append(m)
                out["n_windows"].append(wins.size)
                out["n_fingerprints"].append(np.unique(wins).size)
                out["fp_min"].append(int(wins.min()))
                out["fp_max"].append(int(wins.max()))
            yield pd.DataFrame({kk: pd.Series(vv, dtype="int64") for kk, vv in out.items()})

    # scan-level prefilter: the opaque mapInPandas hides the kernel's skip
    # (text is None or len(text) < k+w-1) from the optimizer, so without
    # this filter NULL/short rows would pay decode + the Python crossing
    # for nothing and the scan would lose its pushed IsNotNull. It drops
    # exactly the rows the kernel skips (Spark length() counts code points
    # like Python len), so output rows are identical.
    return (
        docs.select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") >= k + w - 1))
        .mapInPandas(
            _batch,
            "doc_id long, n_grams long, n_windows long, "
            "n_fingerprints long, fp_min long, fp_max long",
        )
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, n_grams, n_windows, fps array<long>): the
    winnowing fingerprint set, exposed separately so the coverage guarantee
    (two documents sharing a substring of length ≥ k+w-1 share a
    fingerprint) is property-testable on arbitrary strings
    (tests/test_properties.py)."""
    k, w = SHINGLE_CHARS, WINNOW_WINDOW
    grams = docs.filter(F.length("text") >= k + w - 1).select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, length(text) - {k - 1}), i -> substring(text, i, {k}))"
        ).alias("_grams"),
    )
    hashed = grams.select("doc_id", F.transform(F.col("_grams"), md5_long).alias("_hh"))
    wins = hashed.select(
        "doc_id",
        F.size("_hh").cast("long").alias("n_grams"),
        F.expr(f"transform(sequence(1, size(_hh) - {w - 1}), j -> array_min(slice(_hh, j, {w})))").alias("_wins"),
    )
    return wins.select(
        "doc_id",
        "n_grams",
        F.size("_wins").cast("long").alias("n_windows"),
        F.array_distinct("_wins").alias("fps"),
    )


ORACLE_DOC_WINNOW = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(length(text) - {SHINGLE_CHARS - 1}),
                        i -> substr(text, i + 1, {SHINGLE_CHARS})) AS grams
  FROM documents
  WHERE length(text) >= {SHINGLE_CHARS + WINNOW_WINDOW - 1}
), h AS (
  SELECT doc_id, list_transform(grams, s -> {md5_long_sql("s")}) AS hh FROM g
), w AS (
  SELECT doc_id, CAST(len(hh) AS BIGINT) AS n_grams,
         list_transform(range(len(hh) - {WINNOW_WINDOW - 1}),
                        j -> list_min(list_slice(hh, j + 1, j + {WINNOW_WINDOW}))) AS wins
  FROM h
), f AS (
  SELECT doc_id, n_grams, CAST(len(wins) AS BIGINT) AS n_windows,
         list_distinct(wins) AS fps
  FROM w
)
SELECT doc_id, n_grams, n_windows,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       list_min(fps) AS fp_min, list_max(fps) AS fp_max,
       round(len(fps) / n_windows, 6) AS fp_density
FROM f
"""


# ---------------------------------------------------------------------------
# hash-based stratified corpus sampling
# ---------------------------------------------------------------------------

# per-lang sampling rates (the "source mixing weights" a training pipeline
# derives from the rollup above) — embedded identically in the oracle
SAMPLE_RATES = {"en": 80, "de": 50, "es": 50, "fr": 50, "zh": 25}  # percent


def sample_gate(docs: DataFrame) -> DataFrame:
    """Hash-stratified sampling filter (reusable transform): keep rows
    where md5-int64('sample:'+doc_id) % 100 < rate(lang)."""
    gate = md5_long(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % F.lit(100)
    rate = None
    for lang, r in SAMPLE_RATES.items():
        rate = (F if rate is None else rate).when(F.col("lang") == lang, F.lit(r))
    rate = rate.otherwise(F.lit(0))
    return docs.filter(gate < rate)


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling by language with HASH-based selection:
    a doc survives iff md5-int64('sample:'+doc_id) % 100 < rate(lang).

    Spark's ``sampleBy`` is seeded per-partition — a shuffle or a different
    engine draws a different sample. The hash gate is order- and
    engine-independent (same reasoning as the seeded-noise operator), so
    the sample is reproducible at any scale and oracle-checkable. Plan:
    zero-shuffle filter; at 100 TB this is a scan with the gate evaluated
    in codegen."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_gate(docs).select("doc_id", "lang", "source", "n_chars")


def _oracle_corpus_sample() -> str:
    cases = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())
    gate = md5_long_sql("'sample:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE ({gate}) % 100 < (CASE {cases} ELSE 0 END)
"""


# ---------------------------------------------------------------------------
# mixture rebalancing — sample to TARGET mixture weights (data-mixing step)
# ---------------------------------------------------------------------------

# target output shares in percent (integers: the S / take arithmetic below
# stays exact integer division, identical in both engines)
MIX_WEIGHTS = {"en": 40, "de": 25, "es": 20, "fr": 10, "zh": 5}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to TARGET mixture weights — the data-mixing
    operator of a pre-training pipeline. ``sample_gate`` applies fixed
    per-group RATES; this derives the rates from the data: the largest
    feasible sample hitting the target shares exactly is capped by the
    scarcest group, S = min_g(n_g·100 div w_g), each group then takes
    n_take_g = (w_g·S) div 100 rows (all-integer arithmetic — exact and
    engine-identical; n_take_g ≤ n_g by construction of S). WHICH rows is
    deterministic: the n_take_g smallest by (md5-int64('mix:'+doc_id),
    doc_id) within each group — reshuffle/engine-independent, so the
    selected set is reproducible and oracle-checkable.

    Output is the per-group audit row (take counts, achieved share, and an
    id-sum checksum binding the exact selected set), not the sampled rows —
    compact enough to hash-compare while still pinning every selected id.

    Plan: one count agg (partial-combining, group keys only), two 1-row /
    k-row broadcasts back, and ONE shuffle of the corpus on the group key
    for the per-group rank window. Groups are few → that window is the
    skew point at 100 TB; the scale path that removes it is
    ``mixture_rate_gate`` below (round-6): once group counts come from
    metadata instead of a scan, the exact rank cutoff swaps for a
    zero-shuffle hash-rate gate with threshold n_take_g/n_g. Groups
    absent from MIX_WEIGHTS are excluded; a weight for a group absent
    from the corpus simply cannot bind S (no row, no cap)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(*MIX_WEIGHTS.keys())
    )
    w = None
    for lang, pct in MIX_WEIGHTS.items():
        cond = (w if w is not None else F).when(F.col("lang") == lang, F.lit(pct))
        w = cond
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .withColumn("w", w)
    )
    cap = counts.agg(F.min(F.expr("n_total * 100 div w")).alias("S"))
    takes = counts.crossJoin(F.broadcast(cap)).withColumn(
        "n_take", F.expr("w * S div 100")
    )
    ranked = docs.withColumn(
        "_h", md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    ).withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy("lang").orderBy("_h", "doc_id")),
    )
    sel = ranked.join(F.broadcast(takes), "lang").filter(F.col("_rn") <= F.col("n_take"))
    out = sel.groupBy("lang").agg(
        F.first("n_total").alias("n_total"),
        F.first("n_take").alias("n_take"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("id_checksum"),
    )
    return out.withColumn(
        "achieved_share",
        F.round(F.col("n_take") / F.sum("n_take").over(Window.partitionBy()), 6),
    )


def _oracle_mixture_sample() -> str:
    langs = ", ".join(f"'{k}'" for k in MIX_WEIGHTS)
    cases = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in MIX_WEIGHTS.items())
    h = md5_long_sql("'mix:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH wt AS (
  SELECT lang, COUNT(*) AS n_total, (CASE {cases} END) AS w
  FROM documents WHERE lang IN ({langs}) GROUP BY lang
), cap AS (
  SELECT MIN(n_total * 100 // w) AS S FROM wt
), takes AS (
  SELECT lang, n_total, (w * S) // 100 AS n_take FROM wt CROSS JOIN cap
), ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rn
  FROM documents WHERE lang IN ({langs})
), sel AS (
  SELECT r.lang, r.doc_id, t.n_total, t.n_take
  FROM ranked r JOIN takes t USING (lang) WHERE r.rn <= t.n_take
)
SELECT lang, MIN(n_total) AS n_total, MIN(n_take) AS n_take,
       COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       round(MIN(n_take) / (SELECT SUM(n_take) FROM takes), 6) AS achieved_share
FROM sel GROUP BY lang
"""


_RATE_DEN = 1_000_000  # hash-gate denominator: rate resolution 1e-6


def mixture_takes(
    group_counts: dict[str, int], *, weights: dict[str, int] = MIX_WEIGHTS
) -> dict[str, tuple[int, int, int]]:
    """The metadata half of mixture rebalancing, as pure driver arithmetic:
    given per-group row counts (from catalog statistics / partition
    metadata — NO scan), derive the same S = min_g(n_g·100 div w_g) cap
    and n_take_g = (w_g·S) div 100 as ``q_mixture_sample``, plus the
    integer hash-gate threshold t_g = (n_take_g·RATE_DEN) div n_g.
    Returns {group: (n_total, n_take, threshold)} — all-integer, so any
    engine fed the same counts derives the identical thresholds."""
    known = {g: n for g, n in group_counts.items() if g in weights and n > 0}
    if not known:
        return {}
    S = min(n * 100 // weights[g] for g, n in known.items())
    return {
        g: (n, weights[g] * S // 100, (weights[g] * S // 100) * _RATE_DEN // n)
        for g, n in known.items()
    }


def mixture_rate_gate(
    docs: DataFrame,
    group_counts: dict[str, int],
    *,
    weights: dict[str, int] = MIX_WEIGHTS,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """The 100 TB form of ``q_mixture_sample``'s selection (the documented
    hash-rate-gate swap): when group counts come from table METADATA
    instead of a scan, the per-group rank window — the exact variant's one
    corpus shuffle — disappears entirely. A row survives iff
    md5-int64('mix:'+id) % RATE_DEN < t_g, with t_g derived by
    ``mixture_takes`` from the metadata counts: a ZERO-SHUFFLE codegen
    filter stacked on the scan (plan-asserted in tests/test_contamination).

    Trade: the achieved group sizes are binomial around n_take_g
    (relative error ~1/√n_take) instead of exact — the standard
    approximation a real mixing job accepts for removing the only
    exchange. Selection stays reshuffle/engine-independent (same hash
    contract as every gate in this module) but picks a DIFFERENT
    deterministic subset than the exact variant's rank cutoff — the two
    variants' achieved shares are differentially compared in
    tests/test_contamination.py. Groups with no metadata row or zero/
    missing weight are excluded, matching the exact variant."""
    takes = mixture_takes(group_counts, weights=weights)
    if not takes:
        return docs.filter(F.lit(False))
    h = md5_long(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))) % F.lit(_RATE_DEN)
    thresh = None
    for g, (_, _, t) in takes.items():
        cond = (thresh if thresh is not None else F).when(F.col(group_col) == g, F.lit(t))
        thresh = cond
    return docs.filter(h < thresh.otherwise(F.lit(0)))


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

TFIDF_TOP = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: explode the word multiset, term
    frequency per doc, document frequency per term, idf = ln(N/df), rank by
    tf·idf desc with term-asc tie-break.

    Plan: two shuffles (per-doc-term agg, per-term doc freq) + one
    broadcast-able join of the term dictionary back to the doc-term frame —
    the vocabulary (distinct terms) is orders of magnitude smaller than the
    corpus at any scale. The final top-k is a per-doc window. Corpus size
    enters the plan as a broadcast 1-row aggregate cross-joined into the
    idf projection (exactly the oracle's ``CROSS JOIN n``) — no
    driver-side ``count()``, so the operator stays a single composable
    lazy plan."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.crossJoin(F.broadcast(n)).select("term", F.log(F.col("_n_docs") / F.col("df")).alias("idf"))
    scored = tf.join(F.broadcast(idf), "term").withColumn("tfidf", F.col("tf") * F.col("idf"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def _oracle_tfidf() -> str:
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, round(tfidf, 6) AS tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
  FROM scored
) WHERE rnk <= {TFIDF_TOP}
"""


# ---------------------------------------------------------------------------
# corpus-wide n-gram counts
# ---------------------------------------------------------------------------

NGRAM_TOP = 20


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams (n-gram statistics for tokenizer /
    contamination analysis): per-row bigram expansion (zero-shuffle), one
    count shuffle, TakeOrderedAndProject for the top-k."""
    return (
        _bigram_stream(load_table(spark, sf_dir, "documents"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(NGRAM_TOP)
    )


ORACLE_BIGRAM_TOPK = f"""
WITH tok AS (
  SELECT string_split(text, ' ') AS words FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT unnest(list_transform(range(len(words) - 1),
                               i -> words[i+1] || ' ' || words[i+2])) AS bigram
  FROM tok
)
SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
ORDER BY n DESC, bigram LIMIT {NGRAM_TOP}
"""


# ---------------------------------------------------------------------------
# repetition detection — degenerate / boilerplate text signal
# ---------------------------------------------------------------------------

REP_NGRAM = 3


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition statistics: the most-repeated word trigram's
    count and its share of all trigram positions — the quality signal that
    catches degenerate generations and boilerplate (high max-repeat share)
    that per-token stats like TTR miss. A curation pipeline thresholds
    ``top_tri_share`` alongside ``doc_stats``'s quality score.

    Plan: per-row trigram expansion (zero-shuffle) → one count shuffle on
    (doc_id, trigram) → per-doc max via a map-side-combining agg; no
    window. Not in the 50-slot driver registry (capped); DuckDB twin runs
    in tests/test_contamination.py."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(… doc_id, text …) → per-doc repetition stats (reusable transform
    behind ``q_repetition_stats``; see there for semantics)."""
    words = F.split(F.col("text"), " ")
    tris = F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(REP_NGRAM)),
        lambda i: F.concat_ws(
            " ",
            F.element_at(words, i + F.lit(1)),
            F.element_at(words, i + F.lit(2)),
            F.element_at(words, i + F.lit(3)),
        ),
    )
    exploded = (
        docs.filter(F.size(words) >= REP_NGRAM)
        .select("doc_id", F.explode(tris).alias("tri"))
    )
    counts = exploded.groupBy("doc_id", "tri").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_trigrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_trigrams"),
            F.max("n").cast("long").alias("top_tri_count"),
            # deterministic argmax: highest count, then lexicographically
            # smallest trigram (max_by on (n, reversed-string) is not
            # expressible; min_by over (-n, tri) is)
            F.min_by("tri", F.struct((-F.col("n")).alias("_neg"), F.col("tri"))).alias("top_tri"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_distinct_trigrams",
            "top_tri_count",
            "top_tri",
            F.round(F.col("top_tri_count") / F.col("n_trigrams"), 6).alias("top_tri_share"),
        )
    )


ORACLE_REPETITION_STATS = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= {REP_NGRAM}
), tris AS (
  SELECT doc_id,
         unnest(list_transform(range(len(words) - {REP_NGRAM - 1}),
                               i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])) AS tri
  FROM tok
), counts AS (
  SELECT doc_id, tri, count(*) AS n FROM tris GROUP BY doc_id, tri
), ranked AS (
  SELECT doc_id, tri, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tri) AS rn,
         sum(n) OVER (PARTITION BY doc_id) AS n_trigrams,
         count(*) OVER (PARTITION BY doc_id) AS n_distinct
  FROM counts
)
SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
       CAST(n_distinct AS BIGINT) AS n_distinct_trigrams,
       CAST(n AS BIGINT) AS top_tri_count, tri AS top_tri,
       round(n / n_trigrams, 6) AS top_tri_share
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# benchmark-contamination check — n-gram overlap vs an eval set
# ---------------------------------------------------------------------------

CONTAM_NGRAM = 5  # word n-gram size; standard contamination checks use 5-13
EVAL_MOD = 50  # doc_id % 50 == 0 defines the held-out eval set
# (gram, eval doc) rows the plan build may collect: the gram map is shipped
# to every probe task, so it must stay a broadcast-sized side
EVAL_GRAMS_MAX = 1 << 20


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document, the
    eval-set document it shares the most word 5-grams with (and the count) —
    the pre-training pass that answers "is the eval set in the training
    data?". Eval set = every 50th doc; eval docs appear in the corpus too,
    so they self-report with full overlap (the built-in positive control).

    Plan: the eval side (corpus/EVAL_MOD docs, a pushed-filter scan) runs
    through the gram pass (``word_gram_hash_rows``, distinct per doc) and is
    collected ONCE at plan build into a gram → eval-doc map — a bounded
    side, the same bytes a broadcast join would ship to every executor.
    Each corpus doc's distinct grams, overlap counts and argmax are then
    computed locally in ONE zero-shuffle Arrow pass (a doc's whole answer
    depends only on its own gram set and the eval map). Values equal the
    DuckDB twin's distinct-pair join: n_shared = |doc grams ∩ eval doc
    grams|, ties to the lowest eval id. Scale ceiling: the eval side must
    fit one executor. At 100 TB this is the standard decontamination sweep
    shape: corpus-side scan + broadcast eval grams.

    The probe and ``word_gram_hash_rows`` share one per-text gram loop
    (``_word_gram_hasher``), so both sides hash grams identically. The
    same DuckDB twin also runs locally in tests/test_contamination.py."""
    docs = load_table(spark, sf_dir, "documents")
    eval_rows = collect_bounded(
        word_gram_hash_rows(
            docs.filter(F.col("doc_id") % EVAL_MOD == 0),
            n_words=CONTAM_NGRAM,
            distinct=True,
            out_id="eval_doc_id",
        ),
        EVAL_GRAMS_MAX,
    )
    if eval_rows is None:
        raise ValueError(f"the eval set has more than EVAL_GRAMS_MAX={EVAL_GRAMS_MAX} distinct (gram, doc) rows")
    eval_map: dict[int, list[int]] = {}
    for gh, eval_id in zip(eval_rows["gh"].tolist(), eval_rows["eval_doc_id"].tolist()):
        eval_map.setdefault(gh, []).append(eval_id)

    def _probe(it):
        import pandas as pd

        grams = _word_gram_hasher(CONTAM_NGRAM, distinct=True)
        for pdf in it:
            ids_out, top_out, n_out = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                hs = grams(text)
                counts: dict[int, int] = {}
                for g in hs:
                    for e in eval_map.get(g, ()):
                        counts[e] = counts.get(e, 0) + 1
                if not counts:
                    continue
                top, shared = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
                ids_out.append(did)
                top_out.append(top)
                n_out.append(shared)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids_out, dtype="int64"),
                    "top_eval_doc": pd.Series(top_out, dtype="int64"),
                    "max_shared": pd.Series(n_out, dtype="int64"),
                }
            )

    return (
        docs.select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") >= CONTAM_NGRAM - 1))
        .mapInPandas(_probe, "doc_id long, top_eval_doc long, max_shared long")
    )


def _oracle_contamination() -> str:
    gram = " || ' ' || ".join(f"words[i+{k + 1}]" for k in range(CONTAM_NGRAM))
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= {CONTAM_NGRAM}
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(len(words) - {CONTAM_NGRAM - 1}),
                                             i -> {md5_long_sql(f"({gram})")}))) AS gh
  FROM tok
), ovl AS (
  SELECT c.doc_id, e.doc_id AS eval_doc_id, count(*) AS n_shared
  FROM grams c JOIN grams e ON c.gh = e.gh
  WHERE e.doc_id % {EVAL_MOD} = 0
  GROUP BY c.doc_id, e.doc_id
)
SELECT doc_id, eval_doc_id AS top_eval_doc, CAST(n_shared AS BIGINT) AS max_shared
FROM ovl
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, eval_doc_id) = 1
"""


ORACLE_CONTAMINATION_CHECK = _oracle_contamination()


# ---------------------------------------------------------------------------
# sequence packing — deterministic hash-bucket packing to a token budget
# ---------------------------------------------------------------------------

PACK_BUDGET = 512  # tokens per training sequence
PACK_BUCKETS = 64  # hash buckets ~ corpus_tokens / (docs_per_bucket * budget)


CHUNK_W = 64  # tokens per chunk
CHUNK_S = 48  # stride (CHUNK_W - CHUNK_S = 16-token overlap)


def chunk_docs(docs: DataFrame, *, window: int = CHUNK_W, stride: int = CHUNK_S) -> DataFrame:
    """(… doc_id, text …) → one row per fixed-window token chunk with
    overlap — the context-window chunking every training/RAG pipeline runs
    beside packing: chunk c covers tokens [c·stride, c·stride + window).
    A doc with n tokens yields ceil(max(n - window, 0) / stride) + 1
    chunks (always ≥ 1 — short docs are one whole chunk), so every token
    lands in at least one chunk and consecutive chunks share
    window − stride tokens.

    Zero-shuffle: split → per-doc start-index sequence → posexplode of
    slice-joins, all codegen expressions (no UDF). Output carries the
    chunk text plus the md5→int64 fingerprint of it, so downstream exact
    dedup of chunks is one hash away."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    last_start = F.floor((F.greatest(n - F.lit(window), F.lit(0)) + F.lit(stride - 1)) / F.lit(stride)).cast("int") * F.lit(stride)
    starts = F.sequence(F.lit(0), last_start, F.lit(stride))
    chunks = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(words, s + 1, window)))
    out = docs.select(
        "doc_id", n.cast("long").alias("n_tokens"), F.posexplode(chunks).alias("chunk_id", "chunk_text")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(F.split(F.col("chunk_text"), " ")).cast("long").alias("chunk_tokens"),
        md5_long(F.col("chunk_text")).alias("chunk_hash"),
    )


ORACLE_CHUNK_DOCS = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS words, len(string_split(text, ' ')) AS n
  FROM documents
), starts AS (
  SELECT doc_id, n, words,
         unnest(range(0, CAST(ceil(greatest(n - {CHUNK_W}, 0) / {CHUNK_S}.0) AS BIGINT) * {CHUNK_S} + 1, {CHUNK_S})) AS s
  FROM tok
), c AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(s / {CHUNK_S} AS BIGINT) AS chunk_id,
         array_to_string(words[s + 1 : s + {CHUNK_W}], ' ') AS chunk_text
  FROM starts
)
SELECT doc_id, n_tokens, chunk_id,
       CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS chunk_tokens,
       {md5_long_sql("chunk_text")} AS chunk_hash
FROM c
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`chunk_docs` over the documents table
    (round-8 seventh rotation: the newest text-family operator gets a hard
    driver row; coverage/overlap invariants stay pinned in
    tests/test_contamination.py)."""
    return chunk_docs(load_table(spark, sf_dir, "documents"))


def pack_docs(docs: DataFrame) -> DataFrame:
    """(… doc_id, text …) → (doc_id, n_tok, pack_id, running_tok): the
    deterministic pack layout (reusable transform — see
    ``q_sequence_packing`` for the reasoning and the curation pipeline for
    the composed use). One shuffle on pack_id; running sum inside packs."""
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    h = md5_long(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    assigned = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        (h % F.lit(PACK_BUCKETS)).alias("pack_id"),
        h.alias("_h"),
    )
    w = (
        Window.partitionBy("pack_id")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return assigned.withColumn("running_tok", F.sum("n_tok").over(w))


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign every document to one of
    PACK_BUCKETS packs by content hash, lay documents out inside each pack
    in (hash, doc_id) order, and report per-pack statistics — n_docs, total
    tokens, how many fit inside the PACK_BUDGET cut (running-sum ≤ budget),
    and the fill ratio of the cut.

    Greedy first-fit packing is inherently sequential; the distributed
    version every large corpus uses is exactly this: a deterministic
    partition into packs (hash → order-independent, engine-independent,
    reshuffle-proof — same argument as ``sample_gate``) plus an
    in-pack ordered layout. One shuffle on the pack id; the running sum is
    a window inside each (small) pack.

    In the driver registry since the round-5 rotation; the same DuckDB
    twin also runs locally in tests/test_contamination.py."""
    packed = pack_docs(load_table(spark, sf_dir, "documents"))
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tok"),
            F.sum(F.when(F.col("running_tok") <= PACK_BUDGET, 1).otherwise(0)).cast("long").alias("n_fit"),
            F.max(F.when(F.col("running_tok") <= PACK_BUDGET, F.col("running_tok"))).cast("long").alias("used_tok"),
        )
        .select(
            "pack_id",
            "n_docs",
            "total_tok",
            "n_fit",
            F.coalesce(F.col("used_tok"), F.lit(0)).alias("used_tok"),
            F.round(F.coalesce(F.col("used_tok"), F.lit(0)) / F.lit(float(PACK_BUDGET)), 6).alias("fill_ratio"),
        )
    )


ORACLE_SEQUENCE_PACKING = f"""
WITH assigned AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         ({md5_long_sql("'pack:' || CAST(doc_id AS VARCHAR)")}) % {PACK_BUCKETS} AS pack_id,
         {md5_long_sql("'pack:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
), packed AS (
  SELECT *, sum(n_tok) OVER (PARTITION BY pack_id ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS running_tok
  FROM assigned
)
SELECT pack_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tok,
       CAST(sum(CASE WHEN running_tok <= {PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
       CAST(coalesce(max(CASE WHEN running_tok <= {PACK_BUDGET} THEN running_tok END), 0) AS BIGINT) AS used_tok,
       round(coalesce(max(CASE WHEN running_tok <= {PACK_BUDGET} THEN running_tok END), 0) / {float(PACK_BUDGET)}, 6) AS fill_ratio
FROM packed GROUP BY pack_id
"""


# ---------------------------------------------------------------------------
# PII detection + redaction — regex scrub, the standard pre-training gate
# ---------------------------------------------------------------------------

# Patterns are written for the COMMON subset of Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backreferences — both engines must count and
# replace identically for the differential gate to hold. Counting runs each
# pattern against the ORIGINAL text; redaction applies them in this exact
# order (email first — it can contain digits/dots that the later patterns
# would otherwise chew on).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(… doc_id, text …) → per-doc PII counts + the redacted text's
    length and md5: the scrub every pre-training corpus runs before the
    data leaves curation (emails, phone numbers, IPs, SSN-shaped ids →
    typed placeholder tokens).

    Zero-shuffle codegen map — counts and the sequential replace chain are
    per-row JVM regex work, so the operator is trivially 100 TB-safe (scales
    with scan bandwidth, no exchange, no Python). The redacted text itself
    is intentionally reduced to (length, md5) here: the audit table is what
    pipelines keep; the full redacted column is the same ``withColumn``
    minus the hash, downstream of the same plan.

    Overlap semantics (deliberate, round-5 ADVICE): the ``n_*`` counts are
    PER-PATTERN MATCHES ON THE RAW TEXT, not replacement counts — when
    matches overlap (e.g. an IP-shaped substring inside an email that the
    earlier email pass already replaced), ``pii_total`` can exceed the
    number of substrings actually rewritten in ``redacted_*``. Both engines
    compute both sides identically; the counts answer "how much PII-shaped
    content does this doc contain" (the gating signal), the redaction
    chain answers "what does the scrubbed text look like".

    Holds a hard driver-registry row since the round-6 rotation
    (``pii_stats``); tests/test_pii.py adds the planted-PII positive
    control and cross-engine literal checks on top."""
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = F.col("text")
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    total = None
    for name, _, _ in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return (
        docs.select("doc_id", "text", *counts)
        .withColumn("_red", redacted)
        .select(
            "doc_id",
            *[f"n_{name}" for name, _, _ in PII_PATTERNS],
            total.alias("pii_total"),
            F.length("_red").cast("long").alias("redacted_len"),
            F.md5(F.col("_red").cast("binary")).alias("redacted_md5"),
        )
    )


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scrub(load_table(spark, sf_dir, "documents"))


def _oracle_pii() -> str:
    count_cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return f"""
WITH counted AS (
  SELECT doc_id,
       {count_cols},
       {red} AS red
  FROM documents
)
SELECT doc_id, n_email, n_ip, n_ssn, n_phone,
       {total} AS pii_total,
       CAST(length(red) AS BIGINT) AS redacted_len,
       md5(red) AS redacted_md5
FROM counted
"""


ORACLE_PII_STATS = _oracle_pii()


# ---------------------------------------------------------------------------
# unigram language-model scoring — CCNet-style perplexity quality gate
# ---------------------------------------------------------------------------

PPL_SMOOTH = 1  # add-k smoothing numerator constant


def unigram_nll(docs: DataFrame) -> DataFrame:
    """(doc_id, text …) → per-doc unigram negative log-likelihood and
    perplexity under a model fit on the corpus ITSELF — the CCNet-style
    quality signal (Wenzek et al.): documents whose token distribution is
    far from the corpus head (high avg_nll / ppl) are tail/noise
    candidates; a curation pipeline thresholds ``ppl`` next to
    ``doc_stats``'s heuristic score. p(w) = (c_w + 1) / (T + V), add-one
    smoothed over the corpus vocabulary.

    Plan: the model FIT is one token-count shuffle (explode → hash agg) —
    at 100 TB the vocabulary aggregate is millions of rows against
    trillions of token positions, so partial (map-side) aggregation does
    almost all the work; the corpus totals (T, V) enter the plan as a
    broadcast 1-row aggregate (same in-plan pattern as tf-idf's corpus
    size). SCORING canonicalizes each doc to (doc_id, term, cnt) rows —
    exact integers — then joins the term dictionary (broadcast-able here;
    a shuffle join on the uniform term key at open-vocabulary scale) and
    reduces cnt·nll per doc in one map-side-combining agg. No Python, no
    window; two shuffles total beyond the fit."""
    words_all = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    freq = words_all.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = freq.agg(
        F.sum("c").cast("double").alias("_t"), F.count(F.lit(1)).cast("double").alias("_v")
    )
    nll = freq.crossJoin(F.broadcast(totals)).select(
        "term", (-F.log((F.col("c") + PPL_SMOOTH) / (F.col("_t") + F.col("_v")))).alias("nll")
    )
    doc_terms = words_all.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        doc_terms.join(F.broadcast(nll), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            # fixed-point 1e-9-quantized terms summed as int64 (round-8
            # review fix): a plain double sum is partial-aggregation-
            # order-dependent, and a doc's avg_nll landing within ~1 ulp
            # of a 6-dp rounding boundary could flip in one engine only —
            # the exact failure mode _dsum exists for, at nll scale
            (
                F.sum(
                    F.floor(F.col("cnt") * F.col("nll") * 1_000_000_000 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / 1_000_000_000
            ).alias("_sum_nll"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("_sum_nll") / F.col("n_tokens"), 6).alias("avg_nll"),
            F.round(F.exp(F.col("_sum_nll") / F.col("n_tokens")), 4).alias("ppl"),
        )
    )


def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_nll(load_table(spark, sf_dir, "documents"))


ORACLE_UNIGRAM_PPL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), freq AS (
  SELECT term, count(*) AS c FROM words GROUP BY term
), totals AS (
  SELECT CAST(sum(c) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v FROM freq
), nll AS (
  SELECT term, -ln((c + {PPL_SMOOTH}) / (t + v)) AS nll FROM freq CROSS JOIN totals
), doc_terms AS (
  SELECT doc_id, term, count(*) AS cnt FROM words GROUP BY doc_id, term
), scored AS (
  SELECT d.doc_id, CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
         sum(CAST(floor(d.cnt * n.nll * 1000000000 + 0.5) AS BIGINT)) / 1000000000 AS sum_nll
  FROM doc_terms d JOIN nll n USING (term) GROUP BY d.doc_id
)
SELECT doc_id, n_tokens, round(sum_nll / n_tokens, 6) AS avg_nll,
       round(exp(sum_nll / n_tokens), 4) AS ppl
FROM scored
"""


# doc_fingerprint left OFF the capped registry (round-5 rotation): it is
# the global-min special case of doc_winnow, which stays registered; its
# oracle still runs in tests/test_offregistry_parity.py. The freed slots
# give the round-3 LLM operators (contamination check, sequence packing)
# hard driver rows. Round-6 rotation: pii_stats + mixture_sample take the
# slots freed by freshness_now/seeded_noise (see operators/relational.py).

# ---------------------------------------------------------------------------
# URL / domain analytics (web-crawl curation: provenance + blocklists)
# ---------------------------------------------------------------------------

# one regex, byte-identical semantics in Java (Spark) and RE2 (DuckDB):
# scheme + captured domain, domain charset restricted to the common subset
URL_DOMAIN_RE = r"https?://([0-9a-zA-Z.-]+)"
URL_MOD = 3  # every URL_MOD-th doc gets planted provenance URLs
URL_SITES = 7  # rotating site-domain count for the plant


def _with_planted_urls(docs: DataFrame) -> DataFrame:
    """Deterministic positive control (the PII/boilerplate pattern): every
    URL_MOD-th doc carries one rotating site URL and one fixed CDN URL, so
    the domain rollup and the blocklist filter have known ground truth on
    a corpus whose organic text contains no URLs."""
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % URL_MOD == 0,
            F.concat(
                F.col("text"),
                F.lit(" see https://site"),
                (F.col("doc_id") % URL_SITES).cast("string"),
                F.lit(".example.com/p/"),
                F.col("doc_id").cast("string"),
                F.lit(" and https://cdn.example.org/a/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def doc_domains(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one row per URL OCCURRENCE: (doc_id, domain).
    Zero-shuffle codegen map (regexp_extract_all + explode) — the
    provenance-extraction primitive for crawl curation."""
    return docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(URL_DOMAIN_RE), 1)
        ).alias("domain"),
    )


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain provenance rollup over the planted corpus: distinct docs
    citing the domain + total occurrences. One hash-agg shuffle on the
    (low-cardinality, uniform) domain key. Off-registry: DuckDB twin runs
    in tests/test_contamination.py."""
    docs = _with_planted_urls(load_table(spark, sf_dir, "documents"))
    return (
        doc_domains(docs)
        .groupBy("domain")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )


ORACLE_URL_DOMAINS = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {URL_MOD} = 0
              THEN text || ' see https://site' || CAST(doc_id % {URL_SITES} AS VARCHAR)
                        || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                        || ' and https://cdn.example.org/a/' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
), hits AS (
  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://([0-9a-zA-Z.-]+)', 1)) AS domain
  FROM corpus
)
SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits
FROM hits GROUP BY domain
"""


def domain_blocklist_filter(docs: DataFrame, blocked: DataFrame) -> DataFrame:
    """Remove every document citing a blocked domain — the crawl-curation
    gate. ``blocked`` is a (domain) DataFrame so a 100 TB-scale blocklist
    works as a plain join (AQE broadcasts a small one from runtime stats);
    the doc-level removal is a left_anti on doc_id. Docs with no URLs are
    never touched (the explode emits nothing for them)."""
    flagged = (
        doc_domains(docs)
        .join(blocked.select(F.col(blocked.columns[0]).alias("domain")), "domain")
        .select("doc_id")
        .distinct()
    )
    return docs.join(flagged, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters (no-false-negative prefilter)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 8192


def _bigram_stream(docs: DataFrame) -> DataFrame:
    """(text) → one row per bigram OCCURRENCE — the zero-shuffle expansion
    behind the exact top-k (``q_bigram_topk``)."""
    words = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(2)),
        lambda i: F.concat_ws(
            " ", F.element_at(words, i + F.lit(1)), F.element_at(words, i + F.lit(2))
        ),
    )
    return docs.filter(F.size(words) >= 2).select(F.explode(bigrams).alias("bigram"))


def cms_counts(
    occurrences: DataFrame, *, term_col: str = "bigram", count_col: str | None = None
) -> dict:
    """Fit a count-min sketch over the occurrence stream: CMS_DEPTH
    independent hash rows × CMS_WIDTH buckets, one hash-agg shuffle whose
    key space is AT MOST depth×width (32k cells) regardless of how many
    distinct terms exist — the fixed-size summary a 100 TB corpus can
    always afford. Returns {(row, bucket): count} (≤32k entries,
    driver-held and broadcast back for estimation).

    ``count_col`` (round 15): the input may carry pre-aggregated partial
    counts instead of raw occurrences — the cell counts are then the
    weighted sums, EQUAL to the occurrence-stream counts by construction
    (every occurrence of a term lands in the same depth×width cells)."""
    # All depth hashes in ONE pass over the stream: each occurrence emits a
    # CMS_DEPTH-element bucket array and posexplode yields (r, b) pairs —
    # the corpus scan / bigram explode upstream runs once, not DEPTH times
    # (a union of per-row projections recomputes the source per branch).
    buckets = F.array(
        *[F.pmod(F.xxhash64(F.col(term_col), F.lit(r)), F.lit(CMS_WIDTH)) for r in range(CMS_DEPTH)]
    )
    if count_col is None:
        cells = occurrences.select(F.posexplode(buckets).alias("r", "b"))
        agg = cells.groupBy("r", "b").agg(F.count(F.lit(1)).alias("n"))
    else:
        cells = occurrences.select(
            F.col(count_col).alias("_w"), F.posexplode(buckets).alias("r", "b")
        )
        agg = cells.groupBy("r", "b").agg(F.sum("_w").alias("n"))
    return {(row["r"], row["b"]): row["n"] for row in agg.collect()}


def _cms_passes(term: Column, cms: dict, min_count: int) -> Column:
    """``min_r cms[r][h_r(term)] ≥ min_count`` — the CMS upper bound never
    underestimates, so this gate admits every true heavy hitter. Encoded
    compactly: the estimate clears the threshold iff EVERY hash row's
    bucket belongs to that row's (small) ≥-threshold bucket set, so the
    plan carries a few hundred literals (at most occurrences/min_count
    buckets per row), not the full depth×width matrix."""
    cond = None
    for r in range(CMS_DEPTH):
        heavy = [b for (row, b), n in cms.items() if row == r and n >= min_count]
        b = F.pmod(F.xxhash64(term, F.lit(r)), F.lit(CMS_WIDTH))
        row_ok = b.isin(heavy) if heavy else F.lit(False)
        cond = row_ok if cond is None else cond & row_ok
    return cond


def heavy_hitters_cms(
    docs: DataFrame, *, min_count: int, term_col: str = "bigram"
) -> DataFrame:
    """Exact heavy hitters (terms with true count ≥ min_count) via a CMS
    prefilter: because the sketch only OVERestimates, every true heavy
    hitter passes the estimate gate — no false negatives — and only the
    surviving candidate occurrences pay the exact per-term count shuffle.
    At 100 TB this converts an unbounded distinct-term shuffle into a 32k-
    cell sketch pass plus an exact pass over the (rare) heavy candidates.

    Result is EXACT (false positives are removed by the final exact
    filter), asserted equal to the direct computation in
    tests/test_cms.py.

    The bigram path feeds PARTIAL per-batch counts from the Arrow pass
    (``bigram_count_rows``) through the same sketch gate; the gate is
    value-based, so filtering partials then summing equals filtering
    occurrences then counting. Any other ``term_col`` reads ``docs`` as
    the occurrence stream itself."""
    if term_col == "bigram":
        occ_counts = bigram_count_rows(docs)
        cms = cms_counts(occ_counts, term_col="bigram", count_col="n")
        candidates = occ_counts.filter(_cms_passes(F.col("bigram"), cms, min_count))
        return (
            candidates.groupBy("bigram")
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") >= min_count)
        )
    cms = cms_counts(docs, term_col=term_col)
    candidates = docs.filter(_cms_passes(F.col(term_col), cms, min_count))
    return (
        candidates.groupBy(term_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


HH_MIN_COUNT = 40  # same bar tests/test_cms.py gates the sketch at


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the CMS family (round-10 ninth rotation): exact
    bigram heavy hitters (count ≥ HH_MIN_COUNT) found through the
    count-min prefilter. The oracle is the DIRECT exact computation —
    legitimate because the operator is exact BY CONSTRUCTION (the sketch
    only overestimates, so the gate admits every true heavy hitter and
    the final exact count removes false positives); what the driver row
    adds over tests/test_cms.py is the cross-engine value hash on the
    counts themselves."""
    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters_cms(docs, min_count=HH_MIN_COUNT)


ORACLE_HEAVY_HITTERS_CMS = f"""
WITH tok AS (
  SELECT string_split(text, ' ') AS words FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT unnest(list_transform(range(len(words) - 1),
                               i -> words[i+1] || ' ' || words[i+2])) AS bigram
  FROM tok
)
SELECT bigram, count(*) AS n FROM bg GROUP BY bigram HAVING count(*) >= {HH_MIN_COUNT}
"""


def q_hh_cms_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS-vs-exact ACCURACY AUDIT (round-14 thirteenth rotation, VERDICT
    r13 item 6 — the sketch-vs-exact comparison the CMS family never put
    under a hash-exact driver row): for every true heavy hitter, the exact
    occurrence count next to the count-min ESTIMATE (min over the depth
    hash rows of that term's bucket count) and the overcount — never
    negative by the sketch's one-sided error bound, which this row makes a
    cross-engine hash-verified fact rather than a pytest assertion.

    The audit sketch uses the repo's cross-engine ``md5_long`` hash
    contract (so DuckDB rebuilds the IDENTICAL depth×width cell table);
    the production prefilter path (``heavy_hitters_cms``, in-registry)
    keeps JVM xxhash64 — estimation physics is hash-agnostic, so auditing
    the md5 sketch grades the same depth/width geometry. The exact side is
    one unbounded-key hash agg — the LABELED audit baseline (same posture
    as ``emb_near_dup``): production finds heavy hitters through the
    sketch prefilter; this row exists to measure the sketch against truth.

    100 TB posture: the cell table is ≤ depth×width rows regardless of
    corpus (one bounded-key shuffle); the estimate join touches only heavy
    terms × depth rows.

    Plan (linear — the bigram stream executes once): one Arrow
    partial-count pass → one exact per-bigram agg → buckets hashed per
    DISTINCT bigram → the (r, b) cell agg carries each heavy term through
    as collect_list payload (bounded: ≤ occurrences/HH_MIN_COUNT heavies
    exist) → per-term min over its depth cells. Cell sums are weighted
    sums of exact counts ≡ occurrence counts, and every heavy term meets
    each of its depth cells exactly once (r is distinct by construction),
    so the rows equal the twin's occurrence-level cell table."""
    docs = load_table(spark, sf_dir, "documents")
    buckets = F.array(
        *[
            F.pmod(
                md5_long(F.concat(F.lit(f"cms{r}:"), F.col("bigram"))),
                F.lit(CMS_WIDTH),
            )
            for r in range(CMS_DEPTH)
        ]
    )
    counts = (
        bigram_count_rows(docs)
        .groupBy("bigram")
        .agg(F.sum("n").cast("long").alias("n_exact"))
    )
    cells = (
        counts.select("bigram", "n_exact", F.posexplode(buckets).alias("r", "b"))
        .groupBy("r", "b")
        .agg(
            F.sum("n_exact").alias("cell_n"),
            # collect_list skips NULLs → only the ≥-threshold terms ride
            F.collect_list(
                F.when(F.col("n_exact") >= HH_MIN_COUNT, F.struct("bigram", "n_exact"))
            ).alias("_heavies"),
        )
    )
    heav = cells.select("cell_n", F.explode("_heavies").alias("_h"))
    return (
        heav.groupBy(F.col("_h.bigram").alias("bigram"), F.col("_h.n_exact").alias("n_exact"))
        .agg(F.min("cell_n").alias("cms_est"))
        .select(
            "bigram",
            "n_exact",
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("n_exact")).cast("long").alias("overcount"),
        )
    )


def _oracle_hh_cms_vs_exact() -> str:
    bucket = (
        md5_long_sql("('cms' || CAST(r AS VARCHAR) || ':' || bigram)")
        + f" % {CMS_WIDTH}"
    )
    return f"""
WITH tok AS (
  SELECT string_split(text, ' ') AS words FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT unnest(list_transform(range(len(words) - 1),
                               i -> words[i+1] || ' ' || words[i+2])) AS bigram
  FROM tok
), depth AS (
  SELECT unnest(range({CMS_DEPTH})) AS r
), cells AS (
  SELECT r, bucket, count(*) AS cell_n FROM (
    SELECT d.r AS r, {bucket} AS bucket FROM bg, depth d
  ) GROUP BY r, bucket
), exact AS (
  SELECT bigram, count(*) AS n_exact FROM bg GROUP BY bigram HAVING count(*) >= {HH_MIN_COUNT}
), est AS (
  SELECT e.bigram, e.n_exact, min(c.cell_n) AS cms_est
  FROM (SELECT bigram, n_exact, d.r AS r, {bucket} AS bucket FROM exact, depth d) e
  JOIN cells c ON c.r = e.r AND c.bucket = e.bucket
  GROUP BY e.bigram, e.n_exact
)
SELECT bigram, n_exact, CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - n_exact AS BIGINT) AS overcount
FROM est
"""

# lang_id_agreement, bigram_topk, text_corpus_rollup and url_domains
# (single-shuffle token aggregations, the shape text_stats and
# tfidf_top_terms hold), doc_fingerprint (doc_winnow's) and corpus_sample
# (mixture_sample's hash gate) stay off the capped registry with oracle
# parity in tests/test_offregistry_parity.py.
QUERIES = {
    "text_stats": q_text_stats,
    "doc_winnow": q_doc_winnow,
    "mixture_sample": q_mixture_sample,
    "tfidf_top_terms": q_tfidf_top_terms,
    "contamination_check": q_contamination_check,
    "sequence_packing": q_sequence_packing,
    "pii_stats": q_pii_stats,
    "unigram_ppl": q_unigram_ppl,
    "chunk_docs": q_chunk_docs,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "hh_cms_vs_exact": q_hh_cms_vs_exact,
}

ORACLES = {
    "text_stats": ORACLE_TEXT_STATS,
    "doc_winnow": ORACLE_DOC_WINNOW,
    "mixture_sample": _oracle_mixture_sample(),
    "tfidf_top_terms": _oracle_tfidf(),
    "contamination_check": ORACLE_CONTAMINATION_CHECK,
    "sequence_packing": ORACLE_SEQUENCE_PACKING,
    "pii_stats": ORACLE_PII_STATS,
    "unigram_ppl": ORACLE_UNIGRAM_PPL,
    "chunk_docs": ORACLE_CHUNK_DOCS,
    "heavy_hitters_cms": ORACLE_HEAVY_HITTERS_CMS,
    "hh_cms_vs_exact": _oracle_hh_cms_vs_exact(),
}
