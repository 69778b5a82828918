"""Exact-substring span deduplication over the ``documents`` table —
cross-document duplicated token runs, detected as overlapping duplicated
word n-grams and merged into maximal spans (the ExactSubstr pass of
Lee et al., "Deduplicating Training Data Makes Language Models Better",
re-expressed as a banded n-gram inventory instead of a suffix array).

LLM-training-data operator beyond the reference's surface (build-brief
north star): document-level dedup (``operators/dedup.py``) misses the
boilerplate case — a licence block or navigation footer repeated verbatim
inside otherwise-unique documents. This pass finds every token run of
length ≥ SPAN_W that also occurs in another document, merges the
overlapping gram hits into maximal per-document spans, and (in
``strip_dup_spans``) excises every occurrence except the one in the
lowest-doc_id owner.

Plan shape (and why it survives 100 TB):
  1. gram inventory — one Arrow pass emitting (doc, pos, gram hash) per
     rolling word-W-gram (zero shuffle);
  2. duplicated-gram hits — a window min/max of doc_id per gram hash keeps
     the occurrences of grams seen in >1 doc: one shuffle on the uniform
     60-bit gram hash, carrying metadata rows only;
  3. span merge — per-doc gaps-and-islands over gram start positions (one
     window sort per doc partition, same family as sessionization).
No suffix array is materialized: the suffix-array construction of the
paper is a single-machine algorithm, while the n-gram inventory is
embarrassingly partitionable — the standard distributed approximation
(it cannot see duplicated runs shorter than SPAN_W, which is the
documented precision/recall knob).

Cross-engine contract: tokenization is the single-space split and gram
hashing is the md5→int64 contract (``functions/hashing.py``), identical
in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_sql
from ..sources.tables import load_table
from .text import word_gram_hash_rows

SPAN_W = 8  # minimum duplicated run length, in tokens

# fixed boilerplate planted on every 5th doc by the registry query: a
# 12-token run shared by ~20% of the corpus, guaranteeing multi-gram
# islands (12 tokens = 5 overlapping 8-grams that must merge into ONE span)
BOILERPLATE = "terms of service apply to all content provided by this site operator"
BOILERPLATE_MOD = 5


def _gram_hashes_sql(words: str) -> str:
    gram = " || ' ' || ".join(f"{words}[i+{k + 1}]" for k in range(SPAN_W))
    return (
        f"list_transform(range(len({words}) - {SPAN_W - 1}), "
        f"i -> {md5_long_sql(f'({gram})')})"
    )


def dup_gram_hits(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, pos, gh) for every gram occurrence whose
    hash appears in MORE THAN ONE document (stages 1–3 above). ``pos`` is
    the 0-based token index of the gram start.

    Plan: ONE Arrow gram pass (``word_gram_hash_rows``, the md5-int64
    grams of ``_gram_hashes_sql``) and the dup test as a window min/max
    over ``gh`` — ``min(doc_id) ≠ max(doc_id)`` over a gram's occurrences
    ⟺ it appears in >1 distinct doc — so the inventory executes once and
    the only shuffle carries (long, int, long) metadata rows."""
    grams = word_gram_hash_rows(docs, n_words=SPAN_W, with_pos=True)
    w = Window.partitionBy("gh")
    return (
        grams.withColumn("_mn", F.min("doc_id").over(w))
        .withColumn("_mx", F.max("doc_id").over(w))
        .filter(F.col("_mn") < F.col("_mx"))
        .select("doc_id", "pos", "gh")
    )


def dup_span_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → per-doc maximal duplicated spans, one output row
    per document that contains at least one cross-doc duplicated run:

      doc_id, n_tokens, n_dup_spans, dup_tokens, dup_share

    Two duplicated gram starts p < q in the same doc belong to one span
    when q ≤ p + SPAN_W (their token windows overlap or touch), so each
    island covers [min_pos, max_pos + SPAN_W) — the maximal run merge."""
    words = F.split(F.col("text"), " ")
    hits = dup_gram_hits(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    # NO distinct before the islands window (round 16): hit rows are
    # unique by (doc_id, pos) BY CONSTRUCTION — the gram inventory emits
    # exactly one gram per token position and the dup filter only drops
    # rows — so the r15 distinct hash-aggregated nothing and cost one
    # full exchange of the hit set. (Equal pos duplicates would have been
    # harmless to the islands logic anyway: pos == prev can never open an
    # island and min/max/count-by-island ignore repeats — but the exact
    # argument is uniqueness, pinned by the oracle hash.)
    islands = (
        hits.select("doc_id", "pos")
        .withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_island",
            F.when(F.col("prev").isNull() | (F.col("pos") > F.col("prev") + SPAN_W), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    spans = islands.groupBy("doc_id", "island").agg(
        (F.max("pos") + F.lit(SPAN_W) - F.min("pos")).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum("span_len").cast("long").alias("dup_tokens"),
    )
    return (
        per_doc.join(docs.select("doc_id", F.size(words).cast("long").alias("n_tokens")), "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_spans",
            "dup_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_share"),
        )
    )


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: duplicated-span stats over the documents corpus with
    a planted boilerplate suffix on every BOILERPLATE_MOD-th doc (the
    deterministic positive control: those docs share a 12-token run that
    must merge 5 overlapping 8-gram hits into ONE span; organic vocabulary
    overlaps supply the single-gram islands)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % BOILERPLATE_MOD == 0,
            # F.concat, not concat_ws: the oracle's `text || ' ' || lit`
            # NULL-propagates, while concat_ws silently skips NULLs — a
            # NULL-text doc would plant bare boilerplate on the Spark side
            # only and diverge (round-8 review fix; latent, data NULL-free)
            F.concat(F.col("text"), F.lit(" "), F.lit(BOILERPLATE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dup_span_stats(docs)


ORACLE_SUBSTRING_SPANS = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {BOILERPLATE_MOD} = 0
              THEN text || ' ' || '{BOILERPLATE}' ELSE text END AS text
  FROM documents
), tok AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM corpus
), grams AS (
  SELECT doc_id, u['pos'] AS pos, u['gh'] AS gh
  FROM (SELECT doc_id,
               unnest(list_transform(range(len(ghs)),
                                     i -> struct_pack(pos := i, gh := ghs[i+1]))) AS u
        FROM (SELECT doc_id, {_gram_hashes_sql("words")} AS ghs
              FROM tok WHERE len(words) >= {SPAN_W}) t)
), dup_set AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM grams)
  GROUP BY gh HAVING count(*) > 1
), hits AS (
  SELECT DISTINCT g.doc_id, g.pos FROM grams g JOIN dup_set d ON g.gh = d.gh
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos > lag(pos) OVER w + {SPAN_W} THEN 1 ELSE 0 END AS new_island
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), islands AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, island, max(pos) + {SPAN_W} - min(pos) AS span_len
  FROM islands GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
         CAST(sum(span_len) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT p.doc_id, CAST(len(t.words) AS BIGINT) AS n_tokens,
       p.n_dup_spans, p.dup_tokens,
       round(p.dup_tokens / CAST(len(t.words) AS DOUBLE), 6) AS dup_share
FROM per_doc p JOIN tok t ON p.doc_id = t.doc_id
"""


def strip_dup_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, text, n_removed_tokens): the corpus with
    every duplicated run removed EXCEPT its canonical occurrence — the
    actual ExactSubstr rewrite, not just the report.

    Ownership is per gram hash: the lowest doc_id containing a gram keeps
    it; every other doc's hit positions for that gram are removal
    candidates. Per doc, non-owned hit positions merge into maximal spans
    (same gaps-and-islands as ``dup_span_stats``) and the covered token
    indices are filtered out of the split array before re-joining the
    text. A doc that owns part of a longer shared run keeps exactly the
    grams it canonically owns — spans are trimmed, not all-or-nothing.

    Scale: adds one hash aggregate (min doc_id per gram) and one
    per-doc array-interval aggregation on top of ``dup_gram_hits``; the
    rewrite itself is a zero-shuffle codegen filter over the token array.
    """
    words = F.split(F.col("text"), " ")
    hits = dup_gram_hits(docs)
    owners = hits.groupBy("gh").agg(F.min("doc_id").alias("owner"))
    removals = (
        hits.join(owners, "gh")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    intervals = (
        removals.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_island",
            F.when(F.col("prev").isNull() | (F.col("pos") > F.col("prev") + SPAN_W), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("lo"),
            (F.max("pos") + F.lit(SPAN_W)).cast("int").alias("hi"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("lo", "hi")).alias("cut"))
    )
    kept = F.filter(
        F.transform(words, lambda tok, i: F.struct(tok.alias("tok"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("cut"), lambda c: (s["i"] >= c["lo"]) & (s["i"] < c["hi"])
        ),
    )
    return (
        docs.join(intervals, "doc_id", "left")
        .withColumn(
            "cut", F.coalesce("cut", F.expr("cast(array() as array<struct<lo:int,hi:int>>)"))
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.transform(kept, lambda s: s["tok"])).alias("text"),
            (F.size(words) - F.size(kept)).cast("long").alias("n_removed_tokens"),
        )
    )


QUERIES = {"substring_spans": q_substring_spans}
ORACLES = {"substring_spans": ORACLE_SUBSTRING_SPANS}
