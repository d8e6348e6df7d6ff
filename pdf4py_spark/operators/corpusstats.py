"""Corpus-statistics operators (round 4): Gopher-style repetition
quality signals, paragraph-level dedup accounting, and PMI collocation
mining — the remaining staples of a web-corpus curation pipeline
(Rae et al., "Scaling Language Models: ... Gopher", 2021 §A1.1 for the
repetition filters; Church & Hanks 1990 for PMI).

All Spark legs are built-in expressions (no UDFs); each has an exact
DuckDB oracle. Cross-engine float discipline: scores that divide big
integers are emitted as ONE IEEE double division of exactly-
representable operands (both engines compute bit-identical results),
never rounded below intrinsic scale — see operators/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import QuerySpec, table

#: Gopher-flavored keep thresholds (the published rule SHAPES with
#: fixture-friendly values; production tunes per corpus)
MAX_DUP_WORD_FRAC = 0.6
MAX_TOP_WORD_FRAC = 0.2
MAX_TOP_BIGRAM_FRAC = 0.18

#: collocation mining: minimum pair count and emitted top-k
PMI_MIN_COUNT = 5
PMI_TOP_K = 100


def quality_repetition(spark, sf_dir):
    """Per-document repetition signals + keep flag.

    dup_word_frac is per-row array algebra (zero shuffles for that
    column); the top-word / top-bigram mass needs the per-doc mode, so
    words are exploded once and aggregated twice (explode -> count per
    (doc, term) -> max per doc) — two hash aggregates on (doc_id, term),
    map-side combinable, the scalable shape for mode-of-many. Ratios
    divide small ints by doc length: single IEEE divisions of exact
    operands, identical in both engines."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.withColumn("toks", F.split("text", " "))

    base = toks.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        (F.lit(1.0) - F.size(F.array_distinct("toks"))
         / F.size("toks").cast("double")).alias("dup_word_frac"))

    words = toks.select(
        "doc_id", "toks", F.size("toks").alias("n"),
        F.posexplode("toks").alias("pos", "w"))
    top_word = (words.groupBy("doc_id", "w")
                .agg(F.count("*").alias("c"))
                .groupBy("doc_id").agg(F.max("c").alias("top_word_n")))
    bigrams = (words.where(F.col("pos") < F.col("n") - 1)
               .withColumn(
                   "w2", F.expr("element_at(toks, pos + 2)"))
               .select("doc_id", F.concat_ws(" ", "w", "w2").alias("bg")))
    top_bigram = (bigrams.groupBy("doc_id", "bg")
                  .agg(F.count("*").alias("c"))
                  .groupBy("doc_id").agg(F.max("c").alias("top_bigram_n")))

    out = (base.join(top_word, "doc_id")
           .join(top_bigram, "doc_id", "left")
           .select(
               "doc_id", "n_words", "dup_word_frac",
               (F.col("top_word_n") / F.col("n_words").cast("double"))
               .alias("top_word_frac"),
               F.coalesce(
                   F.col("top_bigram_n")
                   / (F.col("n_words") - F.lit(1)).cast("double"),
                   F.lit(0.0)).alias("top_bigram_frac")))
    return out.withColumn(
        "keep",
        (F.col("dup_word_frac") <= MAX_DUP_WORD_FRAC)
        & (F.col("top_word_frac") <= MAX_TOP_WORD_FRAC)
        & (F.col("top_bigram_frac") <= MAX_TOP_BIGRAM_FRAC))


QUALITY_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
         1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
           AS dup_word_frac
  FROM toks
),
words AS (
  SELECT doc_id, len(t) AS n, unnest(t) AS w,
         generate_subscripts(t, 1) AS pos
  FROM toks
),
topw AS (
  SELECT doc_id, MAX(c) AS top_word_n FROM (
    SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
  ) GROUP BY doc_id
),
bigrams AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS bg
  FROM words a JOIN words b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
topb AS (
  SELECT doc_id, MAX(c) AS top_bigram_n FROM (
    SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
  ) GROUP BY doc_id
)
SELECT base.doc_id, n_words, dup_word_frac,
       top_word_n / CAST(n_words AS DOUBLE) AS top_word_frac,
       COALESCE(top_bigram_n / CAST(n_words - 1 AS DOUBLE), 0.0)
         AS top_bigram_frac,
       dup_word_frac <= {mdw} AND
       top_word_n / CAST(n_words AS DOUBLE) <= {mtw} AND
       COALESCE(top_bigram_n / CAST(n_words - 1 AS DOUBLE), 0.0) <= {mtb}
         AS keep
FROM base JOIN topw USING (doc_id) LEFT JOIN topb USING (doc_id)
""".format(mdw=MAX_DUP_WORD_FRAC, mtw=MAX_TOP_WORD_FRAC,
           mtb=MAX_TOP_BIGRAM_FRAC)


def dedup_paragraph(spark, sf_dir):
    """Sub-document dedup accounting: sentence-unit exact dedup across
    the whole corpus (the paragraph-level pass web pipelines run before
    document-level near-dup; the documents table has no newlines, so
    the unit is the '. '-delimited sentence — same algebra, documented
    proxy). One explode -> global hash aggregate on the 64-bit unit
    hash -> per-doc rollup: every shuffle key is 8 bytes, and the unit
    relation is persisted because it feeds both the corpus-wide count
    and the per-doc join."""
    from . import persist_tracked

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    units = (docs
             .select("doc_id", F.posexplode(
                 F.split("text", r"\. ")).alias("pos", "u"))
             .where(F.length("u") > 0)
             .select("doc_id", F.expr(
                 "cast(conv(substring(md5(u), 1, 15), 16, 10) as bigint)")
                 .alias("uh")))
    units = persist_tracked(units)
    freq = units.groupBy("uh").agg(F.count("*").alias("n_occ"))
    return (units.join(freq, "uh")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_units"),
                 F.sum((F.col("n_occ") > 1).cast("long")).cast("bigint")
                 .alias("n_dup_units"))
            .withColumn("dup_unit_frac",
                        F.col("n_dup_units")
                        / F.col("n_units").cast("double")))


DEDUP_PARAGRAPH_SQL = """
WITH units AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(u), 1, 15) AS BIGINT) AS uh
  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS u
        FROM documents)
  WHERE len(u) > 0
),
freq AS (
  SELECT uh, COUNT(*) AS n_occ FROM units GROUP BY uh
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_units,
       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_units,
       SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS dup_unit_frac
FROM units JOIN freq USING (uh)
GROUP BY doc_id
"""


def bigram_pmi(spark, sf_dir):
    """Corpus-level collocation mining: top-K word bigrams by a
    PMI-proportional association score

        score = c_ab * N / (c_a * c_b)      (N = corpus unigram count)

    computed WITHOUT log (engines' libm log implementations differ at
    the ulp level; the ratio orders identically and both engines
    produce the bit-identical IEEE double because every operand is an
    exactly-representable int64 < 2^53 — documented cap; beyond it,
    promote to DECIMAL). Shape: one explode feeding three hash
    aggregates (unigrams, bigrams, total) + two broadcast-able joins of
    the bigram relation against the unigram counts; top-K via ONE
    window over the score-ordered bigram relation (rank ties broken by
    the bigram text, so the emitted set is deterministic)."""
    from . import persist_tracked, widen_narrow_scan

    docs = widen_narrow_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text"))
    # persist the LINEAR per-doc token array once (one row per doc);
    # the unigram explode and the per-row bigram-pair construction both
    # derive from it. Exploded rows never carry the whole array — a
    # persisted (pos, w, toks) relation would cache O(len^2) cells per
    # document (review finding).
    toks = persist_tracked(
        docs.withColumn("toks", F.split("text", " "))
        .select("doc_id", "toks"))
    words = toks.select(F.explode("toks").alias("w"))
    uni = persist_tracked(
        words.groupBy("w").agg(F.count("*").alias("c")))
    n_total = words.groupBy().agg(F.count("*").alias("nt"))
    bi = (toks.where(F.size("toks") >= 2)  # sequence(1,0) would run
          .select(F.explode(F.expr(       # DESCENDING on 1-token docs
              "transform(sequence(1, size(toks) - 1),"
              " i -> struct(element_at(toks, i) as w,"
              " element_at(toks, i + 1) as w2))")).alias("p"))
          .select("p.w", "p.w2")
          .groupBy("w", "w2").agg(F.count("*").alias("c_ab"))
          .where(F.col("c_ab") >= PMI_MIN_COUNT))
    scored = (bi
              .join(uni.select(F.col("w").alias("w"),
                               F.col("c").alias("c_a")), "w")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("c").alias("c_b")), "w2")
              .crossJoin(F.broadcast(n_total))
              .select(
                  F.col("w").alias("w1"), "w2", "c_ab", "c_a", "c_b",
                  ((F.col("c_ab").cast("double")
                    * F.col("nt").cast("double"))
                   / (F.col("c_a").cast("double")
                      * F.col("c_b").cast("double"))).alias("pmi_ratio")))
    win = Window.orderBy(F.col("pmi_ratio").desc(), "w1", "w2")
    return (scored
            .withColumn("rank", F.row_number().over(win).cast("bigint"))
            .where(F.col("rank") <= PMI_TOP_K))


BIGRAM_PMI_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
words AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos,
         len(t) AS n
  FROM toks
),
uni AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
tot AS (SELECT COUNT(*) AS nt FROM words),
bi AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c_ab
  FROM words a JOIN words b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.w, b.w
  HAVING COUNT(*) >= {minc}
),
scored AS (
  SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b,
         (CAST(c_ab AS DOUBLE) * CAST(nt AS DOUBLE))
           / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS pmi_ratio
  FROM bi JOIN uni ua ON bi.w1 = ua.w
          JOIN uni ub ON bi.w2 = ub.w, tot
)
SELECT w1, w2, c_ab, c_a, c_b, pmi_ratio,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi_ratio DESC, w1, w2)
            AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {topk}
""".format(minc=PMI_MIN_COUNT, topk=PMI_TOP_K)


# --- C4-style unit filter rules (round 5) ------------------------------------------

#: minimum words for a sentence unit to survive (C4 keeps lines with
#: >= 5 words; the synthetic corpus' '. '-units are shorter, so the
#: gate uses 3 to stay non-vacuous — the algebra is the point)
C4_MIN_UNIT_WORDS = 3
#: unit-level code/boilerplate markers (C4 drops lines containing '{'
#: or the word 'javascript'; 'lorem ipsum' kills the whole document)
C4_UNIT_BAD = ("{", "javascript")
C4_DOC_BAD = "lorem ipsum"


def quality_c4_rules(spark, sf_dir):
    """C4-style cleaning accounting, fully per-row (C4: Raffel et al.
    2020 §2.2 — public ruleset): sentence units shorter than
    C4_MIN_UNIT_WORDS words or containing code/boilerplate markers are
    dropped; a 'lorem ipsum' hit anywhere discards the document. Pure
    Catalyst higher-order array functions (split -> filter -> aggregate)
    — ZERO shuffles at any corpus scale; emits per-doc kept/dropped
    counts, kept-character volume, and the keep flag."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bad_pred = " OR ".join(
        "contains(lower(u), '%s')" % m for m in C4_UNIT_BAD)
    staged = (docs
              .withColumn("units", F.expr(
                  r"filter(split(text, '\\. '), u -> length(u) > 0)"))
              .withColumn("kept_arr", F.expr(
                  "filter(units, u -> size(split(u, ' ')) >= %d "
                  "AND NOT (%s))" % (C4_MIN_UNIT_WORDS, bad_pred))))
    out = staged.select(
        "doc_id",
        F.size("units").cast("bigint").alias("n_units"),
        F.size("kept_arr").cast("bigint").alias("n_kept"),
        F.expr("aggregate(kept_arr, 0L, (acc, u) -> acc + length(u))")
        .alias("kept_chars"),
        F.expr("contains(lower(text), '%s')" % C4_DOC_BAD)
        .alias("has_doc_bad"))
    return out.withColumn(
        "keep", (~F.col("has_doc_bad")) & (F.col("n_kept") > 0))


QUALITY_C4_SQL = """
WITH u AS (
  SELECT doc_id, text,
         list_filter(string_split(text, '. '),
                     u -> length(u) > 0) AS units
  FROM documents
),
k AS (
  SELECT doc_id, text, units,
         list_filter(units,
            u -> len(string_split(u, ' ')) >= {minw}
                 AND NOT ({bad})) AS kept
  FROM u
)
SELECT doc_id,
       CAST(len(units) AS BIGINT) AS n_units,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(COALESCE(list_sum(list_transform(kept, u -> length(u))), 0)
            AS BIGINT) AS kept_chars,
       contains(lower(text), '{docbad}') AS has_doc_bad,
       NOT contains(lower(text), '{docbad}') AND len(kept) > 0 AS keep
FROM k
""".format(minw=C4_MIN_UNIT_WORDS,
           bad=" OR ".join("contains(lower(u), '%s')" % m
                           for m in C4_UNIT_BAD),
           docbad=C4_DOC_BAD)


QUERIES = {
    "quality_repetition": QuerySpec(quality_repetition,
                                    QUALITY_REPETITION_SQL),
    "quality_c4_rules": QuerySpec(quality_c4_rules, QUALITY_C4_SQL),
    "dedup_paragraph": QuerySpec(dedup_paragraph, DEDUP_PARAGRAPH_SQL),
    "bigram_pmi": QuerySpec(bigram_pmi, BIGRAM_PMI_SQL),
}
