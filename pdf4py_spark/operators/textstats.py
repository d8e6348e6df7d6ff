"""Text-analysis operators over ``documents``: quality scoring, language
identification, token accounting, fingerprinting — all pure relational
expressions (no UDFs), each with an exact DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import QuerySpec, table

# tiny inline stopword table for the language-vote heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
}


def text_quality(spark, sf_dir):
    """Per-document quality features: token count, type-token ratio, mean
    token length, and a keep/drop flag (the web-corpus filtering staple)."""
    docs = table(spark, sf_dir, "documents")
    return (docs
            .withColumn("toks", F.split("text", " "))
            .select(
                "doc_id",
                F.size("toks").cast("bigint").alias("n_tokens"),
                F.size(F.array_distinct("toks")).cast("bigint")
                .alias("n_distinct"),
                F.round(F.size(F.array_distinct("toks"))
                        / F.size("toks"), 4).alias("ttr"),
                F.round((F.length("text") - (F.size("toks") - 1))
                        / F.size("toks"), 4).alias("mean_token_len"))
            .withColumn(
                "keep",
                (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000)
                & (F.col("ttr") >= 0.1)))


TEXT_QUALITY_SQL = """
WITH feats AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct,
         ROUND(len(list_distinct(string_split(text, ' '))) /
               len(string_split(text, ' ')), 4) AS ttr,
         ROUND((length(text) - (len(string_split(text, ' ')) - 1)) /
               len(string_split(text, ' ')), 4) AS mean_token_len
  FROM documents
)
SELECT doc_id, n_tokens, n_distinct, ttr, mean_token_len,
       (n_tokens >= 10 AND n_tokens <= 1000 AND ttr >= 0.1) AS keep
FROM feats
"""


def lang_id(spark, sf_dir):
    """Stopword-vote language identification: distinct tokens join a tiny
    broadcast stopword dimension; argmax hits with deterministic ties."""
    docs = table(spark, sf_dir, "documents")
    stop_rows = [(lang, w) for lang, ws in sorted(STOPWORDS.items())
                 for w in ws]
    stop = spark.createDataFrame(stop_rows, "cand_lang string, w string")
    toks = (docs.select("doc_id", "lang", "text")
            .withColumn("toks", F.array_distinct(F.split("text", " ")))
            .select("doc_id", "lang", F.explode("toks").alias("w")))
    hits = (toks.join(F.broadcast(stop), "w")
            .groupBy("doc_id", "lang", "cand_lang")
            .agg(F.count("*").alias("n_hits")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("n_hits"), F.asc("cand_lang"))
    best = (hits.withColumn("rk", F.row_number().over(w))
            .where("rk = 1")
            .select("doc_id", F.col("cand_lang").alias("predicted_lang"),
                    "n_hits"))
    return (docs.select("doc_id", "lang").join(best, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("predicted_lang", F.lit("und"))
                .alias("predicted_lang"),
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                F.col("lang").alias("labeled_lang")))


def _stop_values_sql():
    rows = ", ".join("('%s', '%s')" % (lang, w)
                     for lang, ws in sorted(STOPWORDS.items()) for w in ws)
    return "(VALUES %s) AS stop(cand_lang, w)" % rows


LANG_ID_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, lang, w FROM (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
  )
),
hits AS (
  SELECT doc_id, lang, cand_lang, COUNT(*) AS n_hits
  FROM tok JOIN {stop} ON tok.w = stop.w
  GROUP BY doc_id, lang, cand_lang
),
best AS (
  SELECT doc_id, cand_lang AS predicted_lang, n_hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, cand_lang ASC) AS rk
  FROM hits
)
SELECT d.doc_id,
       COALESCE(b.predicted_lang, 'und') AS predicted_lang,
       COALESCE(b.n_hits, 0) AS n_hits,
       d.lang AS labeled_lang
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
  ON d.doc_id = b.doc_id
""".format(stop=_stop_values_sql())


def lang_confusion(spark, sf_dir):
    """Classifier-evaluation rollup for the language-ID heuristic: the
    (labeled, predicted) confusion matrix with per-cell recall share —
    the QA table a curation pipeline watches when it changes its lang
    filter. Composes the gated lang_id operator, then ONE hash
    aggregate + a broadcast-size per-label window for the share; the
    share is a single IEEE division of exact counts (bit-identical in
    both engines, no rounding needed)."""
    from pyspark.sql import Window

    pred = lang_id(spark, sf_dir)
    cells = (pred.groupBy(
        F.col("labeled_lang"), F.col("predicted_lang"))
        .agg(F.count("*").alias("n_docs")))
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang", "predicted_lang", "n_docs",
        (F.col("n_docs").cast("double")
         / F.sum("n_docs").over(w).cast("double")).alias("label_share"),
        (F.col("labeled_lang") == F.col("predicted_lang"))
        .alias("is_correct"))


LANG_CONFUSION_SQL = """
WITH pred AS ({lang_id}),
cells AS (
  SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
  FROM pred GROUP BY labeled_lang, predicted_lang
)
SELECT labeled_lang, predicted_lang, n_docs,
       CAST(n_docs AS DOUBLE) /
       CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS DOUBLE)
         AS label_share,
       labeled_lang = predicted_lang AS is_correct
FROM cells
""".format(lang_id=LANG_ID_SQL)


def token_rollup(spark, sf_dir):
    """Corpus token accounting per (lang, source): the sizing query every
    training-data pipeline starts with."""
    docs = table(spark, sf_dir, "documents")
    return (docs.withColumn("toks", F.split("text", " "))
            .groupBy("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size("toks").cast("bigint")).alias("n_tokens"),
                 F.sum(F.length("text").cast("bigint")).alias("n_chars_sum"),
                 F.round(F.avg(F.size("toks")), 4).alias("avg_tokens")))


TOKEN_ROLLUP_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars_sum,
       ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens
FROM documents GROUP BY lang, source
"""


def fingerprint(spark, sf_dir):
    """Document fingerprints: whole-text digest + min-shingle digest (the
    winnowing-style representative hash over word trigrams)."""
    docs = table(spark, sf_dir, "documents").where(
        "size(split(text, ' ')) >= 3")
    return (docs.withColumn("toks", F.split("text", " "))
            .select(
                "doc_id",
                F.md5("text").alias("doc_md5"),
                F.expr(
                    "array_min(transform(sequence(1, size(toks) - 2),"
                    " i -> md5(concat_ws(' ', element_at(toks, i),"
                    " element_at(toks, i + 1), element_at(toks, i + 2)))))"
                ).alias("min_shingle_md5")))


FINGERPRINT_SQL = """
SELECT doc_id, md5(text) AS doc_md5,
       list_min(list_transform(
         generate_series(1, len(toks) - 2),
         i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
         AS min_shingle_md5
FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 3)
"""


# --- BM25 ranked retrieval ------------------------------------------------------

#: fixed query terms for the gated check; pass `terms=` for other queries
BM25_TERMS = ("hash", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10


def bm25_search(spark, sf_dir, terms=BM25_TERMS):
    """Okapi BM25 over the documents table (Lucene-style idf =
    ln(1 + (N - df + 0.5)/(df + 0.5))), top-k by score.

    100 TB shape: documents that contain NO query term are eliminated by
    an arrays_overlap pre-filter BEFORE the explode (r2 verdict) — a
    codegen'd per-row array probe, so non-matching docs never generate
    token rows at all; the explode is then additionally filtered to the
    |terms| query words, keeping the shuffle at O(matching postings),
    not O(corpus tokens). Doc lengths and N/avgdl are tiny aggregates
    broadcast back (avgdl over the FULL corpus, computed before the
    pre-filter). Scores rounded to 4 decimals so last-ulp libm drift
    can't flip the cross-engine hash."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    with_len = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("dl"),
        F.split("text", " ").alias("toks"))
    stats = with_len.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    terms_arr = F.array(*[F.lit(t) for t in terms])
    tf = (with_len
          .where(F.arrays_overlap("toks", terms_arr))
          .select("doc_id", "dl", F.explode("toks").alias("w"))
          .where(F.col("w").isin(*terms))
          .groupBy("doc_id", "dl", "w")
          .agg(F.count("*").cast("double").alias("tf")))
    df = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    scored = (tf.join(F.broadcast(df), "w")
              .crossJoin(F.broadcast(stats))
              .withColumn("idf", F.log(
                  F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5)))
              .withColumn("contrib",
                          F.col("idf") * F.col("tf") * (BM25_K1 + 1)
                          / (F.col("tf") + BM25_K1
                             * (1 - BM25_B
                                + BM25_B * F.col("dl") / F.col("avgdl"))))
              .groupBy("doc_id")
              .agg(F.round(F.sum("contrib"), 4).alias("score")))
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= BM25_TOP_K)
            .select("doc_id", "score", "rank"))


BM25_SQL = """
WITH with_len AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
         string_split(text, ' ') AS toks
  FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM with_len),
tf AS (
  SELECT doc_id, dl, w, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS w FROM with_len)
  WHERE w IN ('hash', 'join', 'window')
  GROUP BY doc_id, dl, w
),
df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY w),
scored AS (
  SELECT doc_id,
         ROUND(SUM(ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
           AS score
  FROM tf JOIN df USING (w) CROSS JOIN stats
  GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 10
"""


def text_length_quantiles(spark, sf_dir):
    """Exact interpolated quantiles of document token length per source —
    Spark's percentile() and DuckDB's quantile_cont() share the
    (n-1)*p linear-interpolation definition, verified value-identical.
    At 100 TB the exact percentile is a single sort-based aggregate per
    group; swap in approx_percentile (t-digest sketch, mergeable,
    bounded memory) when groups stop fitting — the query shape is
    unchanged."""
    docs = table(spark, sf_dir, "documents")
    dl = docs.selectExpr(
        "source", "cast(size(split(text, ' ')) as double) AS dl")
    return (dl.groupBy("source").agg(
        F.round(F.expr("percentile(dl, 0.25D)"), 4).alias("p25"),
        F.round(F.expr("percentile(dl, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(dl, 0.75D)"), 4).alias("p75"),
        F.round(F.expr("percentile(dl, 0.95D)"), 4).alias("p95"),
        F.count("*").alias("n_docs")))


TEXT_QUANTILES_SQL = """
SELECT source,
       ROUND(quantile_cont(dl, 0.25), 4) AS p25,
       ROUND(quantile_cont(dl, 0.5), 4) AS p50,
       ROUND(quantile_cont(dl, 0.75), 4) AS p75,
       ROUND(quantile_cont(dl, 0.95), 4) AS p95,
       COUNT(*) AS n_docs
FROM (SELECT source,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      FROM documents)
GROUP BY source
"""


#: BPE-ish pre-tokenizer (RE2-safe subset of the GPT-2 pattern — letter
#: runs, single digits, single punctuation; no lookahead so Spark's Java
#: regex and DuckDB's RE2 agree match-for-match)
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def token_count_bpe(spark, sf_dir):
    """Token accounting under a BPE-style pre-tokenizer vs whitespace:
    the fertility estimate (pieces per word) every LLM data budget
    needs. Pure regexp_count projection + nothing else — zero shuffles;
    the regex is the lookahead-free subset both engines execute
    identically (validated piece-for-piece)."""
    docs = table(spark, sf_dir, "documents")
    n_ws = F.size(F.split("text", " ")).cast("bigint")
    n_bpe = F.expr(
        "cast(regexp_count(text, '%s') as bigint)" % BPE_PATTERN)
    return docs.select(
        "doc_id",
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_pieces_bpe"),
        F.round(n_bpe / n_ws, 4).alias("pieces_per_word"))


TOKEN_BPE_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)
         AS n_pieces_bpe,
       ROUND(len(regexp_extract_all(text, '{pat}')) /
             len(string_split(text, ' ')), 4) AS pieces_per_word
FROM documents
""".format(pat=BPE_PATTERN)


# --- real merge-table BPE ---------------------------------------------------

#: symbol wrapper / pre-token boundary for the replace-chain encoding;
#: control characters stripped from input first so they can't collide
_BPE_SEP = "\x1f"
_BPE_BOUND = "\x1e"


def _bpe_wrapped_expr(dialect):
    """Per-dialect SQL text producing the wrapped symbol string for a
    document: pre-tokens from BPE_PATTERN, each character wrapped in
    \\x1f, pre-tokens joined by \\x1e (merges can never cross the
    boundary — pair patterns require adjacent \\x1f wrappers). The
    wrapper/boundary control chars are stripped from the input first so
    hostile text can't forge symbol structure."""
    clean = "replace(replace(text, '\x1f', ''), '\x1e', '')"
    if dialect == "spark":
        return ("array_join(transform(regexp_extract_all(%s, '%s', 0),"
                " t -> regexp_replace(t, '(.)', '\x1f$1\x1f')), '\x1e')"
                % (clean, BPE_PATTERN))
    return ("array_to_string(list_transform(regexp_extract_all(%s, '%s'),"
            " t -> regexp_replace(t, '(.)', '\x1f\\1\x1f', 'g')), '\x1e')"
            % (clean, BPE_PATTERN))


def tokenize_bpe(spark, sf_dir):
    """REAL BPE tokenization with the vendored trained merge table
    (operators/bpe_merges.py, tools/train_bpe.py) — not just the
    pre-tokenizer fertility of token_count_bpe.

    Encoding trick that keeps this pure whole-stage-codegen Catalyst
    (zero shuffles, no UDF, no kernel): symbols are individually wrapped
    (\\x1fsym\\x1f) and concatenated, so applying merge (a, b) is ONE
    literal string replace of \\x1fa\\x1f\\x1fb\\x1f with \\x1fab\\x1f —
    replace() is left-to-right non-overlapping in both engines, exactly
    BPE's within-rank application order. Applying the trained merges as
    a rank-ordered replace chain is equivalent to the reference min-rank
    loop because a trained table can only rank a pair AFTER the merges
    that created its parts (pinned corpus-wide against a pure-Python
    min-rank encoder in tests/test_operators.py).

    Output pins the full token SEQUENCE, not just counts: bpe_md5 is the
    digest of the final wrapped string."""
    from .bpe_merges import BPE_MERGES

    docs = table(spark, sf_dir, "documents")
    s = F.expr(_bpe_wrapped_expr("spark"))
    for a, b in BPE_MERGES:
        s = F.replace(
            s, F.lit(_BPE_SEP + a + _BPE_SEP + _BPE_SEP + b + _BPE_SEP),
            F.lit(_BPE_SEP + a + b + _BPE_SEP))
    return docs.select(
        "doc_id",
        ((F.length(s) - F.length(F.replace(s, F.lit(_BPE_SEP), F.lit(""))))
         / 2).cast("bigint").alias("n_tokens_bpe"),
        F.md5(s).alias("bpe_md5"))


def _tokenize_bpe_sql():
    from .bpe_merges import BPE_MERGES

    s = _bpe_wrapped_expr("duckdb")
    for a, b in BPE_MERGES:
        s = "replace(%s, '%s', '%s')" % (
            s, _BPE_SEP + a + _BPE_SEP + _BPE_SEP + b + _BPE_SEP,
            _BPE_SEP + a + b + _BPE_SEP)
    return ("SELECT doc_id, CAST((len(s) - len(replace(s, chr(31), '')))"
            " / 2 AS BIGINT) AS n_tokens_bpe, md5(s) AS bpe_md5 "
            "FROM (SELECT doc_id, %s AS s FROM documents)" % s)


#: winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03): k-gram
#: size and window width — guarantee: any shared run of
#: k + w - 1 = 6 tokens produces at least one shared fingerprint
WINNOW_K = 3
WINNOW_W = 4


def winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints: hash every word trigram to a
    60-bit bigint, then keep the MINIMUM hash of each w=4 sliding window
    of consecutive trigram hashes (distinct per doc). The selected set
    is position-robust — the MOSS guarantee: two documents sharing any
    k+w-1 = 6-token run share a fingerprint — at ~1/w the volume of the
    full shingle set. All array algebra is per-row Catalyst (transform /
    slice / array_min); the only shuffle is the final distinct."""
    return _winnow_fps(table(spark, sf_dir, "documents"))


def _winnow_fps(docs):
    from . import widen_narrow_scan

    docs = widen_narrow_scan(docs.where(
        "size(split(text, ' ')) >= %d" % (WINNOW_K + WINNOW_W - 1)))
    hashed = (docs.withColumn("toks", F.split("text", " "))
              .withColumn("hs", F.expr(
                  "transform(sequence(1, size(toks) - %d), i -> "
                  "cast(conv(substring(md5(array_join("
                  "slice(toks, i, %d), ' ')), 1, 15), 16, 10) as bigint))"
                  % (WINNOW_K - 1, WINNOW_K))))
    return (hashed
            .select("doc_id", F.explode(F.expr(
                "array_distinct(transform(sequence(1, size(hs) - %d),"
                " j -> array_min(slice(hs, j, %d))))"
                % (WINNOW_W - 1, WINNOW_W))).alias("fp"))
            .distinct())


WINNOW_SQL = """
WITH hashed AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, len(toks) - {km1}),
           i -> CAST('0x' || substring(
                  md5(array_to_string(toks[i:i + {km1}], ' ')), 1, 15)
                AS BIGINT)) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= {kw})
)
SELECT DISTINCT doc_id, fp FROM (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(hs) - {wm1}),
           j -> list_min(hs[j:j + {wm1}]))) AS fp
  FROM hashed)
""".format(km1=WINNOW_K - 1, kw=WINNOW_K + WINNOW_W - 1,
           wm1=WINNOW_W - 1)


def curated_corpus(spark, sf_dir):
    """The end-to-end curation pipeline composed from this engine's own
    operators — what a training-data team actually ships:

      1. exact dedup, keep-min canonical (row_number over md5(text):
         one hash shuffle, WindowGroupLimit pushes the top-1 partial);
      2. quality gate (text_quality's keep rule: 10 <= tokens <= 1000,
         type-token ratio >= 0.1) — pure projection + filter;
      3. language gate (lang_id's stopword vote over a broadcast dim);
         docs with zero stopword hits ('und') drop via the inner join.

    Each stage's semantics are individually gated elsewhere; this query
    gates their COMPOSITION, including the order (dedup before the
    expensive token explode, filter before the join)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    canon = (docs.withColumn("rk", F.row_number().over(wdup))
             .where("rk = 1").drop("rk"))
    toks = F.split("text", " ")
    feats = canon.select(
        "doc_id", "source", "text",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4)
        .alias("ttr"))
    # persisted: `kept` feeds both the stopword explode and the final
    # join — without it the md5-window dedup shuffle runs twice
    from . import persist_tracked
    kept = persist_tracked(
        feats.where("n_tokens >= 10 AND n_tokens <= 1000 "
                    "AND ttr >= 0.1"))
    stop_rows = [(lang, w) for lang, ws in sorted(STOPWORDS.items())
                 for w in ws]
    stop = spark.createDataFrame(stop_rows, "cand_lang string, w string")
    tok = (kept.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w")))
    hits = (tok.join(F.broadcast(stop), "w")
            .groupBy("doc_id", "cand_lang")
            .agg(F.count("*").alias("n_hits")))
    wbest = Window.partitionBy("doc_id").orderBy(
        F.desc("n_hits"), F.asc("cand_lang"))
    best = (hits.withColumn("rk", F.row_number().over(wbest))
            .where("rk = 1")
            .select("doc_id", F.col("cand_lang").alias("predicted_lang")))
    return (kept.join(best, "doc_id")
            .select("doc_id", "source", "predicted_lang", "n_tokens",
                    "ttr", F.md5("text").alias("text_md5")))


CURATED_SQL = """
WITH canon AS (
  SELECT * FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rk
    FROM documents d) WHERE rk = 1
),
kept AS (
  SELECT * FROM (
    SELECT doc_id, source, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ROUND(len(list_distinct(string_split(text, ' '))) /
                 len(string_split(text, ' ')), 4) AS ttr
    FROM canon)
  WHERE n_tokens >= 10 AND n_tokens <= 1000 AND ttr >= 0.1
),
tok AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM kept)
),
hits AS (
  SELECT doc_id, cand_lang, COUNT(*) AS n_hits
  FROM tok JOIN {stop} ON tok.w = stop.w
  GROUP BY doc_id, cand_lang
),
best AS (
  SELECT doc_id, cand_lang AS predicted_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, cand_lang ASC) AS rk
  FROM hits
)
SELECT k.doc_id, k.source, b.predicted_lang, k.n_tokens, k.ttr,
       md5(k.text) AS text_md5
FROM kept k JOIN (SELECT * FROM best WHERE rk = 1) b
  ON k.doc_id = b.doc_id
""".format(stop=_stop_values_sql())


QUERIES = {
    "text_length_quantiles": QuerySpec(text_length_quantiles,
                                       TEXT_QUANTILES_SQL),
    "curated_corpus": QuerySpec(curated_corpus, CURATED_SQL),
    "text_quality": QuerySpec(text_quality, TEXT_QUALITY_SQL),
    "lang_id": QuerySpec(lang_id, LANG_ID_SQL),
    "lang_confusion": QuerySpec(lang_confusion, LANG_CONFUSION_SQL),
    "token_rollup": QuerySpec(token_rollup, TOKEN_ROLLUP_SQL),
    "fingerprint": QuerySpec(fingerprint, FINGERPRINT_SQL),
    "winnow_fingerprints": QuerySpec(winnow_fingerprints, WINNOW_SQL),
    "token_count_bpe": QuerySpec(token_count_bpe, TOKEN_BPE_SQL),
    "tokenize_bpe": QuerySpec(tokenize_bpe, _tokenize_bpe_sql()),
    "bm25_search": QuerySpec(bm25_search, BM25_SQL),
}
