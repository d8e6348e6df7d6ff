"""Flagship extraction queries: the kernel pipeline exercised end-to-end
under the driver's DuckDB correctness gate.

Two input shapes:
* the ``documents`` test table, wrapped into HTML payloads by a pure
  Catalyst expression (so the SQL oracle can state the expected text
  exactly: boilerplate strip must return the original text), and
* the committed 44-row ``pages`` fixture (reference corpus, 32 of them
  PDFs), whose oracle parquet was produced from the reference
  implementation — the md5 check here IS the byte-identity invariant
  running inside the correctness gate.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from . import QuerySpec, table
from ..kernel import textextract
from ..kernel.htmlextract import extract_html_main
from ..kernel.parser import DocumentParser
from ..plans.pipeline import extract_pages, map_rows

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
FIXTURE_PAGES = os.path.join(_ROOT, "tests", "fixtures", "pages.parquet")
FIXTURE_ORACLE = os.path.join(_ROOT, "tests", "fixtures", "oracle.parquet")

# boilerplate wrapper: nav/script/style/footer must be stripped, the <p>
# block must survive verbatim
_WRAP = (
    "concat('<html><head><title>t</title><script>var x = 1;</script>"
    "<style>p { color: blue }</style></head><body>"
    "<nav><ul><li>Home</li></ul></nav><header><h1>masthead</h1></header>"
    "<article><p>', text, '</p></article>"
    "<footer>(c) corpus</footer></body></html>')"
)


def _docs_as_pages(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.expr(_WRAP), "utf-8").alias("html"),
        "text", "lang")


def extract_html_roundtrip(spark, sf_dir):
    """documents.text -> HTML boilerplate wrap (Catalyst) -> Arrow kernel
    boilerplate strip -> must round-trip to the original text."""
    pages = _docs_as_pages(spark, sf_dir)
    result = extract_pages(pages, num_partitions=8)
    return result.select("url", "extracted_utf8", "status")


EXTRACT_HTML_SQL = """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       text AS extracted_utf8,
       'ok' AS status
FROM documents
"""


def extract_stats_by_lang(spark, sf_dir):
    """Extraction byte accounting per language: kernel output joined back
    to the input dimension, aggregated JVM-side."""
    pages = _docs_as_pages(spark, sf_dir)
    result = extract_pages(pages, num_partitions=8)
    langs = pages.select("url", "lang")
    # project the narrow columns BEFORE the join so the extracted binary
    # payload never rides the join/aggregate shuffle
    slim = result.select("url", "bytes_out", "parse_ok")
    return (slim.join(langs, "url")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("bytes_out")).alias("bytes_out_sum"),
                 F.sum(F.col("parse_ok").cast("bigint")).alias("n_ok")))


EXTRACT_STATS_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS bytes_out_sum,
       COUNT(*) AS n_ok
FROM documents GROUP BY lang
"""


def _fixture_extraction(spark):
    from ..sources.pages import passwords_df
    pages = spark.read.parquet(FIXTURE_PAGES)
    return extract_pages(pages, num_partitions=4,
                         passwords=passwords_df(spark))


def extract_pdf_census(spark, sf_dir):
    """PDF structural census over the reference corpus fixture: object and
    page counts per url must equal the reference-derived oracle."""
    result = _fixture_extraction(spark)
    return (result.where("parse_ok and doc_kind = 'pdf'")
            .select("url", "n_objects", "n_pages"))


PDF_CENSUS_SQL = """
SELECT url, CAST(n_objects AS INT) AS n_objects,
       CAST(n_pages AS INT) AS n_pages
FROM read_parquet('{oracle}')
WHERE parse_ok
""".format(oracle=FIXTURE_ORACLE)


def extract_pdf_text_md5(spark, sf_dir):
    """THE byte-identity invariant as a gated query: md5 of the extracted
    bytes per url versus the oracle parquet."""
    result = _fixture_extraction(spark)
    return (result.where("parse_ok and doc_kind = 'pdf'")
            .select("url", F.md5("extracted").alias("text_md5")))


PDF_TEXT_MD5_SQL = """
SELECT url, extracted_md5 AS text_md5
FROM read_parquet('{oracle}')
WHERE parse_ok
""".format(oracle=FIXTURE_ORACLE)


def extract_pdf_unicode_md5(spark, sf_dir):
    """Font/encoding-aware extraction gate: md5 of the UTF-8 unicode text
    (ToUnicode CMaps + base encodings + Differences, kernel.fonts) per url
    versus the oracle built by running the SAME decode algorithm over the
    REFERENCE parser (tools/make_oracle.py) — two independent parsing
    stacks, one decode contract."""
    from ..sources.pages import passwords_df
    pages = spark.read.parquet(FIXTURE_PAGES)
    result = extract_pages(pages, num_partitions=4,
                           passwords=passwords_df(spark),
                           text_mode="unicode")
    return (result.where("parse_ok and doc_kind = 'pdf'")
            .select("url", F.md5("extracted").alias("unicode_md5")))


PDF_UNICODE_MD5_SQL = """
SELECT url, unicode_md5
FROM read_parquet('{oracle}')
WHERE parse_ok
""".format(oracle=FIXTURE_ORACLE)


# The six census gates. Each runs one kernel.textextract census over
# OUR parser for every fixture PDF and hash-compares it with the same
# census walked by the REFERENCE parser (tools/make_oracle.py), both
# formatted by one shared kernel.fonts / kernel.docmeta line formatter,
# so each gate compares traversal across two parser stacks on one output
# contract. All six compare on the reference-parseable set: our kernel
# additionally opens the AESV3/R6-encrypted fixtures (0020/0021) that
# the reference cannot parse at all (that capability is pinned by the
# crypto tests), so those two docs have no reference census to compare
# against.
#
# gate name -> (census function, its output columns after url, the gated
# projection, the oracle columns)
_CENSUS_GATES = {
    # Font-resource census: distinct canonical font lines (resource name
    # | Subtype | BaseFont | encoding kind | ToUnicode presence) per
    # document, formatted by kernel.fonts.font_census_line.
    "extract_pdf_fonts": (
        textextract.fonts_census, "n_fonts int, census string",
        ("n_fonts", "md5(census) AS fonts_md5"),
        "CAST(n_fonts AS INT) AS n_fonts, fonts_md5"),
    # Document-information metadata (K49): the canonical Info-dict +
    # annotation-census line (Title/Author/Subject/Creator/Producer/
    # CreationDate/ModDate + n_annots — text strings decoded per
    # §7.9.2.2 incl. string DECRYPTION on the encrypted fixtures),
    # formatted by kernel.docmeta.metadata_line.
    "extract_pdf_metadata": (
        textextract.doc_metadata, "meta string",
        ("md5(meta) AS meta_md5",),
        "meta_md5"),
    # Outlink census (K50): URI targets of Link annotations — the outlink
    # source a crawl pipeline feeds its frontier/link graph from —
    # formatted through kernel.docmeta.links_line (sorted distinct URIs;
    # total occurrence count carried separately).
    "extract_pdf_links": (
        textextract.doc_links, "n_links int, links string",
        ("n_links", "md5(links) AS links_md5"),
        "CAST(n_links AS INT) AS n_links, links_md5"),
    # XMP packet (K51): the catalog /Metadata stream payload's (length,
    # md5) through OUR parser's full filter/decrypt chain must byte-match
    # the reference's resolution. Raw-bytes pinning by design — no XML
    # parsing on executors (entity-expansion surface), and byte identity
    # is the stronger cross-stack check anyway.
    "extract_pdf_xmp": (
        textextract.doc_xmp, "xmp_bytes int, xmp_md5 string",
        ("xmp_bytes", "xmp_md5"),
        "CAST(xmp_bytes AS INT) AS xmp_bytes, xmp_md5"),
    # Bookmark census (K52): the /Outlines tree walked First/Next in
    # document order with decoded titles (same shared title-decode rule,
    # same bounds; cyclic/hostile trees terminate with partial output).
    "extract_pdf_outline": (
        textextract.doc_outline, "n_bookmarks int, outline string",
        ("n_bookmarks", "md5(outline) AS outline_md5"),
        "CAST(n_bookmarks AS INT) AS n_bookmarks, outline_md5"),
    # Dublin Core fields (K55): dc:title/dc:creator/dc:description values
    # scanned from the K51 packet — regex-level and bounded, never an XML
    # parser (entity decode is arithmetic with a cap) — formatted by
    # kernel.docmeta.xmp_fields_line.
    "extract_pdf_xmp_fields": (
        textextract.doc_xmp_fields, "n_xmp_fields int, fields string",
        ("n_xmp_fields", "md5(fields) AS xmp_fields_md5"),
        "CAST(n_xmp_fields AS INT) AS n_xmp_fields, xmp_fields_md5"),
}


def _census_row(census):
    """The census row function: for each %PDF- payload, applies the
    str-vs-bytes password rule and yields ``(url, *census(parser))``;
    a document whose parse fails yields no row."""
    def row(url, html, password, password_is_bytes):
        if not html.startswith(b"%PDF-"):
            return
        if password is not None and password_is_bytes:
            password = password.encode("utf-8")
        try:
            values = census(DocumentParser(html, password=password))
        except Exception:  # noqa: BLE001 - parse failure: no row
            return
        # doc_metadata returns its line bare; the others a tuple
        yield (url,) + (values if isinstance(values, tuple) else (values,))
    return row


def _census_gate(census, cols, projection):
    """The census query: fixture pages + broadcast password dim, stable
    4-way repartition, the census row function, then the gated
    projection over the reference-parseable urls."""
    def build(spark, sf_dir):
        from ..sources.pages import passwords_df

        pages = (spark.read.parquet(FIXTURE_PAGES)
                 .join(F.broadcast(passwords_df(spark)), "url", "left")
                 .select("url", "html", "password", "password_is_bytes")
                 .repartition(4, "url"))
        census_df = map_rows(pages, _census_row(census), "url string, " + cols)
        ref_ok = (spark.read.parquet(FIXTURE_ORACLE)
                  .where("parse_ok").select("url"))
        return (census_df.join(F.broadcast(ref_ok), "url")
                .selectExpr("url", *projection))
    return build


def _census_sql(oracle_cols):
    return "SELECT url, %s FROM read_parquet('%s') WHERE parse_ok" % (
        oracle_cols, FIXTURE_ORACLE)


def extract_quarantine_counts(spark, sf_dir):
    """Totality contract: every corpus row lands in exactly one status."""
    result = _fixture_extraction(spark)
    return (result.groupBy("doc_kind", "status")
            .agg(F.count("*").alias("n_docs")))


QUARANTINE_SQL = """
WITH expected AS (
  SELECT p.url,
         CASE WHEN substring(CAST(p.html AS VARCHAR), 1, 5) = '%PDF-'
              THEN 'pdf' ELSE 'html' END AS doc_kind,
         CASE WHEN o.url IS NULL THEN 'ok'  -- html fixtures: no oracle row
              WHEN o.parse_ok THEN 'ok'
              WHEN p.url = 'crawl://encrypted/0016.pdf'
                THEN 'wrong_password'
              ELSE 'error' END AS status
  FROM read_parquet('{pages}') p
  LEFT JOIN read_parquet('{oracle}') o USING (url)
)
SELECT doc_kind, status, COUNT(*) AS n_docs
FROM expected GROUP BY doc_kind, status
""".format(pages=FIXTURE_PAGES, oracle=FIXTURE_ORACLE)


# wrapper whose promo/menu fragments survive tag-based stripping but are
# short enough that density selection always drops them (every document
# text is >= 48 chars, so the 25% threshold is >= 12 > len('Menu'))
_WRAP_NOISY = (
    "concat('<html><body><div>Promo</div><div>Menu</div>"
    "<article><p>', text, '</p></article>"
    "<div>More</div><div>Links</div></body></html>')"
)


def _main_strip_row(url, html):
    yield url, extract_html_main(html).decode("utf-8")


def extract_html_main_roundtrip(spark, sf_dir):
    """Text-density main-content selection: short navigational fragments
    that survive tag stripping are dropped by the density stage, so the
    noisy wrapper still round-trips to exactly the original text."""
    docs = table(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.encode(F.expr(_WRAP_NOISY), "utf-8").alias("html"))
    return map_rows(pages.repartition(8), _main_strip_row,
                    "url string, extracted_utf8 string")


EXTRACT_HTML_MAIN_SQL = """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       text AS extracted_utf8
FROM documents
"""


QUERIES = {
    "extract_html_roundtrip": QuerySpec(extract_html_roundtrip,
                                        EXTRACT_HTML_SQL),
    "extract_html_main_roundtrip": QuerySpec(extract_html_main_roundtrip,
                                             EXTRACT_HTML_MAIN_SQL),
    "extract_stats_by_lang": QuerySpec(extract_stats_by_lang,
                                       EXTRACT_STATS_SQL),
    "extract_pdf_census": QuerySpec(extract_pdf_census, PDF_CENSUS_SQL),
    "extract_pdf_text_md5": QuerySpec(extract_pdf_text_md5,
                                      PDF_TEXT_MD5_SQL),
    "extract_pdf_unicode_md5": QuerySpec(extract_pdf_unicode_md5,
                                         PDF_UNICODE_MD5_SQL),
    **{name: QuerySpec(_census_gate(census, cols, projection),
                       _census_sql(oracle_cols))
       for name, (census, cols, projection, oracle_cols)
       in _CENSUS_GATES.items()},
    "extract_quarantine_counts": QuerySpec(extract_quarantine_counts,
                                           QUARANTINE_SQL),
}
