"""Seeded input generation, from committed files only.

``pdf_pages`` amplifies the committed fixture PDFs; ``documents``
generates a documents table shaped like the sf0.1 test table. Both take
the seed and sizes as arguments and write parquet under the run's work
directory; the same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from engine import ROOT

FIXTURE_PAGES = os.path.join(ROOT, "tests", "fixtures", "pages.parquet")
FIXTURE_ORACLE = os.path.join(ROOT, "tests", "fixtures", "oracle.parquet")

#: the fixture's non-adversarial PDFs: plain, encrypted, synthesized
PDF_PREFIXES = ("crawl://pdfs/", "crawl://encrypted/", "crawl://synth/")

#: files the amplified pages table is split into, so the scan has more
#: than one split whatever the box
PAGE_FILES = 8

EPOCH = datetime.datetime(2026, 1, 1)

_LINE2_COMMENT = re.compile(rb"%PDF-[^\r\n]*(?:\r\n|\r|\n)%([^\r\n]{4,})")


def _high_bytes(rng: random.Random, n: int) -> bytes:
    return bytes(rng.randrange(0x80, 0x100) for _ in range(n))


def _vary(payload: bytes, rng: random.Random) -> bytes:
    """Seed-derived bytes that extraction ignores: a same-length rewrite
    of the line-2 binary comment (no offset moves), or, for files without
    one, a comment line after %%EOF. The extracted text is unchanged
    (the oracle check of every run confirms it) while no two copies share
    payload bytes."""
    m = _LINE2_COMMENT.match(payload)
    if m is None:
        return payload + b"\n%" + _high_bytes(rng, 8) + b"\n"
    start, end = m.span(1)
    return payload[:start] + _high_bytes(rng, end - start) + payload[end:]


def fixture_urls() -> list:
    return pq.read_table(FIXTURE_PAGES, columns=["url"]).column(
        "url").to_pylist()


def fixture_pdfs() -> list:
    rows = pq.read_table(FIXTURE_PAGES).to_pylist()
    return [r for r in rows if r["url"].startswith(PDF_PREFIXES)]


def pdf_pages(seed: int, copies: int, out_dir: str) -> dict:
    """Write ``copies`` distinct-url copies of each fixture PDF to
    ``out_dir`` (PAGE_FILES parquet files, seed-shuffled row order).

    Returns {"path", "base_of": {url: base_url}, "passwords": rows for
    PASSWORDS_SCHEMA, "props": input properties}."""
    from pdf4py_spark.sources.corpus import PASSWORDS

    rng = random.Random(seed)
    sources = fixture_pdfs()
    rows, base_of, passwords = [], {}, []
    for copy in range(copies):
        for src in sources:
            base = src["url"]
            url = "crawl://bench/%d/%04d/%s" % (seed, copy,
                                                base[len("crawl://"):])
            base_of[url] = base
            rows.append({
                "url": url,
                "warc_ts": EPOCH + datetime.timedelta(
                    seconds=rng.randrange(86400)),
                "html": _vary(src["html"], rng),
                "text": None,
                "lang": "en",
            })
            pw = PASSWORDS.get(base)
            if pw is not None:
                is_bytes = isinstance(pw, bytes)
                passwords.append((url, pw.decode("utf-8") if is_bytes
                                  else pw, is_bytes))
    rng.shuffle(rows)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(out_dir, exist_ok=True)
    for i in range(PAGE_FILES):
        part = pa.Table.from_pylist(rows[i::PAGE_FILES], schema=schema)
        pq.write_table(part, os.path.join(out_dir, "part-%02d.parquet" % i))
    payload_md5 = {hashlib.md5(r["html"]).digest() for r in rows}
    return {
        "path": out_dir,
        "base_of": base_of,
        "passwords": passwords,
        "props": {
            "docs": len(rows),
            "input_mb": sum(len(r["html"]) for r in rows) / 1e6,
            "distinct_payload_frac": len(payload_md5) / len(rows),
        },
    }


#: the sf0.1 documents table's vocabulary (30 words, drawn uniformly)
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.002


def documents(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write ``out_dir``/documents.parquet: doc_id, text, lang, source,
    n_chars, with the sf0.1 table's shape (10-100 words per text, a
    near-duplicate share made by appending ' dup' to an earlier text,
    and a few exact duplicates)."""
    rng = random.Random(seed)
    texts, langs = [], []
    for doc_id in range(n_docs):
        roll = rng.random()
        if doc_id and roll < NEAR_DUP_FRAC:
            text = texts[rng.randrange(doc_id)] + " dup"
        elif doc_id and roll < NEAR_DUP_FRAC + EXACT_DUP_FRAC:
            text = texts[rng.randrange(doc_id)]
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(10, 100)))
        texts.append(text)
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {
        "sf_dir": out_dir,
        "texts": texts,
        "props": {
            "docs": n_docs,
            "input_mb": sum(len(t.encode()) for t in texts) / 1e6,
            "distinct_payload_frac": len(set(texts)) / n_docs,
        },
    }
