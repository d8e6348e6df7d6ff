"""The byte-identity corpus: reference PDFs + deterministic HTML fixtures
+ adversarial rows, mapped to the north-rule `pages` table shape
(url, warc_ts, html, text, lang) — see /root/repo/FIXTURES.md §1.

All payloads come from the read-only reference checkout or fixed literals;
no external data. Without the reference checkout, the same rows are read
from their committed snapshot, tests/fixtures/pages.parquet (written from
this module by tools/make_fixtures.py).
"""

from __future__ import annotations

import datetime
import os

REFERENCE_ROOT = os.environ.get("PDF4PY_REFERENCE_ROOT", "/root/reference")
PDF_DIR = os.path.join(REFERENCE_ROOT, "tests", "pdfs")
ENCRYPTED_DIR = os.path.join(REFERENCE_ROOT, "tests", "encrypted_pdfs")
FIXTURE_PAGES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
        __file__)))), "tests", "fixtures", "pages.parquet")

EPOCH = datetime.datetime(2026, 1, 1, 0, 0, 0)

# passwords mirror the reference suite (tests/decrypt_unit_tests.py:25-57);
# default attempt is the empty password (securityhandler.py:227,232)
PASSWORDS = {
    "crawl://encrypted/0017.pdf": b"foo",
    "crawl://encrypted/0020.pdf": b"foo",   # V=5 + bytes pw: quarantined
    "crawl://encrypted/0021.pdf": "foo",    # AESV3 takes a str password
}

# fixed literal HTML fixtures: boilerplate wrapping known main content
_HTML_DOCS = []
for i in range(1, 11):
    main_paras = "".join(
        "<p>Fixture paragraph {j} of document {i}: spark scans arrow "
        "batches while catalyst prunes columns.</p>".format(i=i, j=j)
        for j in range(1, 1 + (i % 4) + 1)
    )
    _HTML_DOCS.append((
        "crawl://html/{:04d}.html".format(i),
        (
            "<!DOCTYPE html><html><head><title>Fixture {i}</title>"
            "<style>body {{ color: red }}</style>"
            "<script>var tracker = {i};</script></head>"
            "<body><nav><ul><li>Home</li><li>About</li></ul></nav>"
            "<header><h1>Site header {i}</h1></header>"
            "<article><h2>Story {i}</h2>{paras}</article>"
            "<aside>Related links</aside>"
            "<footer>&copy; 2026 fixture corp</footer></body></html>"
        ).format(i=i, paras=main_paras).encode("utf-8"),
    ))

_ADVERSARIAL = [
    ("crawl://adversarial/empty", b""),
    ("crawl://adversarial/pdf-magic-only", b"%PDF-1.7\n"),
    ("crawl://adversarial/not-a-doc.bin", bytes(range(256)) * 16),
]


def corpus_rows():
    """Yield (url, warc_ts, html_payload, text, lang) rows, deterministic
    order and timestamps."""
    if not os.path.isdir(PDF_DIR):
        import pyarrow.parquet as pq
        table = pq.read_table(FIXTURE_PAGES, columns=[
            "url", "warc_ts", "html", "text", "lang"])
        return list(zip(*(col.to_pylist() for col in table.columns)))
    rows = []
    for name in sorted(os.listdir(PDF_DIR)):
        with open(os.path.join(PDF_DIR, name), "rb") as fh:
            rows.append(("crawl://pdfs/" + name, fh.read()))
    for name in sorted(os.listdir(ENCRYPTED_DIR)):
        with open(os.path.join(ENCRYPTED_DIR, name), "rb") as fh:
            rows.append(("crawl://encrypted/" + name, fh.read()))
    rows.extend(_HTML_DOCS)
    # synthesized capability fixtures (deterministic, no external data)
    from .synthpdf import (
        identity_h_pdf, predefined_cmap_pdf, symbolic_tt_pdf, type1c_pdf,
    )
    rows.append(("crawl://synth/identity-h.pdf", identity_h_pdf()))
    rows.append(("crawl://synth/predefined-cmaps.pdf",
                 predefined_cmap_pdf()))
    rows.append(("crawl://synth/symbolic-tt.pdf", symbolic_tt_pdf()))
    rows.append(("crawl://synth/type1c.pdf", type1c_pdf()))
    rows.extend(_ADVERSARIAL)
    with open(os.path.join(PDF_DIR, "0005.pdf"), "rb") as fh:
        rows.append(("crawl://adversarial/truncated.pdf", fh.read()[:1024]))
    out = []
    for idx, (url, payload) in enumerate(rows):
        ts = EPOCH + datetime.timedelta(seconds=idx)
        lang = "en" if not url.startswith("crawl://adversarial/") else "xx"
        out.append((url, ts, payload, None, lang))
    return out


def password_for(url: str):
    return PASSWORDS.get(url)
