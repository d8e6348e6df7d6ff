"""Differential byte-identity tests: the engine kernel versus the committed
oracle goldens (generated from the reference implementation by
tools/make_oracle.py), in process over the full corpus (read from the
reference checkout, or from its committed snapshot without one).

This realizes the north-rule invariant: byte-identical extracted text per
url, plus census parity (n_objects, n_pages, version) and an aligned
quarantine set.
"""

import hashlib
import json
import os

from pdf4py_spark.kernel.extract import extract_document
from pdf4py_spark.sources.corpus import corpus_rows, password_for

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def _manifest():
    with open(os.path.join(GOLDEN_DIR, "manifest.json")) as fh:
        return json.load(fh)


def test_byte_identity_against_goldens():
    manifest = _manifest()
    payloads = {u: p for u, _ts, p, _t, _l in corpus_rows()}
    assert len(manifest) >= 30
    checked_ok = 0
    for url, entry in sorted(manifest.items()):
        result = extract_document(payloads[url], password_for(url))
        if entry["parse_ok"]:
            assert result.status == "ok", (url, result.error)
            digest = hashlib.sha256(result.extracted).hexdigest()
            assert digest == entry["sha256"], url
            assert result.n_objects == entry["n_objects"], url
            assert result.n_pages == entry["n_pages"], url
            assert result.version == entry["version"], url
            checked_ok += 1
        else:
            # both sides must quarantine
            assert result.status != "ok", (url, "engine parsed a doc the "
                                                "reference rejects")
    assert checked_ok >= 23


def test_spot_pins_from_reference_suite():
    """Published spot values from the reference's own tests."""
    payloads = {u: p for u, _ts, p, _t, _l in corpus_rows()}
    r0 = extract_document(payloads["crawl://pdfs/0000.pdf"])
    assert r0.version == "PDF-1.4"       # functional_tests.py:40-43
    assert r0.n_objects == 119           # docs tutorials.rst census
    assert r0.n_pages == 10              # functional_tests.py:90-93

    # decryption spot: 0009.pdf URI (decrypt_unit_tests.py:32-33)
    from pdf4py_spark.kernel.model import Ref
    from pdf4py_spark.kernel.parser import DocumentParser
    doc = DocumentParser(payloads["crawl://pdfs/0009.pdf"])
    assert doc.resolve(Ref(48, 0))["URI"].value == \
        b"http://www.education.gov.yk.ca/"

    # AES-256 spot: 0021 Producer contains LibreOffice
    # (decrypt_unit_tests.py:45-50)
    doc21 = DocumentParser(payloads["crawl://encrypted/0021.pdf"], "foo")
    producer = doc21.resolve(doc21.xref.lookup((10, 0)))["Producer"]
    assert "LibreOffice" in producer.value.decode("utf16")


def test_quarantine_rows_are_total():
    """Adversarial payloads produce status rows, never exceptions."""
    payloads = {u: p for u, _ts, p, _t, _l in corpus_rows()}
    for url in ("crawl://adversarial/empty",
                "crawl://adversarial/pdf-magic-only",
                "crawl://adversarial/not-a-doc.bin",
                "crawl://adversarial/truncated.pdf"):
        result = extract_document(payloads[url])
        assert result.status == "error"
        assert result.extracted is None
    r = extract_document(payloads["crawl://encrypted/0016.pdf"])
    assert r.status == "wrong_password"


def test_html_fixtures_extract_main_content():
    payloads = {u: p for u, _ts, p, _t, _l in corpus_rows()}
    for i in range(1, 11):
        url = "crawl://html/%04d.html" % i
        result = extract_document(payloads[url])
        assert result.status == "ok"
        text = result.extracted.decode("utf-8")
        # boilerplate stripped
        assert "tracker" not in text
        assert "color: red" not in text
        assert "Home" not in text
        assert "fixture corp" not in text
        assert "Related links" not in text
        # main content kept
        assert "Story %d" % i in text
        assert "Fixture paragraph 1 of document %d" % i in text
