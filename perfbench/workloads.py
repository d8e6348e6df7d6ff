"""The benchmark's workloads. Each one generates its inputs from the
seed, runs one checked pass of its end-to-end job per ``job()`` call, and
names the pages table and kernel payloads its traced run decomposes.

pdf_raw     extract_pages over amplified fixture PDFs, default (raw) text
corpus_ops  a fixed sequence of operator queries over a documents table
"""

from __future__ import annotations

import contextlib
import os
import time

import corpus
from checks import DuckOracle, check_rows, pdf_expectations, \
    result_signature
from engine import config


def extraction_rows(df):
    """Collect (url, status, md5(extracted)) rows."""
    from pyspark.sql import functions as F

    return [tuple(r) for r in
            df.select("url", "status", F.md5("extracted")).collect()]


def setup_extraction(spark) -> tuple:
    """First extraction of the committed 44-row fixture, with the
    program's password dimension; returns (attempted, failed, notes)."""
    from pdf4py_spark.plans.pipeline import extract_pages
    from pdf4py_spark.sources.pages import passwords_df
    from pdf4py_spark.sources.storage import read_pages

    result = extract_pages(read_pages(spark, corpus.FIXTURE_PAGES),
                           passwords=passwords_df(spark))
    rows = extraction_rows(result)
    expected = pdf_expectations()
    for url in corpus.fixture_urls():  # the HTML rows have no oracle md5
        expected.setdefault(url, (True, None))
    return check_rows(rows, expected)


class PdfRaw:
    name = "pdf_raw"

    def __init__(self, spark, work, seed, copies=None, corrupt=False):
        cfg = config()["workloads"][self.name]
        self.spark, self.work, self.seed = spark, work, seed
        self.copies = copies or cfg["copies"]
        self.corrupt = corrupt

    def prepare(self):
        from pdf4py_spark.sources.pages import PASSWORDS_SCHEMA

        gen = corpus.pdf_pages(self.seed, self.copies,
                               os.path.join(self.work, "inputs", "pages"))
        self.pages_path = gen["path"]
        self.props = gen["props"]
        self.passwords = self.spark.createDataFrame(gen["passwords"],
                                                    PASSWORDS_SCHEMA)
        base = pdf_expectations()
        self.expected = {url: base[b] for url, b in gen["base_of"].items()}
        if self.corrupt:
            url = min(u for u, (ok, _) in self.expected.items() if ok)
            self.expected[url] = (True, "0" * 32)
        self.docs = len(self.expected)

    def job(self, span=contextlib.nullcontext) -> dict:
        from pdf4py_spark.plans.pipeline import extract_pages
        from pdf4py_spark.sources.storage import read_pages

        start = time.perf_counter()
        rows = extraction_rows(extract_pages(
            read_pages(self.spark, self.pages_path),
            passwords=self.passwords))
        seconds = time.perf_counter() - start
        attempted, failed, notes = check_rows(rows, self.expected)
        return {"seconds": seconds, "attempted": attempted,
                "failed": failed, "notes": notes}

    def probe(self, span) -> dict:
        return {"seconds": 0.0, "attempted": 0, "failed": 0, "notes": []}

    def layer_input(self):
        """(pages path, passwords) for the traced layer decomposition:
        the job's own pages."""
        return self.pages_path, self.passwords

    def kernel_payloads(self):
        """(payload, password, weight) per distinct base document: copies
        differ only in bytes extraction ignores."""
        from pdf4py_spark.sources.corpus import PASSWORDS

        return [(r["html"], PASSWORDS.get(r["url"]), self.copies)
                for r in corpus.fixture_pdfs()]


class CorpusOps:
    name = "corpus_ops"

    def __init__(self, spark, work, seed, docs=None, corrupt=False):
        cfg = config()["workloads"][self.name]
        self.spark, self.work, self.seed = spark, work, seed
        self.n_docs = docs or cfg["docs"]
        self.names = cfg["queries"]
        self.traced_names = cfg["traced_queries"]
        self.corrupt = corrupt

    def prepare(self):
        import __spark_entry__ as entry
        from pdf4py_spark.operators import streaming_queries

        gen = corpus.documents(self.seed, self.n_docs,
                               os.path.join(self.work, "inputs", "sf"))
        self.sf_dir = gen["sf_dir"]
        self.props = gen["props"]
        self.docs = self.n_docs
        self.queries = entry.queries()
        # streaming sinks and checkpoints go to the run's work dir
        streaming_queries.STREAM_TMP = os.path.join(self.work, "stream")
        self.oracle = DuckOracle(
            self.sf_dir, self.names + self.traced_names).start()
        self.expected = None

    def _expected(self):
        if self.expected is None:
            self.expected = dict(self.oracle.wait())
            if self.corrupt:
                n, cols, _ = self.expected[self.names[0]]
                self.expected[self.names[0]] = (n, cols, "0" * 32)
        return self.expected

    def _run(self, names, span) -> dict:
        """Run, collect and check ``names`` in order; each query is one
        operation and its time runs from building the DataFrame to the
        collected result."""
        from pdf4py_spark.operators import release_caches

        parts, signatures, notes = {}, {}, []
        for name in names:
            layer = "streaming" if name.endswith("_stream") else "operators"
            start = time.perf_counter()
            try:
                with span("%s.%s" % (layer, name)):
                    df = self.queries[name](self.spark, self.sf_dir)
                    rows = df.collect()
            except Exception as exc:  # noqa: BLE001 - counted as failed
                notes.append("%s raised %s: %s"
                             % (name, type(exc).__name__, str(exc)[:200]))
                continue
            finally:
                parts[name] = time.perf_counter() - start
            signatures[name] = result_signature([tuple(r) for r in rows],
                                                df.columns)
        release_caches()
        expected = self._expected()
        failed = 0
        for name in names:
            if name not in signatures:
                failed += 1
            elif signatures[name] != expected.get(name):
                failed += 1
                notes.append("%s result differs from DuckDB oracle_sql%s"
                             % (name, " (%s)" % self.oracle.error
                                if self.oracle.error else ""))
        return {"seconds": sum(parts.values()), "parts": parts,
                "attempted": len(names), "failed": failed, "notes": notes}

    def job(self, span=contextlib.nullcontext) -> dict:
        return self._run(self.names, span)

    def probe(self, span) -> dict:
        """Traced run only: the queries kept out of the timed job."""
        return self._run(self.traced_names, span)

    def layer_input(self):
        """The documents wrapped as HTML pages the way the flagship
        extraction query wraps them, for the traced layer decomposition."""
        from pdf4py_spark.operators.extraction_queries import _docs_as_pages

        path = os.path.join(self.work, "inputs", "html_pages")
        if not os.path.exists(path):
            _docs_as_pages(self.spark, self.sf_dir).write.parquet(path)
        return path, None

    def kernel_payloads(self):
        import pyarrow.parquet as pq

        path, _ = self.layer_input()
        html = pq.read_table(path, columns=["html"]).column("html")
        return [(p, None, 1) for p in html.to_pylist()]


WORKLOADS = {w.name: w for w in (PdfRaw, CorpusOps)}
