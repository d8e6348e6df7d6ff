"""Output checks against the committed oracles.

Extraction: each url is one operation. It fails if it is missing or
duplicated, if its status disagrees with the oracle's parse_ok, or if
md5(extracted) differs.

Queries: each query is one operation. It fails if it raises, or if its
row count, column names or order-insensitive value hash
(tools/check_parity.table_hash) differ from DuckDB running the query's
oracle_sql() over the same parquet.
"""

from __future__ import annotations

import os
import sys
import threading
from collections import Counter

import pyarrow.parquet as pq

from engine import ROOT

sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_parity import table_hash  # noqa: E402

from corpus import FIXTURE_ORACLE  # noqa: E402

def pdf_expectations() -> dict:
    """{base_url: (ok, md5 of the raw-mode text or None)} from
    tests/fixtures/oracle.parquet."""
    return {r["url"]: (bool(r["parse_ok"]), r["extracted_md5"])
            for r in pq.read_table(FIXTURE_ORACLE).to_pylist()}


def check_rows(rows, expected: dict) -> tuple:
    """``rows``: (url, status, md5) tuples from one pass; ``expected``:
    {url: (ok, md5 or None when not compared)}. Returns (attempted,
    failed, first few failure descriptions)."""
    seen = Counter(r[0] for r in rows)
    failed = {}
    for url, status, value in rows:
        if url not in expected:
            failed[url] = "not in the input"
            continue
        ok, want = expected[url]
        if seen[url] != 1:
            failed[url] = "appears %d times" % seen[url]
        elif (status == "ok") != ok:
            failed[url] = "status %s, oracle parse_ok %s" % (status, ok)
        elif ok and want is not None and value != want:
            failed[url] = "output differs from the oracle"
    for url in expected:
        if url not in seen:
            failed[url] = "missing"
    attempted = len(expected) + sum(1 for u in seen if u not in expected)
    return (attempted, len(failed),
            ["%s: %s" % kv for kv in list(failed.items())[:5]])


def result_signature(rows, columns) -> tuple:
    return (len(rows), tuple(sorted(columns)), table_hash(rows, columns))


class DuckOracle:
    """Runs each query's oracle SQL on DuckDB (one thread, in the
    background) over the run's documents table."""

    def __init__(self, sf_dir: str, names):
        self.sf_dir, self.names = sf_dir, list(names)
        self.signatures, self.error = {}, None
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def _run(self):
        try:
            import duckdb

            import __spark_entry__ as entry

            sql = entry.oracle_sql()
            con = duckdb.connect()
            con.execute("SET threads TO 1")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        "read_parquet('%s')" % os.path.join(
                            self.sf_dir, "documents.parquet"))
            for name in self.names:
                cur = con.execute(sql[name])
                cols = [d[0] for d in cur.description]
                self.signatures[name] = result_signature(cur.fetchall(), cols)
            con.close()
        except Exception as exc:  # noqa: BLE001 - reported as failures
            self.error = "%s: %s" % (type(exc).__name__, exc)

    def wait(self) -> dict:
        self._thread.join()
        return self.signatures
