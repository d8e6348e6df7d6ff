"""Kernel totality: extract_document never raises.

Seeded bit-flip / truncate / splice / overwrite mutations of the committed
corpus's PDFs under 300 KB go through the whole kernel (parse, filters,
decryption, both text modes). Each must come back as an ok row or a
quarantine row with a known status; an exception escaping
extract_document would fail a Spark task. Longer soaks run off-CI by
changing the seed and the mutation count."""

import random

import pyarrow.parquet as pq

from pdf4py_spark.kernel.extract import extract_document
from pdf4py_spark.sources.corpus import FIXTURE_PAGES, PASSWORDS

STATUSES = {"ok", "error", "wrong_password", "unsupported"}


def _mutate(rng, data: bytearray, docs) -> bytes:
    kind = rng.randrange(4)
    if kind == 0:  # bit flips
        for _ in range(rng.randrange(1, 8)):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
    elif kind == 1:  # truncate
        del data[rng.randrange(1, len(data)):]
    elif kind == 2:  # splice a window from another doc
        other = rng.choice(docs)[1]
        a = rng.randrange(len(data))
        w = rng.randrange(1, 512)
        b = rng.randrange(max(1, len(other) - w))
        data[a:a + w] = other[b:b + w]
    else:  # byte-run overwrite
        a = rng.randrange(len(data))
        w = rng.randrange(1, 256)
        data[a:a + w] = bytes([rng.randrange(256)]) * w
    return bytes(data)


def test_mutated_corpus_pdfs_never_raise():
    table = pq.read_table(FIXTURE_PAGES, columns=["url", "html"])
    docs = [(url, payload)
            for url, payload in zip(*(col.to_pylist()
                                      for col in table.columns))
            if payload.startswith(b"%PDF-") and len(payload) < 300_000]
    assert len(docs) >= 20, len(docs)
    rng = random.Random(20260817)
    raised = []
    statuses = set()
    for i in range(800):
        url, payload = rng.choice(docs)
        data = _mutate(rng, bytearray(payload), docs)
        for mode in ("raw", "unicode"):
            try:
                res = extract_document(data, PASSWORDS.get(url),
                                       text_mode=mode)
            except Exception as exc:  # noqa: BLE001 - the contract
                raised.append((i, url, mode, repr(exc)))
                continue
            assert res.status in STATUSES, (i, url, mode, res.status)
            statuses.add(res.status)
    assert not raised, raised[:3]
    # the slice reaches both sides of the contract
    assert {"ok", "error"} <= statuses, statuses
