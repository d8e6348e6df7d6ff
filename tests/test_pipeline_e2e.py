"""End-to-end Spark pipeline tests: scan -> dispatch -> salted repartition
-> Arrow kernel -> outputs; byte-identity join against the oracle
(SURVEY.md §2.3 D10); plan hygiene; kill-and-resume via the manifest."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pdf4py_spark.functions import assert_no_per_row_python, dispatch_kind
from pdf4py_spark.plans.pipeline import (
    extract_pages, extracted_view, lineage_view, metrics_rollup,
    metrics_view, run_resumable,
)
from pdf4py_spark.sources.pages import (
    corpus_pages_df, passwords_df, write_pages_parquet,
)

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def oracle_df(spark):
    with open(os.path.join(GOLDEN_DIR, "manifest.json")) as fh:
        manifest = json.load(fh)
    rows = []
    for url, entry in manifest.items():
        if entry["parse_ok"]:
            with open(os.path.join(GOLDEN_DIR, entry["bin"]), "rb") as fh:
                rows.append((url, fh.read(), entry["n_objects"],
                             entry["n_pages"]))
    return spark.createDataFrame(
        rows, "url string, oracle_extracted binary, oracle_n_objects int, "
              "oracle_n_pages int")


@pytest.fixture(scope="module")
def extraction(spark):
    pages = corpus_pages_df(spark)
    result = extract_pages(pages, num_partitions=4,
                           passwords=passwords_df(spark)).cache()
    yield result
    result.unpersist()


def test_every_input_row_accounted(spark, extraction):
    assert extraction.count() == corpus_pages_df(spark).count()
    assert extraction.select("url").distinct().count() == extraction.count()
    assert extraction.where("status is null").count() == 0


def test_byte_identity_join_is_empty(spark, extraction):
    """D10: ours ⋈ oracle on url with byte mismatch must be empty, and
    every oracle row must be matched."""
    oracle = oracle_df(spark)
    joined = extraction.join(oracle, "url", "inner").cache()
    assert joined.count() == oracle.count()
    mismatches = joined.where(
        "extracted <> oracle_extracted"
        " or n_objects <> oracle_n_objects").collect()
    assert mismatches == [], [r["url"] for r in mismatches]
    # every oracle doc extracted with status ok
    assert joined.where("status <> 'ok'").count() == 0
    joined.unpersist()


def test_quarantine_rows(extraction):
    quarantined = {r["url"]: r["status"] for r in
                   extraction.where("status <> 'ok'").collect()}
    assert quarantined["crawl://encrypted/0016.pdf"] == "wrong_password"
    for url in ("crawl://adversarial/empty",
                "crawl://adversarial/pdf-magic-only",
                "crawl://adversarial/not-a-doc.bin",
                "crawl://adversarial/truncated.pdf"):
        assert quarantined[url] == "error"
    # no parse_ok row lost its payload
    assert extraction.where(
        "status = 'ok' and extracted is null").count() == 0


def test_dispatch_is_pure_catalyst(spark):
    pages = corpus_pages_df(spark).withColumn("doc_kind", dispatch_kind())
    assert_no_per_row_python(pages)
    kinds = {r["url"]: r["doc_kind"] for r in pages.collect()}
    assert kinds["crawl://pdfs/0000.pdf"] == "pdf"
    assert kinds["crawl://html/0001.html"] == "html"
    assert kinds["crawl://adversarial/not-a-doc.bin"] == "html"


def test_plan_hygiene(spark, tmp_path):
    """Column pruning reaches the parquet scan; no per-row Python."""
    src = str(tmp_path / "pages")
    write_pages_parquet(spark, src)
    pages = spark.read.parquet(src)
    result = extract_pages(pages, num_partitions=2)
    assert_no_per_row_python(result)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    # the scan must read only the kernel's columns, not text/lang
    scan_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_line, plan
    assert "text" not in scan_line[0] and "lang" not in scan_line[0]


def test_kernel_task_drops_zip_importers(spark, tmp_path):
    """A kernel task deletes every zipimporter from
    sys.path_importer_cache (so the next task's importlib.invalidate_caches()
    in a reused worker does not re-read each archive); the row extracts as
    before and modules in the zip still import. Drives the map_rows batch
    loop directly; ``spark`` is requested because parsing the output
    schema goes through the JVM."""
    import datetime
    import sys
    import zipfile
    import zipimport

    import pyarrow as pa

    from pdf4py_spark.kernel.extract import extract_document
    from pdf4py_spark.plans.pipeline import (
        EXTRACT_SCHEMA, _extract_row, _row_batches, arrow_schema,
    )

    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("_zip_probe_first.py", "X = 1\n")
        zf.writestr("_zip_probe_second.py", "Y = 2\n")
    sys.path.insert(0, archive)
    try:
        import _zip_probe_first  # noqa: F401
        assert isinstance(sys.path_importer_cache[archive],
                          zipimport.zipimporter)
        html = (b"<html><body><nav>Home</nav><article><h2>Zip cache</h2>"
                b"<p>One row through the kernel.</p></article></body></html>")
        stamp = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
        batch = pa.RecordBatch.from_pydict({
            "url": ["crawl://html/zip-probe"],
            "warc_ts": pa.array([stamp], pa.timestamp("us", tz="UTC")),
            "html": pa.array([html], pa.binary())})
        loop = _row_batches(_extract_row("raw"), arrow_schema(EXTRACT_SCHEMA))
        out = pa.Table.from_batches(list(loop(iter([batch])))).to_pylist()
        expected = extract_document(html, None, "raw")
        assert len(out) == 1
        row = out[0]
        assert expected.status == "ok" and row["status"] == "ok"
        assert row["extracted"] == expected.extracted
        assert row["warc_ts"] == stamp
        assert row["partition_id"] == -1
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        import _zip_probe_second
        assert _zip_probe_second.Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("_zip_probe_first", None)
        sys.modules.pop("_zip_probe_second", None)


def test_warc_ts_passes_through_kernel(spark):
    """warc_ts crosses the Python boundary unchanged (tz-aware Arrow
    timestamps in and out): microseconds, pre-1970 and null all survive."""
    html = b"<html><body><article><p>stamp</p></article></body></html>"
    pages = spark.createDataFrame(
        [("crawl://ts/micro", "2026-03-04 05:06:07.123456", bytearray(html)),
         ("crawl://ts/pre-epoch", "1969-07-20 20:17:40.000001",
          bytearray(html)),
         ("crawl://ts/null", None, bytearray(html))],
        "url string, ts string, html binary",
    ).select("url", F.col("ts").cast("timestamp").alias("warc_ts"), "html")
    expected = pages.select("url", "warc_ts")
    got = extract_pages(pages, num_partitions=2).select("url", "warc_ts")
    assert got.count() == 3
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_map_rows_is_the_only_python_map():
    """Source pin: one mapInArrow call site (plans.pipeline.map_rows), no
    mapInPandas under pdf4py_spark/, and no pandas import on the kernel
    shell's modules."""
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "pdf4py_spark")
    sources = {}
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    sources[os.path.relpath(path, pkg)] = fh.read()
    calls = {p: s.count(".mapInArrow(") for p, s in sources.items()}
    assert {p: n for p, n in calls.items() if n} == {
        os.path.join("plans", "pipeline.py"): 1}
    assert not [p for p, s in sources.items() if "mapInPandas" in s]
    pandas_import = re.compile(r"^\s*(import pandas|from pandas)\b", re.M)
    shell = [p for p in sources
             if p.startswith("plans" + os.sep)
             or p in (os.path.join("operators", "extraction_queries.py"),
                      os.path.join("operators", "multimodal.py"))]
    assert len(shell) >= 4
    assert not [p for p in shell if pandas_import.search(sources[p])]


def test_views_and_rollups(spark, extraction):
    ext = extracted_view(extraction)
    assert set(ext.columns) == {"url", "warc_ts", "doc_kind", "extracted",
                                "extracted_utf8", "status", "error"}
    met = metrics_view(extraction)
    assert met.where("bytes_in <= 0").count() <= 1  # only the empty doc
    roll = metrics_rollup(extraction)
    total = roll.groupBy().sum("n_docs").collect()[0][0]
    assert total == extraction.count()
    lin = lineage_view(extraction, attempt=1, input_snapshot_id=42)
    rows = lin.collect()
    assert sum(r["n_rows"] for r in rows) == extraction.count()
    assert all(r["attempt"] == 1 for r in rows)


def test_resume_skips_committed_shards(spark, tmp_path):
    src = str(tmp_path / "pages_src")
    out = str(tmp_path / "out")
    write_pages_parquet(spark, src)
    pw = passwords_df(spark)

    first = run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                          passwords=pw, max_shards=1)
    assert first["processed"] == [0] and first["skipped"] == []

    second = run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                           passwords=pw)
    assert second["skipped"] == [0]
    assert second["processed"] == [1, 2]

    done = spark.read.parquet(os.path.join(out, "extracted"))
    assert done.count() == spark.read.parquet(src).count()
    assert done.select("url").distinct().count() == done.count()

    third = run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                          passwords=pw)
    assert third["processed"] == [] and third["skipped"] == [0, 1, 2]


def test_snapshot_id_stable_across_processes(tmp_path):
    """Resume happens from a NEW driver process: the input fingerprint must
    not depend on PYTHONHASHSEED (builtin hash() is randomized)."""
    import subprocess, sys
    src = str(tmp_path / "snap_src")
    os.makedirs(src)
    with open(os.path.join(src, "a.parquet"), "wb") as fh:
        fh.write(b"x" * 10)
    from pdf4py_spark.plans.pipeline import _snapshot_id
    local = _snapshot_id(None, src)
    code = ("import sys; sys.path.insert(0, %r); "
            "from pdf4py_spark.plans.pipeline import _snapshot_id; "
            "print(_snapshot_id(None, %r))" % (
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                src))
    for seed in ("0", "12345"):
        out = subprocess.run(
            [sys.executable, "-c", code],
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True, text=True, check=True)
        assert int(out.stdout.strip()) == local


def test_uncommitted_shard_is_replaced_not_duplicated(spark, tmp_path):
    """A run that dies between the shard parquet write and the manifest
    commit must not duplicate the shard's rows on retry (emit-once)."""
    src = str(tmp_path / "pages_src2")
    out = str(tmp_path / "out2")
    write_pages_parquet(spark, src)
    pw = passwords_df(spark)

    run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                  passwords=pw, max_shards=1)
    # simulate the crash window: shard 0's parquet exists, manifest doesn't
    os.remove(os.path.join(out, "_manifest", "shard-00000.json"))

    res = run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                        passwords=pw)
    assert 0 in res["processed"]
    done = spark.read.parquet(os.path.join(out, "extracted"))
    assert done.count() == spark.read.parquet(src).count()
    assert done.select("url").distinct().count() == done.count()


def test_dispatch_kind_honors_payload_argument(spark):
    pages = corpus_pages_df(spark).withColumnRenamed("html", "payload")
    kinds = {r["url"]: r["doc_kind"] for r in pages.withColumn(
        "doc_kind", dispatch_kind(F.col("payload"))).collect()}
    assert kinds["crawl://pdfs/0000.pdf"] == "pdf"
    assert kinds["crawl://html/0001.html"] == "html"


def test_resumable_writes_companion_metrics_and_lineage(spark, tmp_path):
    """The resumable job must emit the metrics and lineage companion
    tables per shard (north rule), consistent with the extracted table."""
    src = str(tmp_path / "pages_src3")
    out = str(tmp_path / "out3")
    write_pages_parquet(spark, src)
    run_resumable(spark, src, out, n_shards=2, num_partitions=2,
                  passwords=passwords_df(spark))
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    n_docs = spark.read.parquet(os.path.join(out, "extracted")).count()
    assert metrics.count() == n_docs  # one metrics row per doc
    assert set(metrics.columns) >= {"url", "parse_ok", "bytes_in",
                                    "bytes_out", "wall_ms", "_shard"}
    lin = spark.read.parquet(os.path.join(out, "lineage")).collect()
    assert sum(r["n_rows"] for r in lin) == n_docs
    assert all(r["attempt"] == 0 for r in lin)
    snap = {r["input_snapshot_id"] for r in lin}
    assert len(snap) == 1

    # crash-window retry: companion partitions must be replaced too
    os.remove(os.path.join(out, "_manifest", "shard-00000.json"))
    run_resumable(spark, src, out, n_shards=2, num_partitions=2,
                  passwords=passwords_df(spark))
    for tbl in ("extracted", "metrics", "lineage"):
        spark.catalog.refreshByPath(os.path.join(out, tbl))
    assert spark.read.parquet(os.path.join(out, "metrics")).count() == n_docs
    lin2 = spark.read.parquet(os.path.join(out, "lineage")).collect()
    assert sum(r["n_rows"] for r in lin2) == n_docs
    assert {r["attempt"] for r in lin2} == {0, 1}  # shard 0 was a retry


def test_crash_between_replace_and_append(spark, tmp_path):
    """r3 verdict #4 crash-window interleaving: a retry that died right
    AFTER replace_partition dropped the extracted partition but BEFORE
    append_partitioned rewrote it leaves the shard with companion rows
    but no data and no manifest. Resume must rebuild the shard exactly
    once across all three tables and mark the lineage row attempt=1
    (the companion partitions betray the prior attempt)."""
    import shutil
    src = str(tmp_path / "pages_src3")
    out = str(tmp_path / "out3")
    write_pages_parquet(spark, src)
    pw = passwords_df(spark)

    run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                  passwords=pw, max_shards=1)
    os.remove(os.path.join(out, "_manifest", "shard-00000.json"))
    shutil.rmtree(os.path.join(out, "extracted", "_shard=0"))
    spark.catalog.refreshByPath(os.path.join(out, "extracted"))

    res = run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                        passwords=pw)
    assert 0 in res["processed"]
    done = spark.read.parquet(os.path.join(out, "extracted"))
    assert done.count() == spark.read.parquet(src).count()
    assert done.select("url").distinct().count() == done.count()
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    shard0 = lineage.where("_shard = 0").collect()
    assert shard0 and all(r["attempt"] == 1 for r in shard0)
    # companions rebuilt exactly once: lineage n_rows re-sums to the data
    assert sum(r["n_rows"] for r in shard0) == \
        done.where("_shard = 0").count()


def test_crash_mid_companion_writes(spark, tmp_path):
    """The other interleaving: extracted + metrics written, lineage and
    manifest missing. Resume must NOT duplicate metrics rows (the
    replace step clears every table, not just the one that crashed)."""
    import shutil
    src = str(tmp_path / "pages_src4")
    out = str(tmp_path / "out4")
    write_pages_parquet(spark, src)
    pw = passwords_df(spark)

    run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                  passwords=pw, max_shards=1)
    os.remove(os.path.join(out, "_manifest", "shard-00000.json"))
    shutil.rmtree(os.path.join(out, "lineage", "_shard=0"))
    spark.catalog.refreshByPath(os.path.join(out, "lineage"))
    metrics_before = spark.read.parquet(
        os.path.join(out, "metrics")).where("_shard = 0").count()

    res = run_resumable(spark, src, out, n_shards=3, num_partitions=2,
                        passwords=pw)
    assert 0 in res["processed"]
    metrics_after = spark.read.parquet(
        os.path.join(out, "metrics")).where("_shard = 0").count()
    assert metrics_after == metrics_before, "metrics must not duplicate"
    done = spark.read.parquet(os.path.join(out, "extracted"))
    assert done.select("url").distinct().count() == done.count()
    lineage0 = spark.read.parquet(
        os.path.join(out, "lineage")).where("_shard = 0").collect()
    assert lineage0 and all(r["attempt"] == 1 for r in lineage0)
