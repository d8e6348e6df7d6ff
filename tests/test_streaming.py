"""Structured Streaming adapter test: the stateless extraction kernel
under a file-source stream with an availableNow trigger, checkpointed."""

import os

import pytest

from pdf4py_spark.operators.streaming_queries import _drain_conf
from pdf4py_spark.sources.pages import corpus_pages_df
from pdf4py_spark.streaming import run_stream_once


def test_stream_drains_and_checkpoints(spark, tmp_path):
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    pages = corpus_pages_df(spark)
    html_only = pages.where("url like 'crawl://html/%'")
    html_only.write.mode("overwrite").parquet(src)

    run_stream_once(spark, src, out, num_partitions=2)
    first = spark.read.parquet(os.path.join(out, "extracted"))
    assert first.count() == html_only.count()
    assert first.where("status <> 'ok'").count() == 0

    # append a new file; only the new rows are processed on the next drain
    more = pages.where("url like 'crawl://pdfs/000%'")
    more.write.mode("append").parquet(src)
    run_stream_once(spark, src, out, num_partitions=2)
    second = spark.read.parquet(os.path.join(out, "extracted"))
    assert second.count() == html_only.count() + more.count()
    # urls unique: the checkpoint prevented reprocessing of the first batch
    assert second.select("url").distinct().count() == second.count()


def test_drain_conf_restores_session_conf(spark, tmp_path):
    """A streaming drain raises the Arrow batch cap and pins UTC and the
    shuffle width only while it runs: the session's 32-row cap (sized
    for multi-MB document rows), its timezone and its shuffle width come
    back on a normal exit and after an exception, and the replayed input
    copy is removed either way."""
    conf = spark.conf
    arrow = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved_tz = conf.get("spark.sql.session.timeZone")
    saved_sp = conf.get("spark.sql.shuffle.partitions")
    # non-default values, so a drain that left its own UTC/width behind
    # would be caught
    conf.set("spark.sql.session.timeZone", "America/New_York")
    conf.set("spark.sql.shuffle.partitions", "3")
    try:
        assert conf.get(arrow) == "32"
        src = tmp_path / "src"

        def assert_restored():
            assert conf.get(arrow) == "32"
            assert conf.get("spark.sql.session.timeZone") == \
                "America/New_York"
            assert conf.get("spark.sql.shuffle.partitions") == "3"
            assert not src.exists()

        src.mkdir()
        with _drain_conf(spark, str(src)):
            assert conf.get(arrow) == "10000"
            assert conf.get("spark.sql.session.timeZone") == "UTC"
        assert_restored()

        src.mkdir()
        with pytest.raises(RuntimeError):
            with _drain_conf(spark, str(src)):
                raise RuntimeError("drain failed")
        assert_restored()
    finally:
        conf.set("spark.sql.session.timeZone", saved_tz)
        conf.set("spark.sql.shuffle.partitions", saved_sp)
