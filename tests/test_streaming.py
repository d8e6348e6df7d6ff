"""Structured Streaming adapter test: the stateless extraction kernel
under a file-source stream with an availableNow trigger, checkpointed."""

import os

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
