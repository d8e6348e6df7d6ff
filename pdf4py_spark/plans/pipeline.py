"""The extraction pipeline (SURVEY.md §3.4):

    scan -> prune -> [anti-join manifest] -> size-salted repartition
         -> map_rows kernel (MapInArrow) -> extracted/metrics/lineage views
         -> append sinks + manifest commit

Design notes for 100 TB:

* one shuffle total (the size-salted repartition); everything else is
  narrow or an aggregation over the kernel output
* the kernel is one Python invocation per Arrow batch; batch row count is
  bounded by spark.sql.execution.arrow.maxRecordsPerBatch and byte size is
  bounded because partitions are size-homogeneous (functions.size_bucket)
* every Python map in the engine is ``map_rows``: one ``mapInArrow`` batch
  loop around a per-row function, so the operators' decode, census and
  sampling kernels share the extraction kernel's boundary
* no exception escapes the kernel: bad documents become quarantine rows
  (status != 'ok'), so a 10^12-row job is total
* resume is keyed on a stable url-hash bucket (never on Spark partition
  ids) recorded in a JSON manifest next to the output — the parquet
  stand-in for Iceberg snapshot + manifest commits (no Iceberg jar in this
  sandbox; the seam is storage.py)
"""

from __future__ import annotations

import json
import os
import sys
import time
import zipimport

import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from ..functions import balanced_repartition, resume_key

#: unified kernel output: extraction result + per-document metrics
EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, doc_kind string, extracted binary, "
    "extracted_utf8 string, status string, error string, "
    "n_objects int, n_xref_sections int, n_compressed_objects int, "
    "filters array<string>, decrypt_hit boolean, parse_ok boolean, "
    "n_pages int, bytes_in bigint, bytes_out bigint, wall_ms double, "
    "partition_id int"
)


def _drop_zip_importers():
    """Delete every zipimporter from ``sys.path_importer_cache``.

    A reused Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark.worker_util.setup_spark_files``). Spark
    puts pyspark.zip, the py4j zip and the spark-core jar on the worker's
    sys.path, which leaves ~15 zipimporter entries in the cache (each
    archive plus one per imported subpackage), and on Python 3.11
    ``zipimporter.invalidate_caches()`` re-reads the archive's whole
    central directory: ~5 ms per pyspark.zip entry, ~22 ms per jar entry,
    ~0.22 s per task with 4 tasks running at once. The cache is documented
    as clearable; a later import rebuilds an entry from
    ``zipimport._zip_directory_cache`` without re-reading the archive, so
    the next task in this worker invalidates only FileFinder entries.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of a DDL schema string. Parsing goes through the
    JVM, so it needs a live session: call it when the plan is built."""
    return to_arrow_schema(_parse_datatype_string(schema))


def _row_batches(row_fn, schema: pa.Schema):
    """The one Arrow batch loop: ``row_fn(*row)`` per input row yields
    0..n output tuples, and each input batch becomes one output batch
    typed by ``schema``. Zip importers are dropped once per task."""
    def batches(it):
        _drop_zip_importers()
        for batch in it:
            cols = [c.to_pylist() for c in batch.columns]
            rows = [out for row in zip(*cols) for out in row_fn(*row)]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(col, type=field.type)
                     for col, field in zip(zip(*rows), schema)],
                    schema=schema)
    return batches


def map_rows(df: DataFrame, row_fn, schema: str) -> DataFrame:
    """The engine's only Python map (``mapInArrow``, one Python call per
    Arrow batch): ``row_fn`` sees the columns of ``df`` as Python values
    and yields output tuples in the order of the DDL ``schema``."""
    return df.mapInArrow(_row_batches(row_fn, arrow_schema(schema)), schema)


def _extract_row(text_mode: str = "raw"):
    """The extraction row function: dispatches each payload to the PDF or
    HTML path (kernel.extract.extract_document) and yields the
    ``EXTRACT_SCHEMA`` values. The closure pickles the kernel entry point
    by reference, so it ships only names (plus the text_mode string)."""
    from ..kernel.extract import extract_document

    def row(url, warc_ts, html, password=None, password_is_bytes=False):
        if password is not None and password_is_bytes:
            password = password.encode("utf-8")
        r = extract_document(html, password, text_mode)
        ctx = TaskContext.get()
        yield (url, warc_ts, r.doc_kind, r.extracted,
               r.extracted.decode("utf-8", "replace")
               if r.extracted is not None else None,
               r.status, r.error, r.n_objects, r.n_xref_sections,
               r.n_compressed_objects, r.filters, r.decrypt_hit, r.parse_ok,
               r.n_pages, r.bytes_in, r.bytes_out, r.wall_ms,
               ctx.partitionId() if ctx is not None else -1)
    return row


def extract_pages(pages: DataFrame, num_partitions: int = None,
                  passwords: DataFrame = None,
                  text_mode: str = "raw") -> DataFrame:
    """Declarative extraction plan over a `pages`-shaped DataFrame
    (url, warc_ts, html[, text, lang]).

    Columns are pruned to what the kernel reads (scan-level pruning),
    passwords broadcast-joined (tiny dimension), then the size-salted
    repartition feeds the Arrow kernel (``map_rows``).
    """
    cols = ["url", "warc_ts", "html"]
    slim = pages.select(*cols)
    if passwords is not None:
        slim = slim.join(F.broadcast(passwords), "url", "left")
    if num_partitions is None:
        # oversplit: per-document kernel cost varies ~1000x between a tiny
        # HTML page and a 2.5 MB PDF, and balanced_repartition hashes
        # (size_bucket, per-url salt), so each doc lands in an effectively
        # random partition — many small partitions spread the heavy docs
        # over every core instead of leaving one straggler with several
        num_partitions = slim.sparkSession.sparkContext.defaultParallelism * 8
    balanced = balanced_repartition(slim, num_partitions)
    return map_rows(balanced, _extract_row(text_mode), EXTRACT_SCHEMA)


def extracted_view(result: DataFrame) -> DataFrame:
    """The `extracted` output table (FIXTURES.md §5)."""
    return result.select("url", "warc_ts", "doc_kind", "extracted",
                         "extracted_utf8", "status", "error")


def metrics_view(result: DataFrame) -> DataFrame:
    """The per-document `metrics` companion table."""
    return result.select("partition_id", "url", "doc_kind", "n_objects",
                         "n_xref_sections", "n_compressed_objects",
                         "filters", "decrypt_hit", "parse_ok", "bytes_in",
                         "bytes_out", "wall_ms")


def metrics_rollup(result: DataFrame) -> DataFrame:
    """Partition-level hash aggregate over kernel output (built-in
    partial/map-side combine — SURVEY.md §2.3 D7)."""
    return (result.groupBy("partition_id", "doc_kind").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("parse_ok").cast("long")).alias("n_ok"),
        F.sum((~F.col("parse_ok")).cast("long")).alias("n_failed"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum("wall_ms").alias("kernel_ms"),
        F.sum("n_objects").alias("n_objects"),
        F.flatten(F.collect_set("filters")).alias("filters_seen"),
    ))


def lineage_view(result: DataFrame, attempt: int = 0,
                 input_snapshot_id: int = 0) -> DataFrame:
    """Per-partition lineage rows (SURVEY.md §2.3 D8)."""
    return (result.groupBy("partition_id").agg(
        F.lit(attempt).alias("attempt"),
        F.lit(input_snapshot_id).alias("input_snapshot_id"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("parse_ok").cast("long")).alias("n_ok"),
        F.sum((~F.col("parse_ok")).cast("long")).alias("n_failed"),
        F.current_timestamp().alias("finished_at"),
    ))


# ---------------------------------------------------------------------------
# checkpoint / resume
# ---------------------------------------------------------------------------

def _snapshot_id(spark: SparkSession, source_path: str) -> int:
    """Stable input snapshot identity; delegated to the storage seam
    (parquet: listing fingerprint; Iceberg: current snapshot_id)."""
    from ..sources.storage import snapshot_id
    return snapshot_id(spark, source_path)


def _manifest_dir(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def completed_shards(output_path: str) -> dict:
    done = {}
    mdir = _manifest_dir(output_path)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as fh:
                    rec = json.load(fh)
                done[rec["shard"]] = rec
    return done


def _commit_shard(output_path: str, shard: int, snapshot_id: int, n_rows: int):
    mdir = _manifest_dir(output_path)
    os.makedirs(mdir, exist_ok=True)
    rec = {"shard": shard, "input_snapshot_id": snapshot_id,
           "n_rows": n_rows, "committed_at": time.time()}
    tmp = os.path.join(mdir, ".shard-%05d.json.tmp" % shard)
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    os.replace(tmp, os.path.join(mdir, "shard-%05d.json" % shard))


def run_resumable(spark: SparkSession, source_path: str, output_path: str,
                  n_shards: int = 4, num_partitions: int = None,
                  passwords: DataFrame = None, max_shards: int = None,
                  text_mode: str = "raw") -> dict:
    """Checkpointed extraction: the corpus is split into ``n_shards`` stable
    url-hash shards; each shard is extracted and appended atomically, then
    its manifest record is committed. Re-runs skip committed shards
    (SURVEY.md §2.3 D4: the anti-join is a metadata filter here because the
    shard key is pushed down to the scan as a predicate).

    ``max_shards`` limits how many uncommitted shards to process this run
    (used by the kill-and-resume test).

    Returns {"processed": [...], "skipped": [...], "snapshot_id": int}.
    """
    from ..sources import storage

    snapshot_id = storage.snapshot_id(spark, source_path)
    # snapshot-pinned scan: on Iceberg this time-travels; on the parquet
    # stand-in it revalidates the fingerprint (fails loudly on mutation)
    pages = storage.read_pages(spark, source_path, snapshot=snapshot_id)
    done = completed_shards(output_path)
    stale = [s for s, rec in done.items()
             if rec["input_snapshot_id"] != snapshot_id]
    if stale:
        raise ValueError(
            "manifest was committed against a different input snapshot: "
            "shards %r — clear %s to reprocess" % (stale, output_path))
    keyed = pages.withColumn("_shard", resume_key(n_shards))
    processed, skipped = [], []
    for shard in range(n_shards):
        if shard in done:
            skipped.append(shard)
            continue
        if max_shards is not None and len(processed) >= max_shards:
            break
        subset = keyed.where(F.col("_shard") == shard).drop("_shard")
        result = extract_pages(subset, num_partitions=num_partitions,
                               passwords=passwords, text_mode=text_mode)
        out = result.withColumn("_shard", F.lit(shard))
        # shard write + manifest commit are two steps; if a previous run
        # died between them, the shard's parquet partitions exist without a
        # manifest record. Replace, don't append, so retries are exact-once
        # (the companion tables follow the same rule).
        attempt = 0
        for tbl in ("extracted", "metrics", "lineage"):
            if storage.replace_partition(
                    spark, os.path.join(output_path, tbl), "_shard", shard):
                attempt = 1
        storage.append_partitioned(
            out, os.path.join(output_path, "extracted"), "_shard")
        # companion metrics + lineage tables (north rule: per-partition
        # lineage rows and extraction metrics alongside the output) are
        # DERIVED from the just-written parquet — one cheap columnar
        # read-back, never a kernel re-run
        shard_df = storage.read_pages(
            spark, os.path.join(output_path, "extracted")).where(
            F.col("_shard") == shard)
        n_rows = shard_df.count()
        storage.append_partitioned(
            metrics_view(shard_df).withColumn("_shard", F.lit(shard)),
            os.path.join(output_path, "metrics"), "_shard")
        storage.append_partitioned(
            lineage_view(shard_df, attempt=attempt,
                         input_snapshot_id=snapshot_id)
            .withColumn("_shard", F.lit(shard)),
            os.path.join(output_path, "lineage"), "_shard")
        _commit_shard(output_path, shard, snapshot_id, n_rows)
        processed.append(shard)
    return {"processed": processed, "skipped": skipped,
            "snapshot_id": snapshot_id}
