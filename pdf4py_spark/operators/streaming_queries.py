"""Gated Structured Streaming queries: the streaming legs of batch
operators, drained with trigger(availableNow) so the result is a finite,
oracle-checkable DataFrame.

``events_hourly_stream`` is the streaming twin of
``relational.events_hourly`` in its PRODUCTION shape (r2 verdict):
readStream -> event-time watermark -> tumbling-window aggregation ->
APPEND-mode parquet sink with a checkpoint. Append + watermark is the
scale-safe configuration — state is bounded (windows older than the
watermark are evicted after emitting exactly once) and results land in
storage, not driver memory. The price is the streaming contract itself:
only CLOSED windows are emitted, so the SQL oracle restricts to windows
whose end <= max(ts) - watermark delay (boundary pinned INCLUSIVE by
tests/test_streaming_windowed.py::test_append_gate_boundary_semantics).
The complete-mode + memory-sink variant survives only in tests as a
tiny-fixture convenience, not as the gated query.

n_users is omitted (distinct aggregates are unsupported in streaming);
window arithmetic runs on event-time cast from TIMESTAMP_NTZ under an
explicitly pinned UTC session timezone (set for the duration of the
eager stream drain, then restored) and is emitted as epoch micros, so
the output is timezone-independent like the batch twin."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from . import QuerySpec

#: late-data horizon: windows are finalized once the watermark
#: (max event time - delay) passes their end
WATERMARK_DELAY = "2 hours"

# tmpfs rather than the 121 MB/s virtio disk, same reasoning as the
# shuffle dir: takes the slow-disk variance out of checkpoint/sink I/O
# (A/B measured ~parity-to-slightly-better; the win is predictability).
# Cluster analog: fast NVMe or object storage for checkpoints. Falls
# back to the platform tmp dir where /dev/shm doesn't exist (non-Linux).
STREAM_TMP = ("/dev/shm/pdf4py_spark_stream"
              if os.path.isdir("/dev/shm")
              else os.path.join(tempfile.gettempdir(),
                                "pdf4py_spark_stream"))


def _stream_base(spark, query_name):
    """Deterministic per-(session, query) scratch dir, CLEARED on entry
    — repeated bench/gate runs within a session reuse one slot instead
    of accumulating a fresh uuid-named sink (in RAM, on tmpfs) per
    invocation, while the applicationId component keeps CONCURRENT
    processes from rmtree-ing each other's live checkpoints (review
    finding). Consequence: a DataFrame returned by a previous
    invocation of the same query in the same session is invalidated
    when the next one starts; every consumer here collects before
    re-invoking."""
    base = os.path.join(STREAM_TMP, spark.sparkContext.applicationId,
                        query_name)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    return base


def _replay_ordered(spark, df, order_col, src, n_files=4):
    """Write ``df`` as ``n_files`` range-partitioned parquet files on
    ``order_col`` with ascending mtimes, so the file stream source
    (mtime-ordered listing) replays the data in ``order_col`` order
    across micro-batches — the determinism contract every exact
    streaming oracle here relies on."""
    df.repartitionByRange(n_files, order_col).write.parquet(src)
    parts = sorted(f for f in os.listdir(src)
                   if f.startswith("part-") and f.endswith(".parquet"))
    for i, name in enumerate(parts):
        os.utime(os.path.join(src, name),
                 (1_000_000 + i * 10, 1_000_000 + i * 10))


class _drain_conf:
    """Pin UTC + a measured shuffle width for the duration of a drain
    (the gated results are invariant to both knobs), then restore. Also
    removes the replayed input copy afterwards so repeated bench runs
    don't grow tmpfs by a corpus copy per invocation (sinks stay — the
    returned DataFrame reads from them).

    Width is SCALE-ADAPTIVE (r6): one state-store instance opens per
    shuffle partition per micro-batch, so small inputs want few
    partitions (r5 A/B at sf0.1/local[32]: 4 -> 11.1 s, 8 -> 8.9 s,
    16 -> 6.3 s, 32 -> 6.6 s — 16 is the knee) while at 10x the input
    the per-partition fixed cost amortizes and the stateful Python work
    wants every core (r6 A/B on sessions_stream sf1.0: 16 -> 29.6 s,
    32 -> 14.9 s, 48 -> 18.0 s). Derived from input bytes, floored at
    the sf0.1 knee and capped at the session's core count — never a
    hard-coded cluster constant."""

    def __init__(self, spark, src, input_bytes=0):
        self.spark, self.src = spark, src
        self.input_bytes = input_bytes

    def __enter__(self):
        cores = self.spark.sparkContext.defaultParallelism
        width = min(max(16, self.input_bytes // 262144), max(cores, 16))
        self.tz = self.spark.conf.get("spark.sql.session.timeZone")
        self.sp = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.arrow = self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch")
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(width))
        # the session-wide Arrow batch cap is sized for multi-MB document
        # payload rows (the extraction kernel); the stateful drain moves
        # millions of ~24-byte event rows, where 32-row batches mean ~15k
        # JVM<->Python round-trips per micro-batch (r6 A/B at sf1.0:
        # drain 15.6 s -> 7.9 s at 10k rows/batch, identical output — a
        # transport knob, not a semantic one)
        self.spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        return self

    def __exit__(self, *exc):
        import shutil
        self.spark.conf.set("spark.sql.session.timeZone", self.tz)
        self.spark.conf.set("spark.sql.shuffle.partitions", self.sp)
        self.spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", self.arrow)
        shutil.rmtree(self.src, ignore_errors=True)
        return False


def events_hourly_stream(spark, sf_dir):
    from ..streaming.windowed import EVENTS_SCHEMA

    out = _stream_base(spark, "events_hourly_stream")
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    # watermarks require TimestampType; pin the session tz for the NTZ
    # cast so wall time == absolute time while the drain runs
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        agg = (stream
               .withColumn("ts", F.col("ts").cast("timestamp"))
               .withWatermark("ts", WATERMARK_DELAY)
               .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
               .agg(F.count("*").alias("n_events"),
                    F.round(F.sum(F.col("value").cast("decimal(18,4)"))
                            .cast("double"), 4).alias("value_sum"))
               .select(F.col("w.start").alias("hs"),
                       "event_type", "n_events", "value_sum"))
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("checkpointLocation", os.path.join(out, "_checkpoint"))
             .option("path", os.path.join(out, "counts"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    # hs was written as an absolute instant (UTC wall == NTZ wall);
    # unix_micros is timezone-independent on read-back
    return (spark.read.parquet(os.path.join(out, "counts"))
            .select(F.expr("unix_micros(hs)").alias("hour_start_us"),
                    "event_type", "n_events", "value_sum"))


EVENTS_HOURLY_STREAM_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_start_us, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
         AS value_sum
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
GROUP BY 1, 2
"""


def sessions_stream(spark, sf_dir):
    """Gated leg of the CUSTOM STATEFUL streaming operator
    (applyInPandasWithState session assembly, streaming/stateful.py).

    The events table is replayed as an event-time-ordered file stream
    (range-partitioned on ts; file mtimes set ascending so the file
    source's mtime-ordered listing preserves event-time order across
    micro-batches — the determinism contract that makes an EXACT oracle
    possible). Each batch advances the watermark; a 30-minute silence
    closes a session either when the user's next event arrives (gap
    path) or when the event-time timer fires after the watermark passes
    end + gap (timeout path — including the terminal no-data batch,
    verified to run under trigger(availableNow)).

    Emitted set, pinned by tests/test_streaming_stateful.py:
      every gaps-and-islands session EXCEPT a user's last one that is
      still open at the final watermark — i.e. last sessions emit iff
      end_ms + GAP_ms < max(ts)_ms - delay_ms STRICTLY (equality stays
      open: Spark fires event-time timers only when watermark > timer).
    """
    from ..streaming.stateful import sessionize_stream

    base = _stream_base(spark, "sessions_stream")
    src, out = os.path.join(base, "in"), os.path.join(base, "out")
    with _drain_conf(spark, src, input_bytes=os.path.getsize(
            os.path.join(sf_dir, "events.parquet"))):
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # 8 replay files drained 4-per-trigger (r6): still exactly the 2
        # micro-batches of the r3-tuned 2-file/1-per-trigger shape (the
        # cross-batch state contract stays exercised here AND is
        # fixture-pinned in test_streaming_stateful.py), but the
        # range-partition replay write sorts/writes on 8 tasks instead
        # of 2 (the write was ~6 s of the sf1.0 drain); batch-boundary
        # invariance of the emitted set is argued in sessionize_stream
        # and pinned by the r6 cross-shape result hashes
        _replay_ordered(
            spark,
            ev.withColumn("us",
                          F.unix_micros(F.col("ts").cast("timestamp"))),
            "us", src, n_files=8)
        sessionize_stream(spark, src, out, files_per_trigger=4)
    return (spark.read.parquet(os.path.join(out, "sessions"))
            .select("user_id", "session_start_us", "session_end_us",
                    F.col("n_events").cast("bigint").alias("n_events")))


SESSIONS_STREAM_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM flagged
),
sessions AS (
  SELECT user_id, session_seq,
         epoch_us(MIN(ts)) AS session_start_us,
         epoch_us(MAX(ts)) AS session_end_us,
         COUNT(*) AS n_events
  FROM runs GROUP BY user_id, session_seq
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM (SELECT s.*,
             MAX(session_seq) OVER (PARTITION BY user_id) AS last_seq
      FROM sessions s)
WHERE session_seq < last_seq
   OR session_end_us // 1000 + 1800000
      < (SELECT MAX(epoch_us(ts)) // 1000 - 3600000 FROM events)
"""


def dedup_stream(spark, sf_dir):
    """Streaming exact dedup with BOUNDED state — the crawl-ingest shape
    of dedup_exact: the corpus (originals + the injected doc_id+1000000
    duplicates, each pair sharing one synthetic event time) is replayed
    as an event-time-ordered file stream through
    dropDuplicatesWithinWatermark(text_hash), so a key's state is
    EVICTED once the watermark passes its event time + 30 minutes
    instead of growing with corpus size.

    The gate checks exactly-once emission, not just the distinct set:
    the sink must contain each content hash exactly once (a key
    re-emitted after premature eviction, or a duplicate that slipped
    through, both break the row-level hash compare). Exactness holds by
    CONSTRUCTION for every duplicate — natural or injected: the
    synthetic event time is derived from the CONTENT HASH, so equal
    texts are always co-timed and meet inside the watermark window
    (review finding: a doc_id-derived slot only co-times the injected
    pairs, and a natural duplicate landing > horizon apart would
    re-emit after eviction)."""
    base = _stream_base(spark, "dedup_stream")
    src, out = os.path.join(base, "in"), os.path.join(base, "out")
    with _drain_conf(spark, src, input_bytes=os.path.getsize(
            os.path.join(sf_dir, "documents.parquet"))):
        docs = (spark.read
                .parquet(os.path.join(sf_dir, "documents.parquet"))
                .select("doc_id", "text"))
        dupes = docs.select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text")
        both = (docs.unionAll(dupes)
                .withColumn("ts", F.expr(
                    "timestampadd(MINUTE, cast(conv(substring(md5(text),"
                    " 1, 4), 16, 10) as int) % 100, "
                    "TIMESTAMP '2024-01-01 00:00:00')")))
        _replay_ordered(spark, both, "ts", src)
        # maxFilesPerTrigger 2 (r6): 4 replay files still drain in >1
        # micro-batch (the cross-batch dedup-state contract stays
        # exercised) at half the per-batch state-store/planning fixed
        # cost; the emitted distinct-hash set is batch-boundary-invariant
        # because equal texts are co-timed by construction
        stream = (spark.readStream
                  .schema("doc_id bigint, text string, ts timestamp")
                  .option("maxFilesPerTrigger", 2).parquet(src)
                  .withColumn("text_hash", F.md5("text"))
                  .withWatermark("ts", "30 minutes")
                  .dropDuplicatesWithinWatermark(["text_hash"]))
        q = (stream.select("text_hash")
             .writeStream.outputMode("append").format("parquet")
             .option("checkpointLocation", os.path.join(out, "_chk"))
             .option("path", os.path.join(out, "hashes"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.read.parquet(os.path.join(out, "hashes"))


DEDUP_STREAM_SQL = """
SELECT DISTINCT md5(text) AS text_hash FROM documents
"""


#: synthetic crawl-time horizon for frontier_stream: each doc's fetch
#: time is doc_id % FRONTIER_SPAN_MIN minutes past the epoch, so the
#: replay spans several 1-hour windows and the 30-min watermark leaves
#: the last window(s) open — the append-mode gate then proves window
#: CLOSURE semantics, not just the aggregation
FRONTIER_SPAN_MIN = 300
FRONTIER_WATERMARK = "30 minutes"


def frontier_stream(spark, sf_dir):
    """Streaming crawl-frontier rollup — the ingest-time shape of
    webtext.outlink_frontier: pages arrive as an event-time-ordered
    file stream, anchors are extracted/resolved by the SAME stateless
    stage the batch query uses (webtext.outlinks_from — one plan, two
    execution modes), external target domains are aggregated per
    1-hour fetch window under a watermark, and only CLOSED windows land
    in the append-mode checkpointed sink. State is bounded by (open
    windows x domain cardinality); the oracle restricts to windows
    whose end <= max(ts) - delay, the same contract as
    events_hourly_stream."""
    from ..operators.webtext import outlinks_from

    base = _stream_base(spark, "frontier_stream")
    src, out = os.path.join(base, "in"), os.path.join(base, "out")
    with _drain_conf(spark, src, input_bytes=os.path.getsize(
            os.path.join(sf_dir, "documents.parquet"))):
        docs = (spark.read
                .parquet(os.path.join(sf_dir, "documents.parquet"))
                .select("doc_id", "text")
                .withColumn("ts", F.expr(
                    "timestampadd(MINUTE, cast(doc_id %% %d as int), "
                    "TIMESTAMP '2024-01-01 00:00:00')"
                    % FRONTIER_SPAN_MIN)))
        _replay_ordered(spark, docs, "ts", src)
        stream = (spark.readStream
                  .schema("doc_id bigint, text string, ts timestamp")
                  .option("maxFilesPerTrigger", 2).parquet(src))
        links = outlinks_from(stream, extra_cols=("ts",))
        agg = (links.where(~F.col("is_internal"))
               .withWatermark("ts", FRONTIER_WATERMARK)
               .groupBy(F.window("ts", "1 hour").alias("w"),
                        "target_domain")
               .agg(F.count("*").alias("n_links"))
               .select(F.col("w.start").alias("ws"),
                       "target_domain", "n_links"))
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("checkpointLocation", os.path.join(out, "_chk"))
             .option("path", os.path.join(out, "frontier"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.read.parquet(os.path.join(out, "frontier"))
            .select(F.expr("unix_micros(ws)").alias("window_start_us"),
                    "target_domain", "n_links"))


# the oracle reuses the BATCH outlink CTE chain (webtext._OUTLINK_CTES)
# plus the synthetic fetch time and the closed-window restriction
def _frontier_stream_sql():
    from ..operators.webtext import (
        _HTML_WRAP_SQL, _OUTLINK_CTES, _RAW_URL_SQL,
    )
    from ..operators.psl import registrable_domain_sql

    tail = """
, timed AS (
  SELECT o.doc_id, o.target_domain,
         TIMESTAMP '2024-01-01 00:00:00'
           + CAST(o.doc_id % {span} AS BIGINT) * INTERVAL 1 MINUTE
           AS ts
  FROM outlinks o
  WHERE NOT o.is_internal
)
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       target_domain, COUNT(*) AS n_links
FROM timed
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM timed)
GROUP BY 1, 2
""".format(span=FRONTIER_SPAN_MIN)
    return (_OUTLINK_CTES + tail).format(
        raw_url=_RAW_URL_SQL, html_wrap=_HTML_WRAP_SQL,
        domain=registrable_domain_sql("labs"))


QUERIES = {
    "events_hourly_stream": QuerySpec(events_hourly_stream,
                                      EVENTS_HOURLY_STREAM_SQL),
    "sessions_stream": QuerySpec(sessions_stream, SESSIONS_STREAM_SQL),
    "dedup_stream": QuerySpec(dedup_stream, DEDUP_STREAM_SQL),
    "frontier_stream": QuerySpec(frontier_stream, _frontier_stream_sql()),
}
