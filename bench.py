"""Benchmark driver: headline extraction throughput + operator suite.

Prints ONE JSON line:
    {"metric": ..., "value": <total suite sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>,
     "extract": {"docs": N, "docs_per_sec": X, "mb_per_sec": Y}, ...}

Stdout-size contract (r4 verdict nit #1): the harness that records this
line keeps only the LAST 2000 characters of stdout, and r2-r4 all
arrived decapitated (parsed: null). The final line therefore carries
seconds rounded to 2 decimals and NO row counts; the full-precision
per-query timings + row counts + extract stats go to the committed
BENCH/QUERIES_r{N}.json instead. A hard assert keeps the line under
the cap so the overflow cannot regress silently.

Env / flags:
    SPARK_GRAFT_SF_DIR   input tables dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default: the CPUs this
                         process may run on)
    --suite extract      only the extraction throughput job (used by
                         tools/bench_scaling.py for the N vs 4N runs)
    --copies K           corpus amplification factor (default 100)

The extraction workload is the amplified reference corpus (every payload
re-emitted under distinct urls), so the measured job is exactly the
byte-identity kernel on real PDFs/HTML, reading parquet, through the
size-salted shuffle, Arrow-batched. A checksum aggregate forces full
materialization and guards against silent wrong results while timing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REFERENCE_BASELINE_DOCS_PER_SEC = 0.98  # single-core pdf4py full-graph parse
                                        # (SURVEY.md §6, measured)
ROUND = "7"  # default suffix for BENCH/QUERIES_r{N}.json


def _corpus_fingerprint() -> str:
    """Cheap content hash of the fixture corpus, so the amplified-corpus
    cache invalidates when the corpus changes (round 5 added two synth
    PDFs; the round-4 cache would otherwise be silently re-benched)."""
    import hashlib

    from pdf4py_spark.sources.corpus import corpus_rows
    h = hashlib.md5()
    for url, _ts, payload, _t, _l in corpus_rows():
        h.update(url.encode())
        h.update(hashlib.md5(payload).digest())
    return h.hexdigest()[:10]


def ensure_amplified_corpus(spark, copies: int) -> str:
    """Materialize the amplified pages parquet once (cached across runs so
    N-core and 4N-core benches read identical bytes)."""
    path = "/tmp/pdf4py_spark_bench/pages_%s_x%d.parquet" % (
        _corpus_fingerprint(), copies)
    marker = path + ".done"
    if not os.path.exists(marker):
        from pdf4py_spark.sources.pages import amplified_pages_df
        amplified_pages_df(spark, copies).write.mode("overwrite").parquet(path)
        with open(marker, "w") as fh:
            fh.write("ok")
    return path


def bench_extract(spark, copies: int):
    from pyspark.sql import functions as F
    from pdf4py_spark.plans.pipeline import extract_pages

    src = ensure_amplified_corpus(spark, copies)
    pages = spark.read.parquet(src)
    n_docs = pages.count()
    total_bytes = pages.select(
        F.sum(F.octet_length("html"))).collect()[0][0]
    from pdf4py_spark.sources.pages import amplified_passwords_df
    passwords = amplified_passwords_df(spark, copies)
    # cpus*8 partitions: enough oversplit that the salted repartition
    # spreads the heavy-document tail (2.5 MB PDFs ~2 s each) across
    # cores, WITHOUT the per-task overhead of doc-level splitting —
    # measured on this box: 1800 tasks at 8 cores costs +50% wall vs 64,
    # and 1800 at 32 cores +27% vs 256 (round-2 partition sweep). The
    # overhead is a fixed cost per task. On a 4-core box (Python 3.11) its
    # largest part was Spark's importlib.invalidate_caches() at each task
    # start, which re-read pyspark.zip, the py4j zip and the spark-core jar
    # once per cached zipimporter (~0.22 s a task at 4 concurrent tasks),
    # until the kernel began dropping those importers
    # (plans.pipeline._drop_zip_importers)
    cpus = spark.sparkContext.defaultParallelism
    n_parts = min(max(cpus * 8, 8), 4096)
    start = time.perf_counter()
    result = extract_pages(pages, num_partitions=n_parts,
                           passwords=passwords)
    stats = result.agg(
        F.count("*").alias("n"),
        F.sum(F.col("parse_ok").cast("long")).alias("n_ok"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum(F.crc32(F.coalesce(F.col("extracted"), F.lit(b""))))
        .alias("checksum")).collect()[0]
    wall = time.perf_counter() - start
    assert stats["n"] == n_docs, "row loss in extraction"
    return {
        "docs": n_docs,
        "input_mb": round(total_bytes / 1e6, 1),
        "sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 2),
        "mb_per_sec": round(total_bytes / 1e6 / wall, 2),
        "ok_fraction": round(stats["n_ok"] / n_docs, 4),
        "bytes_out": int(stats["bytes_out"]),
        "checksum": int(stats["checksum"]),
        "speedup_vs_reference_single_core": round(
            (n_docs / wall) / REFERENCE_BASELINE_DOCS_PER_SEC, 1),
    }


# operator queries timed at the SF dir (forced with a count).
# INTENTIONAL diff vs __spark_entry__.queries() (r4 verdict nit #2):
# the fixture-only byte-identity gates (extract_pdf_census/text_md5/
# unicode_md5, extract_html_main_roundtrip, extract_stats_by_lang,
# extract_quarantine_counts, media_metadata), the tiny relational
# variants (pricing_cube, order_key_set_ops, sessionize_native), the
# pytest-gated embedding_neardup, and events_hourly_stream (its cost
# is sessions_stream's harness; both replay the same files) are
# correctness gates, not throughput workloads — timing them would pad
# the suite without information. All are still hash-gated per round.
BENCH_QUERIES = (
    "extract_html_roundtrip",
    "extract_pdf_fonts",
    "extract_pdf_metadata",
    "extract_pdf_links",
    "extract_pdf_xmp",
    "extract_pdf_xmp_fields",
    "extract_pdf_outline",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_clusters",
    "dedup_minhash_cc",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "decontaminate",
    "ann_cosine_topk",
    "ann_bucketed_topk",
    "ann_lsh_topk",
    "lang_id",
    "lang_confusion",
    "text_quality",
    "token_rollup",
    "token_count_bpe",
    "fingerprint",
    "winnow_fingerprints",
    "bm25_search",
    "curated_corpus",
    "pricing_summary",
    "revenue_by_nation",
    "min_cost_supplier",
    "market_share",
    "latest_event_per_user",
    "user_state_intervals",
    "top_orders_per_segment",
    "events_hourly",
    "events_sliding_3h",
    "sessionize",
    "asof_attribution",
    "text_length_quantiles",
    "media_frame_sample",
    "media_wav_decode",
    "media_png_decode",
    "url_canonicalize",
    "url_filter_blocklist",
    "domain_rollup",
    "html_outlinks",
    "outlink_frontier",
    "domain_pagerank",
    "anchor_text_rollup",
    "robots_gate",
    "corpus_split",
    "tokenize_bpe",
    "quality_repetition",
    "quality_c4_rules",
    "dedup_paragraph",
    "bigram_pmi",
    "sequence_pack",
    "source_mixture",
    "pii_scrub",
    "sessions_stream",
    "dedup_stream",
    "frontier_stream",
)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get(
                        "SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--copies", type=int, default=100)
    ap.add_argument("--suite", choices=("full", "extract"), default="full")
    ap.add_argument("--bind-cores", action="store_true",
                    help="pin this process (and the JVM/python workers it "
                         "spawns) to exactly --cpus cores, so local[N] "
                         "means N cores, not N task slots on all cores — "
                         "the faithful N-vs-4N-cores methodology")
    args = ap.parse_args()

    if args.bind_cores and hasattr(os, "sched_setaffinity"):
        os.sched_setaffinity(0, set(range(args.cpus)))

    from pdf4py_spark.session import build_session
    spark = build_session("pdf4py-spark-bench", "local[%d]" % args.cpus,
                          "/dev/shm/spark-local", "16g")
    spark.sparkContext.setLogLevel("ERROR")

    out = {
        "metric": "documents/sec extraction throughput "
                  "(byte-identical text vs pdf4py reference)",
        "unit": "sec",
        "sf": args.sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": args.cpus,
        "queries": {},
    }
    total = 0.0

    extract_stats = bench_extract(spark, args.copies)
    out["extract"] = extract_stats
    out["queries"]["extract_corpus"] = extract_stats["sec"]
    total += extract_stats["sec"]

    if args.suite == "full":
        import __spark_entry__ as entry_mod
        queries = entry_mod.queries()
        for name in BENCH_QUERIES:
            fn = queries[name]
            start = time.perf_counter()
            df = fn(spark, args.sf_dir)
            n = df.count()
            sec = round(time.perf_counter() - start, 3)
            out["queries"][name] = sec
            out.setdefault("rows", {})[name] = n
            total += sec
        from pdf4py_spark.operators import release_caches
        out["released_caches"] = release_caches()

    out["value"] = round(total, 3)

    # full-fidelity record -> committed file (full suite only: the
    # extract-only scaling runs must not clobber it); compact -> stdout
    if args.suite == "full":
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH",
            "QUERIES_r%s.json" % os.environ.get("SPARK_GRAFT_ROUND", ROUND))
        try:
            with open(full_path, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: stdout still carries the essentials
    compact = dict(out)
    compact.pop("rows", None)
    compact["metric"] = "docs/sec extraction throughput"
    compact["queries"] = {k: round(v, 2)
                          for k, v in out["queries"].items()}
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, \
        "bench line %d chars would overflow the 2000-char tail" % len(line)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
