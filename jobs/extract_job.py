"""spark-submit entry point for the extraction pipeline.

Multi-executor usage (the 10^12-doc shape):

    zip -r engine.zip pdf4py_spark
    spark-submit --py-files engine.zip jobs/extract_job.py \\
        --source  s3://bucket/pages_table \\
        --output  s3://bucket/extracted \\
        --shards 4096 --partitions 32768

Local sandbox usage:

    python jobs/extract_job.py --source /tmp/pages --output /tmp/out \\
        --shards 8

The job is resumable: completed shards are recorded in the output manifest
and skipped on re-run (keyed by a stable url-hash bucket + an input
snapshot fingerprint — the parquet stand-in for Iceberg snapshot pinning;
swap sources/storage for an Iceberg catalog when the runtime jar is on the
classpath).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--max-shards", type=int, default=None,
                    help="process at most this many uncommitted shards")
    ap.add_argument("--passwords", default=None,
                    help="optional parquet with (url, password, "
                         "password_is_bytes)")
    ap.add_argument("--text-mode", choices=("raw", "unicode"),
                    default="raw",
                    help="'raw' = byte-identical string operands (the "
                         "reference contract); 'unicode' = font/encoding-"
                         "aware decoding (ToUnicode CMaps, base encodings, "
                         "Differences)")
    args = ap.parse_args()

    from pdf4py_spark.plans.pipeline import run_resumable
    from pdf4py_spark.session import build_session

    spark = build_session("pdf4py-spark-extract")
    passwords = (spark.read.parquet(args.passwords)
                 if args.passwords else None)
    outcome = run_resumable(
        spark, args.source, args.output,
        n_shards=args.shards, num_partitions=args.partitions,
        passwords=passwords, max_shards=args.max_shards,
        text_mode=args.text_mode)
    print(json.dumps(outcome))
    spark.stop()


if __name__ == "__main__":
    main()
