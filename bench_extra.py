"""Round-6 measurement harness (guide §1): time individual declared
queries in isolation with the SAME session config + count() methodology
as the frozen bench.py, plus optional noop-sink timing and
explain("formatted") capture to plans/r06/.

bench.py is FROZEN for the driver's measurement; every number this file
produces is supporting evidence for OPTIMIZATION_r06.md, never the
headline.

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf1.0 -n 2 \
      [--noop] [--explain-tag before] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get(
                        "SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf1.0"))
    ap.add_argument("-n", "--repeats", type=int, default=2)
    ap.add_argument("--noop", action="store_true",
                    help="additionally time a noop-sink write (all columns "
                         "materialized, no count-prune)")
    ap.add_argument("--explain-tag", default=None,
                    help="write explain('formatted') to "
                         "plans/r06/<query>_<tag>.txt")
    ap.add_argument("--json-out", default=None)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from pdf4py_spark.session import build_session
    spark = build_session("pdf4py-spark-bench-extra", "local[%d]" % args.cpus,
                          "/dev/shm/spark-local", "16g")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    queries = entry_mod.queries()
    names = args.queries or sorted(queries)

    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "plans", "r06")
    if args.explain_tag:
        os.makedirs(plans_dir, exist_ok=True)

    out = {}
    for name in names:
        fn = queries[name]
        rec = {"count": [], "noop": []}
        for i in range(args.repeats):  # -n 0 = explain-only capture
            spark.sparkContext.setJobDescription(
                "r06 %s count #%d" % (name, i))
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            n = df.count()
            rec["count"].append(round(time.perf_counter() - t0, 3))
            rec["rows"] = n
            if args.noop:
                spark.sparkContext.setJobDescription(
                    "r06 %s noop #%d" % (name, i))
                t0 = time.perf_counter()
                df = fn(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                rec["noop"].append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if args.explain_tag:
            df = fn(spark, args.sf_dir)
            path = os.path.join(plans_dir,
                                "%s_%s.txt" % (name, args.explain_tag))
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
        out[name] = rec
        print("%-28s count=%s%s rows=%s"
              % (name, rec["count"],
                 " noop=%s" % rec["noop"] if args.noop else "",
                 rec.get("rows")))
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    from pdf4py_spark.operators import release_caches
    print("released_caches:", release_caches())
    spark.stop()


if __name__ == "__main__":
    main()
