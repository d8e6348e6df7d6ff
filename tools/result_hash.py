"""Capture an order-insensitive result hash for each declared query at a
given sf dir — the round-6 optimization safety net: capture BEFORE a
rewrite, re-run AFTER, and require bit-identical hashes (same canon()
discipline as tools/check_parity.py, which remains the DuckDB oracle
gate; this tool guards Spark-vs-Spark equivalence at SFs the oracle is
too slow for).

Usage: python tools/result_hash.py SF_DIR OUT.json [query ...]
       python tools/result_hash.py --compare A.json B.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_parity import table_hash  # noqa: E402  (tools/ on path via __file__)


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    bad = []
    for name in sorted(set(a) & set(b)):
        ok = (a[name]["hash"] == b[name]["hash"]
              and a[name]["rows"] == b[name]["rows"])
        if not ok:
            bad.append(name)
        print("%-28s %s" % (name, "OK" if ok else "DIFF  %s->%s rows %s->%s"
                            % (a[name]["hash"][:10], b[name]["hash"][:10],
                               a[name]["rows"], b[name]["rows"])))
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    if only_a:
        print("only in %s: %s" % (a_path, only_a))
    if only_b:
        print("only in %s: %s" % (b_path, only_b))
    print("%d differences" % len(bad))
    return 1 if bad else 0


def main():
    argv = list(sys.argv[1:])
    if argv and argv[0] == "--compare":
        sys.exit(compare(argv[1], argv[2]))
    sf_dir = argv[0]
    out_path = argv[1]
    only = set(argv[2:])

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    from pdf4py_spark.session import build_session
    spark = build_session("result-hash", "local[%d]" % cpus,
                          "/dev/shm/spark-local", "16g")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    queries = entry_mod.queries()

    record = {}
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            rows = [tuple(r) for r in sdf.collect()]
            cols = sdf.columns
        except Exception as exc:  # record, keep going
            record[name] = {"rows": None, "hash": "ERR:%s" % str(exc)[:200]}
            print("%-28s ERROR %s" % (name, str(exc)[:160]))
            continue
        record[name] = {"rows": len(rows), "hash": table_hash(rows, cols),
                        "sec": round(time.perf_counter() - t0, 2)}
        print("%-28s rows=%-7d hash=%s  %.2fs"
              % (name, len(rows), record[name]["hash"][:12],
                 record[name]["sec"]))
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print("wrote %s (%d queries)" % (out_path, len(record)))
    from pdf4py_spark.operators import release_caches
    release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
