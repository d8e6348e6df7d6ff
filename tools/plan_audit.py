"""Physical-plan audit over every registered query: executes each plan
builder at a small SF and records the shuffle/explode/join-strategy
shape the 100 TB design story claims — the committed, greppable twin of
tests/test_plan_shapes.py's hard assertions.

Columns:
  exchanges   Exchange nodes (shuffles; AQE may collapse some at run time)
  generate    Generate nodes (explodes)
  bhj / smj   broadcast-hash / sort-merge joins
  nlj         BroadcastNestedLoopJoin (allowed only at the declared sites)
  cartesian   CartesianProduct (must be 0 everywhere)
  py          BatchEvalPython / per-row Python (must be 0; ArrowEvalPython
              and the map_rows (MapInArrow) kernels are the sanctioned path)

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "PLAN_AUDIT_r5.md")

    from pdf4py_spark.session import build_session
    spark = build_session("plan-audit", "local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    rows = []
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            plan = (fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
        except Exception as exc:  # noqa: BLE001
            rows.append((name, "ERROR: %s" % str(exc)[:80]))
            continue
        rows.append((name, dict(
            # shuffle exchanges only (r5 advice #1): plan strings print
            # shuffles as bare 'Exchange', so subtract BOTH
            # BroadcastExchange and ReusedExchange (each contains the
            # substring) — reuse-heavy plans previously overstated their
            # shuffle count
            exchanges=plan.count("Exchange")
            - plan.count("BroadcastExchange")
            - plan.count("ReusedExchange"),
            generate=plan.count("Generate"),
            bhj=plan.count("BroadcastHashJoin"),
            smj=plan.count("SortMergeJoin"),
            nlj=plan.count("BroadcastNestedLoopJoin"),
            cartesian=plan.count("CartesianProduct"),
            py=plan.count("BatchEvalPython"),
        )))

    lines = [
        "# Physical-plan audit (%s)" % sf_dir,
        "",
        "Generated by tools/plan_audit.py. Streaming queries show the",
        "read-back plan of their drained sink; their streaming plan is",
        "asserted by tests/test_streaming*.py.",
        "",
        "| query | exchanges | generate | bhj | smj | nlj | cartesian"
        " | per-row py |",
        "|---|---|---|---|---|---|---|---|",
    ]
    bad = []
    for name, st in rows:
        if isinstance(st, str):
            lines.append("| %s | %s |" % (name, st))
            bad.append(name)
            continue
        lines.append("| %s | %d | %d | %d | %d | %d | %d | %d |" % (
            name, st["exchanges"], st["generate"], st["bhj"],
            st["smj"], st["nlj"], st["cartesian"], st["py"]))
        if st["cartesian"] or st["py"]:
            bad.append(name)
    with open(out_md, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote %s (%d queries, %d flagged)" % (out_md, len(rows),
                                                 len(bad)))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
