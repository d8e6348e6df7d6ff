"""pdf4py_spark benchmark: one workload, one driver process, closed loop.

    python3 perfbench/run.py --workload pdf_raw --seed 1 --seconds 10 --trace 0

Run from anywhere; the checkout is the parent of this directory. The run
builds a local[N] session (N = the CPUs this process may use) with the
profile in perfbench/config.json, times set-up (process launch to the
end of a first extraction of tests/fixtures/pages.parquet), generates
the workload's inputs from --seed, runs one untimed warm-up pass, then
timed passes back to back until --seconds have passed (at least two). Every pass is checked against the committed
oracle.

--trace 0 reports the end-to-end metrics. --trace 1 also repeats the job
once under tracing and decomposes it per layer (see layers.py); it
reports the per-layer metrics and writes the spans, with their self
times, to .bench_work/traces/.

stdout ends with one JSON line: {"correct", "attempted", "failed",
"metrics": {name: {"value", "unit"}}}. Exit code 1 when any output
failed its check, 2 when the checkout cannot run the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from engine import ROOT, WORK_ROOT, build_session, make_work_dir, \
    process_start_time, shutdown, worker_peak_rss_mb

#: timed passes per run at least; the JVM is still warming up after the
#: one untimed pass, so job_s is the median of two or more
MIN_TIMED_PASSES = 2

REQUIRED = ("BENCHMARK.json", "__spark_entry__.py", "pdf4py_spark",
            "tools/check_parity.py", "tests/fixtures/pages.parquet",
            "tests/fixtures/oracle.parquet")


def units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pdf_raw", "corpus_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="override the input size: copies for pdf_raw, "
                         "documents for corpus_ops")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="flip one expected result (self-test of the "
                         "oracle gate)")
    return ap.parse_args(argv)


def run(args) -> dict:
    launched = process_start_time()
    sys.path.insert(0, ROOT)
    from layers import traced_run
    from spans import Tracer
    from workloads import WORKLOADS, setup_extraction

    work = make_work_dir()
    spark = None
    try:
        spark = build_session(work)
        attempted, failed, notes = setup_extraction(spark)
        setup_s = time.time() - launched

        workload = WORKLOADS[args.workload](
            spark, work, args.seed, args.size, args.corrupt_oracle)
        workload.prepare()
        passes = [workload.job()]  # warm-up, untimed
        timed = []
        start = time.monotonic()
        while (len(timed) < MIN_TIMED_PASSES
               or time.monotonic() - start < args.seconds):
            timed.append(workload.job())
        passes += timed
        rss_mb = worker_peak_rss_mb()
        job_s = statistics.median(p["seconds"] for p in timed)

        traced = None
        if args.trace:
            run_id = "%s-%d-%d" % (args.workload, args.seed, os.getpid())
            tracer = Tracer(spark, run_id)
            traced = traced_run(spark, workload, job_s, work, tracer)
            passes += traced["passes"]
            spans = tracer.dump(
                os.path.join(WORK_ROOT, "traces", run_id + ".json"),
                {"workload": args.workload, "seed": args.seed,
                 "input": workload.props, "untraced_job_s": job_s,
                 "timed_pass_s": [p["seconds"] for p in timed],
                 "shuffle_partitions": traced["prefix"]["width"],
                 "metrics": traced["metrics"]})
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in passes:
        attempted += p["attempted"]
        failed += p["failed"]
        notes += p["notes"]
    return {"workload": workload, "setup_s": setup_s, "job_s": job_s,
            "timed": timed, "rss_mb": rss_mb, "attempted": attempted,
            "failed": failed, "notes": notes, "traced": traced,
            "spans": spans if traced else None,
            "run_id": run_id if traced else None}


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(
        os.path.join(ROOT, p))]
    if missing:
        print("perfbench: %s is not a pdf4py_spark checkout (missing %s)"
              % (ROOT, ", ".join(missing)), file=sys.stderr)
        return 2
    out = run(args)
    unit = units()
    wl = out["workload"]
    secs = [p["seconds"] for p in out["timed"]]
    print("%s seed=%d docs=%d passes=%d job_s=%s setup_s=%.3f "
          "worker_rss_mb=%.1f failed_frac=%.6f (%d/%d)"
          % (wl.name, args.seed, wl.docs, len(secs),
             "/".join("%.3f" % s for s in secs), out["setup_s"],
             out["rss_mb"], out["failed"] / out["attempted"], out["failed"],
             out["attempted"]))
    for p in out["timed"][-1:]:
        for name, sec in p.get("parts", {}).items():
            print("  %-28s %8.3f s" % (name, sec))
    for note in out["notes"][:10]:
        print("  FAILED %s" % note)
    if args.trace:
        for s in out["spans"]:
            print("  span %-44s %8.3f s  self %8.3f s"
                  % (s["name"], s["duration_s"], s["self_s"]))
        print("  spans written to .bench_work/traces/%s.json"
              % out["run_id"])
        values = out["traced"]["metrics"]
        names = unit["per_layer"]
    else:
        values = {
            "job_s": out["job_s"],
            "docs_per_s": wl.docs / out["job_s"],
            "setup_s": out["setup_s"],
            "worker_rss_mb": out["rss_mb"],
        }
        names = unit["end_to_end"]
    metrics = {name: {"value": values[name], "unit": u}
               for name, u in names.items()}
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 1 if out["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
