"""Self-test of the benchmark at the smallest input size.

    python3 perfbench/selftest.py

For each workload it runs run.py with --trace 0 and --trace 1 on the
smallest inputs (one copy of each fixture PDF; 200 documents) and checks
that the run passes its oracle and that every metric BENCHMARK.json
names is printed with its unit and a finite value. It then reruns each
workload with --corrupt-oracle, which flips one expected md5 or result
hash, and checks that the run counts a failure and exits non-zero, so
the oracle gate is known to bite. About 8 minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALLEST = {"pdf_raw": 1, "corpus_ops": 200}


def run(workload: str, trace: int, *extra) -> tuple:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", str(SMALLEST[workload]), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for workload in SMALLEST:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, out = run(workload, trace)
            tag = "%s --trace %d" % (workload, trace)
            if code != 0 or out is None or not out["correct"]:
                problems.append("%s: exit %s, result %s" % (tag, code, out))
                continue
            for m in spec[kind]:
                got = out["metrics"].get(m["name"])
                if (got is None or got.get("unit") != m["unit"]
                        or not isinstance(got.get("value"), (int, float))
                        or not math.isfinite(got["value"])):
                    problems.append("%s: metric %s printed as %r"
                                    % (tag, m["name"], got))
            extra = set(out["metrics"]) - {m["name"] for m in spec[kind]}
            if extra:
                problems.append("%s: unlisted metrics %s" % (tag, extra))
        code, out = run(workload, 0, "--corrupt-oracle")
        if code == 0 or out is None or out["failed"] < 1:
            problems.append("%s --corrupt-oracle: exit %s, result %s"
                            % (workload, code, out))
        else:
            print("%s: corrupted oracle gives failed_frac %.4f, exit %d"
                  % (workload, out["failed"] / out["attempted"], code))
    for p in problems:
        print("FAIL", p)
    print("selftest: %s" % ("ok" if not problems else
                            "%d problems" % len(problems)))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
