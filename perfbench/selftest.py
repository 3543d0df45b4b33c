#!/usr/bin/env python3
"""Self-test of the benchmark's failure path.

    python3 perfbench/selftest.py

Runs two star_analytics keys with two injected keys: one that throws, and a
copy of BASE whose output gains a row. Both must be counted in `failed`,
named in the report, and left out of the cold and warm pass times. The
altered copy must fail through the oracle re-check, not the digest alone.
"""
import json
import os
import statistics
import subprocess
import sys

import run

BASE = "sql_subqueries"
KEYS = [BASE, "scalar_map_ops"]


def main():
    proc = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload",
         "star_analytics", "--seed", "1", "--seconds", "1", "--trace", "0",
         "--keys", ",".join(KEYS), "--inject-failures", BASE],
        cwd=run.ROOT, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"benchmark failed:\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    summary = json.loads("\n".join(lines[:-1]))
    rec = json.load(open(summary["results_file"]))["record"]
    problems = []
    n_passes = len(rec["passes"])
    if result["correct"] or result["failed"] != 2 * n_passes:
        problems.append(f"expected 2 failures per pass, got {result['failed']}")
    for key in ("selftest_throws", "selftest_altered"):
        if sum(key in f for f in summary["failed"]) != n_passes:
            problems.append(f"{key} is not named once per pass in {summary['failed']}")
    if not any("selftest_altered" in f and "oracle" in f for f in summary["failed"]):
        problems.append("selftest_altered did not fail through the oracle re-check")
    def honest(p):
        return sum(q["seconds"] for q in rec["queries"]
                   if q["pass"] == p and not q["key"].startswith("selftest_"))
    for metric, value in (("cold_pass_s", honest(0)),
                          ("warm_pass_s", statistics.median(honest(p) for p in range(1, n_passes)))):
        if abs(result["metrics"][metric]["value"] - value) > 1e-9:
            problems.append(f"{metric} includes the injected keys' time")
    ratio = summary["fail_ratio"]["value"]
    if abs(ratio - result["failed"] / result["attempted"]) > 1e-12:
        problems.append(f"fail_ratio {ratio} != failed/attempted")
    print(json.dumps({"failed": summary["failed"], "fail_ratio": ratio,
                      "problems": problems}, indent=1))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
