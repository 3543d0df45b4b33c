#!/usr/bin/env python3
"""Checks that the traced run's counts repeat.

    python3 perfbench/count_check.py repeat <workload> <seed>
        Two traced runs with one seed. Warm-pass exec.jobs and the
        scope.builds of both passes must agree exactly; cold-pass exec.jobs
        within JITTER (AQE and checkpoint timing move a few jobs).

    python3 perfbench/count_check.py fixtures <fixture-dir> [jobs construct_jobs]
        One traced cold pass over every declared key in sorted order on an
        existing fixture directory (no output check, no ingest loop). Prints
        exec.jobs and ops.construct_jobs, and compares them with the given
        expected counts within JITTER.
"""
import json
import os
import subprocess
import sys

import run

JITTER = 3


def traced(workload, seed):
    proc = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=run.ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(proc.stderr[-3000:])
    lines = proc.stdout.splitlines()
    summary, out = json.loads("\n".join(lines[:-1])), json.loads(lines[-1])
    record = json.load(open(summary["results_file"]))["record"]
    return {k: v["value"] for k, v in out["metrics"].items()}, record


def jobs_by_key(record):
    return {(q["pass"], q["key"]): {ph: c["jobs"] for ph, c in q["counts"].items()}
            for q in record["queries"]}


def repeat(workload, seed):
    (a, rec_a), (b, rec_b) = traced(workload, seed), traced(workload, seed)
    checks = [("warm.exec.jobs", 0), ("cold.scope.builds", 0),
              ("warm.scope.builds", 0), ("cold.exec.jobs", JITTER),
              ("cold.ops.construct_jobs", JITTER)]
    ok = True
    for name, tol in checks:
        same = abs(a[name] - b[name]) <= tol
        ok &= same
        print(f"{name}: {a[name]} vs {b[name]} (tolerance {tol}) {'ok' if same else 'DIFFERS'}")
    ja, jb = jobs_by_key(rec_a), jobs_by_key(rec_b)
    for pass_key in sorted(ja):
        if ja[pass_key] != jb.get(pass_key):
            print(f"jobs differ, pass {pass_key[0]} {pass_key[1]}: {ja[pass_key]} vs {jb.get(pass_key)}")
    return ok


def fixtures(fixture_dir, expected):
    classpath = run.build()
    run_dir = os.path.join(run.WORK, "runs", "count-check")
    os.makedirs(run_dir, exist_ok=True)
    warm_dir = os.path.join(run.WORK, "corpus", f"sf{run.CONFIG['warm_corpus_sf']}")
    run.corpus.ensure_corpus(warm_dir, run.CONFIG["warm_corpus_sf"])
    args = {"cores": run.nproc(), "warm-corpus": warm_dir,
            "corpus": os.path.abspath(fixture_dir), "keys": "all",
            "passes": "t", "run-id": "count-check",
            "dump": f"{run_dir}/dump", "out": f"{run_dir}/record.json",
            "spans": f"{run_dir}/spans.json"}
    _, rec = run.run_jvm(classpath, run_dir, args, limit_s=3600, heap="6g")
    m = run.traced_metrics(rec, rec["cores"])
    failed = [q["key"] for q in rec["queries"] if not q["ok"]]
    print(json.dumps({"keys": len(rec["queries"]), "failed": failed,
                      "cold.exec.jobs": m["cold.exec.jobs"],
                      "cold.ops.construct_jobs": m["cold.ops.construct_jobs"],
                      "cold_pass_s": run.pass_time(rec["queries"], 0),
                      "cold.ops.construct_s": m["cold.ops.construct_s"],
                      "cold.exec.exec_s": m["cold.exec.exec_s"]}))
    if not expected:
        return True
    jobs, construct = map(int, expected)
    return (abs(m["cold.exec.jobs"] - jobs) <= JITTER and
            abs(m["cold.ops.construct_jobs"] - construct) <= JITTER)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    if mode == "repeat" and len(sys.argv) == 4:
        ok = repeat(sys.argv[2], int(sys.argv[3]))
    elif mode == "fixtures" and len(sys.argv) in (3, 5):
        ok = fixtures(sys.argv[2], sys.argv[3:])
    else:
        sys.exit(__doc__)
    sys.exit(0 if ok else 1)
