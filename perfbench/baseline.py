#!/usr/bin/env python3
"""Measure a baseline: two sets of N untraced runs per workload, each run
with its own seed, then one traced run per workload.

    python3 perfbench/baseline.py [N] [first_seed_a] [first_seed_b]

Rewrites perfbench/BASELINE.json: the settings the numbers depend on; per
workload and set, the median, quartiles and spread (IQR / median) of every
end-to-end metric; the gap between the two sets' medians next to each
metric's bound; the build-once set derived per workload; and the traced
per-layer table with the tracing overhead. The `checks` section of the
existing file (written from perfbench/count_check.py and
perfbench/selftest.py) is kept as it is.
"""
import json
import os
import statistics
import subprocess
import sys

import run

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
OUT = os.path.join(run.HERE, "BASELINE.json")


def one(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
         "--trace", str(trace)], cwd=run.ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.splitlines()
    return json.loads("\n".join(lines[:-1])), json.loads(lines[-1])


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def measure_set(name, seeds):
    runs = [one(name, s, 0) for s in seeds]
    e2e = {m["name"]: stats([r[1]["metrics"][m["name"]]["value"] for r in runs])
           for m in BENCH["end_to_end"]}
    print(f"{name} seeds {seeds[0]}..: " +
          " ".join(f"{k}={v['median']:.4g} (spread {v['spread']:.3f})"
                   for k, v in e2e.items()), file=sys.stderr, flush=True)
    return runs, {"seeds": seeds, "failed": sum(r[1]["failed"] for r in runs),
                  "attempted": sum(r[1]["attempted"] for r in runs),
                  "end_to_end": e2e}


def agreement(a, b):
    """Per metric: B's median against A's as a signed share of A's, and
    whether both sets' spreads (set-up time aside) and that gap are within
    the metric's bound."""
    out = {}
    for m in BENCH["end_to_end"]:
        ma, mb = a["end_to_end"][m["name"]], b["end_to_end"][m["name"]]
        gap = (mb["median"] - ma["median"]) / ma["median"]
        spreads_ok = m["name"] == "setup_s" or max(ma["spread"], mb["spread"]) <= m["bound"]
        out[m["name"]] = {"gap": gap, "bound": m["bound"],
                          "within_bound": abs(gap) <= m["bound"] and spreads_ok}
    return out


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    first_a = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    first_b = int(sys.argv[3]) if len(sys.argv) > 3 else first_a + 100
    names = [w["name"] for w in BENCH["workloads"]]
    sets = {}
    for label, first in (("a", first_a), ("b", first_b)):
        for name in names:
            sets[label, name] = measure_set(name, list(range(first, first + n)))
    out = {"what": (f"Baseline of the benchmark defined in BENCHMARK.json, measured with "
                    f"`python3 perfbench/baseline.py {n} {first_a} {first_b}` on a "
                    f"{run.nproc()}-vCPU VM: per workload two sets of {n} runs, set a "
                    f"then set b, each run with its own seed, and one traced run."),
           "workloads": {}}
    for w in BENCH["workloads"]:
        name = w["name"]
        (runs_a, set_a), (runs_b, set_b) = sets["a", name], sets["b", name]
        summary = runs_a[0][0]
        out["settings"] = summary["settings"] | {
            "nproc": run.nproc(), "corpus": summary["corpus"],
            "corpus_generator": "perfbench/corpus.py, corpus seed 42, the FIXTURES.md schema",
            "warm_up": "perfbench.Main.WarmUpKeys (agg_pricing_summary, text_token_topk) "
                       f"on a separate sf{run.CONFIG['warm_corpus_sf']} corpus",
            "passes": "a cold pass, then two warm passes; a traced run alternates its "
                      "warm passes untraced, traced, untraced",
            "ticks": run.CONFIG["ticks"], "run_seconds": BENCH["run_seconds"]}
        traced_summary, traced = one(name, first_a, 1)
        rec = json.load(open(traced_summary["results_file"]))["record"]
        everything = runs_a + runs_b
        out["workloads"][name] = {
            "why": w["why"],
            "keys": sorted(run.CONFIG["workloads"][name]["keys"]),
            "set_a": set_a, "set_b": set_b,
            "agreement": agreement(set_a, set_b),
            "build_once_derived": sorted({k for r in everything
                                          for k in r[0]["build_once_derived"]}),
            "warm_builders": sorted({k for r in everything for k in r[0]["warm_builders"]}),
            "traced": {"seed": first_a,
                       "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
                       "warm_pass_s_by_pass": {
                           f"{p['pass']}{' traced' if p['traced'] else ''}":
                           run.pass_time(rec["queries"], p["pass"]) for p in rec["passes"][1:]}},
        }
    if os.path.exists(OUT):
        out["checks"] = json.load(open(OUT)).get("checks", {})
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for name in names:
        for metric, g in out["workloads"][name]["agreement"].items():
            print(f"{name} {metric}: gap {g['gap']:+.3f} bound {g['bound']} "
                  f"{'ok' if g['within_bound'] else 'NOT WITHIN BOUND'}", file=sys.stderr)


if __name__ == "__main__":
    main()
