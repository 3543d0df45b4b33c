#!/usr/bin/env python3
"""Cold/warm pass benchmark of the declared queries and the ingest loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run:
  1. builds the engine and the harness with sbt when their sources changed
     (the perfbench sbt build compiles the repository root as a dependency);
  2. generates the fixed corpus and this seed's ingest artifacts;
  3. starts one JVM with the session settings of graft.Bench
     (local[nproc], shuffle partitions = nproc, UI off) and times it from
     process start to the end of the fixed warm-up (set-up);
  4. runs a cold pass and two warm passes over the workload's keys in a
     seed-permuted order, with the ingest ticks spread over the passes;
  5. checks every output digest against the committed reference for the
     corpus content stamp (perfbench/reference/<stamp>.tsv), re-running the
     DuckDB oracle (tools/compare.py) for any key whose digest differs, and
     counts a failure only if that fails;
  6. prints a report, then one JSON line with the metrics.

The work of a run is fixed, so every run of a workload is comparable;
--seconds is accepted for the command contract and does not change it.

With --trace 1 a listener records per-layer counts and spans (written to
.bench_build/perfbench/traces/), and the metrics are the per-layer ones.
The traced run's warm passes alternate untraced, traced, untraced.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep the benchmark's directory free of caches
import corpus  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
MB = 1024 * 1024


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        inputs += [os.path.join(top, f) for f in sorted(os.listdir(top))
                   if f.endswith((".sbt", ".properties", ".scala"))]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled harness, rebuilt when any source changed."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---- JVM -------------------------------------------------------------------

def steal_jiffies():
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def nproc():
    return len(os.sched_getaffinity(0))


def jvm_command(classpath, run_dir, args, heap):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([java] + opens +
            [f"-Xmx{heap}", f"-Xms{heap}",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dderby.stream.error.file={run_dir}/derby.log",
             "-cp", classpath, "perfbench.Main"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def run_jvm(classpath, run_dir, args, limit_s, heap=HEAP):
    """Run one benchmark JVM to completion, killing it after limit_s; return
    (set-up seconds from process start to its `ready` line, the run record)."""
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    os.makedirs(f"{run_dir}/local", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local")
    timed_out = []

    def kill():
        timed_out.append(True)
        proc.kill()

    with open(f"{run_dir}/jvm.log", "a") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(jvm_command(classpath, run_dir, args, heap),
                                cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True)
    watchdog = threading.Timer(limit_s, kill)
    watchdog.start()
    setup_s = None
    try:
        for line in proc.stdout:
            if setup_s is None and line.strip() == "ready":
                setup_s = time.perf_counter() - t0
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if timed_out:
        fail(f"run exceeded its {limit_s} s limit")
    if proc.returncode != 0 or setup_s is None:
        tail = open(f"{run_dir}/jvm.log").read()[-3000:]
        fail(f"benchmark JVM failed:\n{tail}")
    return setup_s, json.load(open(args["out"]))


# ---- correctness -------------------------------------------------------------

def load_reference(stamp):
    """Reference digests for a corpus stamp. A key with no line here goes
    through the oracle re-check on every run."""
    path = os.path.join(HERE, "reference", f"{stamp}.tsv")
    if not os.path.exists(path):
        return {}
    return dict(line.rstrip("\n").split("\t", 1) for line in open(path) if "\t" in line)


def oracle_recheck(corpus_dir, dump_dir):
    """Keys whose dumped output passes the DuckDB oracle, per pass dir."""
    passed = {}
    if not os.path.isdir(dump_dir):
        return passed
    for pdir in sorted(os.listdir(dump_dir)):
        d = os.path.join(dump_dir, pdir)
        sqls = {f[:-4]: open(os.path.join(d, f)).read()
                for f in os.listdir(d) if f.endswith(".sql")}
        with open(os.path.join(d, "oracle_sql.json"), "w") as f:
            json.dump(sqls, f)
        if not sqls:
            continue
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "compare.py"),
             corpus_dir, d] + sorted(sqls), capture_output=True, text=True,
            timeout=300)
        ok = {line.split()[1] for line in proc.stdout.splitlines()
              if line.startswith("PASS ")}
        passed[int(pdir[1:])] = ok
        for line in proc.stdout.splitlines():
            if line.startswith(("FAIL", "SKIP")):
                log(f"oracle pass {pdir[1:]}: {line}")
    return passed


# ---- metrics -----------------------------------------------------------------

def pass_time(queries, p):
    """Seconds of a pass: the successful keys only."""
    return sum(q["seconds"] for q in queries if q["pass"] == p and q["ok"])


def warm_passes(rec, traced):
    return [p["pass"] for p in rec["passes"][1:] if p["traced"] == traced]


def traced_metrics(rec, cores):
    """Per-layer metrics of the traced cold pass and the first traced warm
    pass, the ingest layer, and the tracing overhead."""
    m = {}
    passes = rec["passes"]
    chosen = [("cold", 0)] if passes[0]["traced"] else []
    chosen += [("warm", p) for p in warm_passes(rec, True)[:1]]
    for label, p in chosen:
        qs = [q for q in rec["queries"] if q["pass"] == p and q["ok"]]
        cnt = lambda ph, f: sum(q["counts"][ph][f] for q in qs)
        every = lambda f: sum(cnt(ph, f) for ph in ("construct", "plan", "exec"))
        exec_s = sum(q["exec_s"] for q in qs)
        shares = [max(q["counts"][ph]["max_task_s"] for ph in q["counts"]) /
                  every_q for q in qs
                  if (every_q := sum(q["counts"][ph]["task_run_s"] for ph in q["counts"])) > 0]
        m.update({
            f"{label}.ops.construct_s": sum(q["construct_s"] for q in qs),
            f"{label}.ops.construct_jobs": cnt("construct", "jobs"),
            f"{label}.scope.builds": sum(sum(q["builds"].values()) for q in qs),
            f"{label}.scope.resident": sum(passes[p]["resident"].values()),
            f"{label}.plan.plan_s": sum(q["plan_s"] for q in qs),
            f"{label}.exec.exec_s": exec_s,
            f"{label}.exec.jobs": every("jobs"),
            f"{label}.exec.stages": every("stages"),
            f"{label}.exec.tasks": every("tasks"),
            f"{label}.exec.slot_util": cnt("exec", "task_run_s") / (cores * exec_s),
            f"{label}.exec.max_task_share_p50": statistics.median(shares),
            f"{label}.exec.task_cpu_s": every("task_cpu_s"),
            f"{label}.exec.shuffle_write_mb": every("shuffle_write_b") / MB,
            f"{label}.exec.spill_mb": every("spill_b") / MB,
            f"{label}.exec.gc_s": passes[p]["gc_s"],
        })
    loads = [t for t in rec["ticks"] if t["artifact"] and t["ok"]]
    if loads:
        m.update({
            "sources.choose_s": statistics.median(t["choose_s"] for t in rec["ticks"]),
            "sources.load_s": statistics.median(t["load_s"] for t in loads),
            "sources.commit_s": statistics.median(t["commit_s"] for t in loads),
            "sources.load_rows_per_s": statistics.median(
                t["rows"] / t["load_s"] for t in loads),
        })
    traced, untraced = warm_passes(rec, True), warm_passes(rec, False)
    if traced and untraced:
        m["trace.overhead_warm_s"] = (
            pass_time(rec["queries"], traced[0]) -
            statistics.mean(pass_time(rec["queries"], p) for p in untraced))
    return m


def builders(rec, pass_index, skip=()):
    """Keys that added a CorpusScope entry in a pass, families in `skip` aside."""
    return sorted({q["key"] for q in rec["queries"] if q["pass"] == pass_index
                   and any(f not in skip for f in q["builds"])})


# ---- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", help="comma-separated keys in pass order "
                    "(replaces the workload's keys; for maintenance runs)")
    ap.add_argument("--inject-failures", metavar="BASE_KEY",
                    help="self-test: add a throwing key and an altered copy of BASE_KEY")
    a = ap.parse_args()
    started = time.monotonic()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    if a.workload not in CONFIG["workloads"]:
        fail(f"unknown workload {a.workload}; known: {sorted(CONFIG['workloads'])}")
    wl = CONFIG["workloads"][a.workload]

    classpath = build()
    corpus_dir = os.path.join(WORK, "corpus", f"sf{CONFIG['corpus_sf']}")
    stamp = corpus.ensure_corpus(corpus_dir, CONFIG["corpus_sf"])
    warm_dir = os.path.join(WORK, "corpus", f"sf{CONFIG['warm_corpus_sf']}")
    corpus.ensure_corpus(warm_dir, CONFIG["warm_corpus_sf"])

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    keys = a.keys.split(",") if a.keys else sorted(wl["keys"])
    if not a.keys:
        random.Random(a.seed).shuffle(keys)
    with open(f"{run_dir}/keys", "w") as f:
        f.write("\n".join(keys) + "\n")
    # cold pass first; a traced run alternates its warm passes (see Run.all)
    passes = "t,u,t,u" if a.trace else "u,u,u"
    # the ingest loop's artifacts, the same number of ticks in every pass
    n_ticks = CONFIG["ticks"]["per_pass"] * len(passes.split(","))
    ticks = corpus.write_tick_artifacts(f"{run_dir}/ingest/staging", a.seed,
                                        n_ticks, CONFIG["ticks"]["rows"])
    with open(f"{run_dir}/ingest/ticks", "w") as f:
        f.write("\n".join(f"{n} {r}" if n else "-" for n, r in ticks) + "\n")

    reference = load_reference(stamp)
    with open(f"{run_dir}/reference.tsv", "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in sorted(reference.items()))
    args = {"cores": nproc(), "warm-corpus": warm_dir, "corpus": corpus_dir,
            "keys": f"{run_dir}/keys", "passes": passes,
            "run-id": run_id, "reference": f"{run_dir}/reference.tsv",
            "dump": f"{run_dir}/dump", "ingest": f"{run_dir}/ingest",
            "out": f"{run_dir}/record.json",
            "spans": os.path.join(WORK, "traces", f"{run_id}.json")}
    if a.inject_failures:
        args["inject-failures"] = a.inject_failures
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    steal0, wall0 = steal_jiffies(), time.monotonic()
    setup_s, rec = run_jvm(classpath, run_dir, args, RUN_LIMIT_S)
    steal_share = ((steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK") /
                   (nproc() * (time.monotonic() - wall0)))

    # correctness: a digest mismatch is a failure only if the oracle agrees
    cleared = oracle_recheck(corpus_dir, f"{run_dir}/dump")
    for q in rec["queries"]:
        if q["ok"] and q.get("matches") is False:
            q["ok"] = q["key"] in cleared.get(q["pass"], set())
            if not q["ok"]:
                q["error"] = "output differs from the reference digest and the oracle"
    failures = [f"{q['key']}@pass{q['pass']}: {q['error']}"
                for q in rec["queries"] if not q["ok"]]
    failures += [f"tick{t['tick']}: {t['error']}" for t in rec["ticks"] if not t["ok"]]
    attempted = len(rec["queries"]) + len(rec["ticks"])

    warm = [pass_time(rec["queries"], p) for p in warm_passes(rec, False)]
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (pass_time(rec["queries"], 0), "s"),
        "warm_pass_s": (statistics.median(warm), "s"),
        "tick_s": (statistics.median(t["seconds"] for t in rec["ticks"]), "s"),
        "disk_written_mb": (rec["wchar_b"] / MB, "MB"),
        "heap_peak_mb": (rec["heap_peak_b"] / MB, "MB"),
    }
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "corpus": {"sf": CONFIG["corpus_sf"], "stamp": stamp},
        "settings": {"master": f"local[{rec['cores']}]",
                     "shuffle_partitions": rec["cores"], "heap": HEAP,
                     "spark": rec["spark_version"], "java": rec["java_version"]},
        "passes": passes,
        "fail_ratio": {"value": len(failures) / attempted, "unit": "ratio"},
        "failed": failures,
        # build-once keys, derived from the cold pass's CorpusScope builds
        # (the table-metadata memo aside: every first reader of a table adds one)
        "build_once_derived": builders(rec, 0, skip=("tableMeta",)),
        "warm_builders": builders(rec, 1),
        # share of the run's CPU time the host took away: context for a slow run
        "host_steal_share": steal_share,
        "elapsed_s": time.monotonic() - started,
    }
    summary.update({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()})
    if a.trace:
        metrics = traced_metrics(rec, rec["cores"])
        summary["per_layer"] = metrics
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    results = os.path.join(WORK, "results", f"{run_id}.json")
    summary["results_file"] = results
    os.makedirs(os.path.dirname(results), exist_ok=True)
    with open(results, "w") as f:
        json.dump({"summary": summary, "record": rec}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(summary, indent=1))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))


def unit_of(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("slot_util", "share_p50")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
