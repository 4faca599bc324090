#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Run from the root of a checkout of the repository:

  python3 perfbench/run.py --workload report_suite --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py compare BEFORE.jsonl AFTER.jsonl

A run builds the harness (perfbench/harness, which compiles graft from
this checkout's sources) when its sources changed, generates the seeded
inputs, runs the workload in one JVM as a single closed-loop client,
checks every output, and prints each metric with its unit, the resolved
session settings, each pass's time, the host's CPU steal while the JVM
ran, and the verdict. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the run records
spans and reports the per-layer ones. The harness's raw result (every
op's times) and log are kept under .bench_build/perfbench/results/.

`compare` reads two files of such result lines (one run per line, each
tagged with its workload as `"workload"` or given as `name<TAB>json`)
and reports, per workload and metric, each side's median and quartiles
and whether the medians agree within the bounds in BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
TRACES = os.path.join(BUILD, "traces")
RESULTS = os.path.join(BUILD, "results")
CORES = 4
SCALE = 0.1  # over the sf0.1 row counts: sf0.01-sized tables
JVM_TIMEOUT = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# --seconds buys ceil(seconds / this) warm passes, so every run of a
# workload does the same work and its makespan compares across runs.
# Not measured pass times: on 4 cores report_suite's warm pass takes
# ~5 s and index_lifecycle's round ~12 s; 10 s buy six and two.
PASS_SECONDS = {"report_suite": 1.7, "corpus_curation": 10.0, "index_lifecycle": 5.0}
# The share of the warm passes that is warm-up, in the makespan but not
# in the latency metrics. report_suite's pass of ~20 short reads is
# still getting faster in its second and third warm passes, while the
# JIT compiles the planner and the operators (C2 is busy through the
# whole run); the other workloads' reads are long and few, and every
# warm pass is measured.
WARMUP_SHARE = {"report_suite": 0.5, "corpus_curation": 0.0, "index_lifecycle": 0.0}
WORKLOADS = list(PASS_SECONDS)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*.scala"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def build() -> str:
    """Compile graft and the harness if their sources changed; return the classpath."""
    files = source_files()
    if not any(f.endswith(".scala") and "/src/main/" in f and "/perfbench/" not in f for f in files):
        raise SystemExit("perfbench: no graft sources under src/main/scala; "
                         "run from the root of a full checkout")
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building graft and the harness with sbt")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: sbt build failed ({r.returncode})")
    log(f"built in {time.time() - t:.1f} s")
    shutil.copy(os.path.join(HARNESS, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return open(cp_file).read().strip()


def cpu_times():
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return xs[7], sum(xs)


def launch(cp, args, work, timeout):
    """Run the harness JVM to completion; return (process start epoch, result dict)."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graft.perfbench.Harness"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    out = f"{work}/result.json"
    with open(f"{work}/jvm.log", "w") as logf:
        t0 = time.time()
        p = subprocess.Popen(cmd + ["--out", out], stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out) as f:
        return t0, json.load(f)


def run(a) -> int:
    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        rows = gen.generate(data, a.seed, SCALE)
        if a.workload == "index_lifecycle":
            gen.lifecycle(data, a.seed)
        warm = max(1, math.ceil(a.seconds / PASS_SECONDS[a.workload]))
        measured_from = int(warm * WARMUP_SHARE[a.workload]) + 1
        args = ["--workload", a.workload, "--data", data, "--work", work,
                "--warm-passes", str(warm), "--trace", str(a.trace), "--seed", str(a.seed),
                "--cores", str(CORES)]
        st0 = cpu_times()
        t0, res = launch(cp, args, work, JVM_TIMEOUT)
        t_jvm = time.time()
        st1 = cpu_times()
        # the share of CPU time the hypervisor gave to other machines while
        # the JVM ran: timings of a run with a high share read slow
        steal = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
        log(f"harness JVM ran {t_jvm - t0:.1f} s; host steal {steal:.1%}")
        os.makedirs(RESULTS, exist_ok=True)
        for f in ("result.json", "jvm.log"):  # kept for inspection
            shutil.copy(os.path.join(work, f), os.path.join(
                RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}-{f}"))
        setup_s = res["setup"]["ready_epoch_s"] - t0  # process start to a ready session
        facts = res["facts"]
        out = os.path.join(work, "out")
        if a.workload == "index_lifecycle":
            bad = check.lifecycle(data, facts)
        else:
            bad = {**check.catalog(data, out, facts["csv_cache"]), **check.recall(out, facts["recall"])}
            for n in facts["unchecked"]:
                bad[n] = "no oracle and no recall gate"
        log(f"outputs checked in {time.time() - t_jvm:.1f} s")
        wrong = set(bad)  # op names, or name#id for lifecycle reads
        failed = sum(1 for o in res["ops"] if not o["ok"] or o["name"] in wrong
                     or f"{o['name']}#{o['id']}" in wrong)
        attempted = len(res["ops"])
        if a.trace:
            m, trace = metrics.per_layer(res)
            detail = {}
            os.makedirs(TRACES, exist_ok=True)
            path = os.path.join(TRACES, f"{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump(trace, f)
            log(f"spans and per-op layer components written to {os.path.relpath(path, ROOT)}")
        else:
            m, detail = metrics.end_to_end(res, setup_s, measured_from)
        print(f"workload {a.workload} seed {a.seed} scale {SCALE} cores {CORES} "
              f"passes {res['passes']} (1 cold, {measured_from - 1} warm-up, "
              f"{res['passes'] - measured_from} measured) rows {json.dumps(rows)}")
        print(f"host steal {steal:.1%} of CPU time while the harness ran")
        print("session " + " ".join(f"{k}={v}" for k, v in sorted(res["conf"].items())))
        for k in sorted(m):
            extra = ""
            if k.endswith("_tail_s"):
                d = detail[k[:-2]]
                extra = f"  (p{d['percentile']:.1f} of {d['samples']} samples)"
            print(f"{k} {m[k]:.6g} {metrics.unit(k)}{extra}")
        for p in range(res["passes"]):
            ops = [o for o in res["ops"] if o["pass"] == p]
            reads = [o["t1"] - o["t0"] for o in ops if o["kind"] == "read"]
            print(f"pass {p}: {max(o['t1'] for o in ops) - min(o['t0'] for o in ops):.3f} s, "
                  f"{len(ops)} ops, read median {metrics.median(reads):.4f} s")
        for o in res["ops"]:
            if not o["ok"]:
                print(f"FAILED {o['name']} pass {o['pass']}: {o['err']}")
        for k, why in sorted(bad.items()):
            print(f"WRONG {k}: {why}")
        verdict = failed == 0
        print(f"verdict {'correct' if verdict else 'WRONG'}: {failed} of {attempted} ops failed or wrong")
        print(json.dumps({"correct": verdict, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": metrics.unit(k)} for k, v in m.items()}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def load_runs(path):
    """{workload: {metric: [values]}} from one result line per run, each
    line `workload<TAB>json` or a JSON object carrying "workload"."""
    runs = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            if "\t" in line:
                w, js = line.split("\t", 1)
                r = json.loads(js)
            else:
                r = json.loads(line)
                w = r["workload"]
            for k, v in r["metrics"].items():
                runs.setdefault(w, {}).setdefault(k, []).append(v["value"])
    return runs


def compare(a_path, b_path) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    a, b = load_runs(a_path), load_runs(b_path)
    ok = True
    for w in sorted(set(a) | set(b)):
        for k in sorted(set(a.get(w, {})) | set(b.get(w, {}))):
            xa, xb = a.get(w, {}).get(k, []), b.get(w, {}).get(k, [])
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            line = (f"{w:16} {k:26} A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(xa)}  "
                    f"B {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(xb)}")
            if k in bounds:
                bound, better = bounds[k]
                worse = (qb[1] - qa[1]) if better == "lower" else (qa[1] - qb[1])
                rel = worse / qa[1] if qa[1] else 0.0
                spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
                agree = rel <= bound
                ok &= agree
                line += f"  B worse by {rel:+.1%} (bound {bound:.0%}, A spread {spread:.1%}) " \
                        f"{'agree' if agree else 'DISAGREE'}"
            print(line)
    print("sets agree within bounds" if ok else "sets DISAGREE")
    return 0 if ok else 1


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            raise SystemExit(__doc__)
        return compare(sys.argv[2], sys.argv[3])
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(p.parse_args())


if __name__ == "__main__":
    sys.exit(main())
