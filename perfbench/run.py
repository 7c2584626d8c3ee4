#!/usr/bin/env python3
"""Benchmark runner for graft: builds the benchmark, generates seeded
inputs, runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
run's full report (every metric, span and failure) is written under
.bench_build/runs/.

    python3 perfbench/run.py --selfcheck

runs two sets of ten seeded runs of every workload and prints, per
workload and end-to-end metric, each set's median and quartiles, the
quartile spread, and whether the sets agree within BENCHMARK.json's bounds.
"""
import argparse
import fcntl
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
# generated-class cache entries; above what one pass of any workload compiles
CODEGEN_CACHE = 1024
# self-check: two sets of ten runs per workload, on seeds 1-10 in each set
SELFCHECK_SETS = 2
SELFCHECK_SEEDS = range(1, 11)


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (LIB_SRC, os.path.join(ROOT, "src", "main", "resources"), os.path.join(BENCH_DIR, "src", "main"),
                os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties"),
                os.path.join(BENCH_DIR, "jvm-opens.txt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles the benchmark and the library; returns the runtime classpath."""
    if not os.path.isdir(LIB_SRC):
        sys.exit("perfbench: no library sources at src/main/scala; run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        t0 = time.time()
        log("building (sbt writeClasspath)")
        code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                              BENCH_DIR, sbt_env(), 800, merge_stderr=True)
        if code != 0:
            sys.stderr.write((out or "")[-4000:])
            sys.exit("perfbench: build failed")
        with open(os.path.join(BENCH_DIR, "target", "classpath.txt")) as f:
            cp = f.read().strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log("built in %.1f s" % (time.time() - t0))
        return cp


def run_group(cmd, cwd, env, timeout, merge_stderr=False):
    """Runs `cmd` in its own process group, capturing stdout; on timeout or
    any error the whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT if merge_stderr else None, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_opens():
    with open(os.path.join(BENCH_DIR, "jvm-opens.txt")) as f:
        return [line.strip() for line in f if line.strip()]


def run_jvm(cp, workload, data, seconds, trace, out):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            # a corpus pass compiles ~240 distinct generated classes; with
            # Spark's default cache of 100 every pass recompiled all of them
            # and ran them cold, which made pass time follow the JIT
            "-Dspark.sql.codegen.cache.maxEntries=%d" % CODEGEN_CACHE,
            "-Dspark.local.dir=" + os.path.join(BUILD, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(BUILD, "warehouse"),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
           + jvm_opens()
           + ["-cp", cp, "graftbench.Main", "--workload", workload, "--data", data,
              "--seconds", str(seconds), "--trace", str(trace), "--out", out])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    code, report = run_group(cmd, BUILD, env, RUN_TIMEOUT_S)
    if code is None:
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    sys.stdout.write(report)
    return code


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(args):
    spec = declared()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit("perfbench: unknown workload %r" % args.workload)
    cp = build()
    data, gen_s = gen.generate(args.workload, args.seed, os.path.join(BUILD, "data"))
    log("inputs %s (generated in %.2f s)" % (data, gen_s))
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, "%s-s%d-t%d.json" % (args.workload, args.seed, args.trace))
    if os.path.exists(out):
        os.remove(out)
    code = run_jvm(cp, args.workload, data, args.seconds, args.trace, out)
    if not os.path.exists(out):
        sys.exit("perfbench: the run wrote no report (exit %d)" % code)
    with open(out) as f:
        full = json.load(f)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in full["metrics"]]
    if missing:
        sys.exit("perfbench: metrics not measured: %s" % ", ".join(missing))
    result = {"correct": bool(full["correct"]) and code == 0, "attempted": int(full["attempted"]),
              "failed": int(full["failed"]),
              "metrics": {n: full["metrics"][n] for n in names}}
    print(json.dumps(result))
    return 0 if result["correct"] else 3


def selfcheck():
    spec = declared()
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    values = {}  # (set, workload, metric) -> [values]
    for s in range(SELFCHECK_SETS):
        for w in workloads:
            for seed in SELFCHECK_SEEDS:
                r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                    "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                    "--trace", "0"], stdout=subprocess.PIPE, text=True)
                line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
                res = json.loads(line) if line.startswith("{") else {}
                if r.returncode != 0 or not res.get("correct"):
                    log("set %d %s seed %d: FAILED (exit %d)" % (s + 1, w, seed, r.returncode))
                for k, m in res.get("metrics", {}).items():
                    values.setdefault((s, w, k), []).append(m["value"])
                with open(os.path.join(BUILD, "selfcheck.jsonl"), "a") as f:
                    f.write(json.dumps({"set": s + 1, "workload": w, "seed": seed, "exit": r.returncode,
                                        "result": res}) + "\n")
                log("set %d %s seed %d done" % (s + 1, w, seed))
    ok = True
    summary = []
    for w in workloads:
        for name, m in bounds.items():
            row = {"workload": w, "metric": name, "bound": m["bound"], "sets": []}
            meds = []
            for s in range(SELFCHECK_SETS):
                xs = values.get((s, w, name), [])
                if len(xs) < len(SELFCHECK_SEEDS):
                    row["sets"].append({"n": len(xs)})
                    ok = False
                    continue
                q1, _, q3 = statistics.quantiles(xs, n=4)
                med = statistics.median(xs)
                spread = (q3 - q1) / med
                meds.append(med)
                row["sets"].append({"n": len(xs), "median": med, "q1": q1, "q3": q3, "spread": spread,
                                    "spread_ok": spread <= m["bound"]})
                ok &= row["sets"][-1]["spread_ok"]
            if len(meds) == SELFCHECK_SETS:
                # the sets agree when the second median is within the bound of the first, either way
                row["second_vs_first"] = (meds[1] - meds[0]) / meds[0]
                row["agree"] = abs(row["second_vs_first"]) <= m["bound"]
                ok &= row["agree"]
            summary.append(row)
            print("%-16s %-16s %s%s" % (w, name, "  ".join(
                "med=%.4g q1=%.4g q3=%.4g spread=%.3f" % (x["median"], x["q1"], x["q3"], x["spread"])
                for x in row["sets"] if "median" in x),
                "  second_vs_first=%+.3f agree=%s" % (row["second_vs_first"], row["agree"])
                if "agree" in row else ""))
    print(json.dumps({"selfcheck_ok": ok, "rows": summary}))
    return 0 if ok else 1


def main():
    # SIGTERM unwinds like an error, so run_group's cleanup kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if args.selfcheck:
        return selfcheck()
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
