#!/usr/bin/env python3
"""shardpackspark benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload keyed_mixed --seed 1 --seconds 15 --trace 0

builds the program and the harness from source (sbt, once per checkout),
runs one workload in a fresh JVM on local[nproc/2], checks its outputs and
prints one JSON object as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The line before it holds the
workload's own figures ("detail"). Other modes:

    --steady K          run the workload K times in fresh processes (seeds
                        seed..seed+K-1) and print median and quartiles of
                        every end-to-end metric with its spread
    --selftest          unit tests of the statistics helpers, a same-seed
                        generator check and a BENCHMARK.json consistency check
    --capture-expected  rewrite expected/curation.json from the current program
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CP_FILE = os.path.join(HERE, "target", "perfbench.classpath")
EXPECTED = os.path.join(HERE, "expected", "curation.json")
DATA = os.path.join(HERE, "data", "sf0.01")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("keyed_mixed", "curation_queries")
# Every run must end within 180 s; the build gets its own allowance.
RUN_DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 600.0
JVM_HEAP = "3g"
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ───────────────────────────── statistics ─────────────────────────────


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs):
    """The highest percentile that still has at least ten samples beyond it.

    Returns (value, percentile, n). With sorted samples s[0..n-1], the value
    s[n-11] has exactly ten samples above it, so it sits at percentile
    100*(n-10)/n. When that falls below the median (fewer than 21 samples),
    no tail is measurable: the median is returned with percentile 50, and n
    tells the reader why.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    pct = 100.0 * (n - 10) / n
    if pct <= 50.0:
        return median(s), 50.0, n
    return float(s[n - 11]), pct, n


def spread(xs):
    """(median, q1, q3, (q3 - q1) / median), quartiles as statistics.quantiles gives them."""
    med = median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


# ─────────────────────────────── build ───────────────────────────────


def check_layout(capturing=False):
    """The benchmark needs the program's sources beside it."""
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join(HERE, "build.sbt"), SPEC, DATA] + ([] if capturing else [EXPECTED])
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        die("missing " + ", ".join(os.path.relpath(p, ROOT) for p in missing))


def newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def classpath():
    """Compile with sbt when the sources are newer than the last build."""
    if os.path.exists(CP_FILE) and os.path.getmtime(CP_FILE) >= newest_source():
        with open(CP_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def cores():
    """Spark task threads: half the cores this process may use.

    The other half is left to the driver thread, the JIT compiler and the GC,
    and to whatever else shares the host. With one task thread per core, one
    core taken away for a moment stalls the slowest task of every stage, and
    on a shared 4-core host the same code then measured up to 2x apart.
    """
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, n // 2)


def java(cp, main, args, deadline, log):
    """Run a JVM main; kill its whole process group at the deadline."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap, and few GC threads for the reason cores() gives
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}", "-cp", cp, main] + args
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True, cwd=WORK, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{main} did not finish in time (log: {os.path.relpath(log, ROOT)})", 1)
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(ln for ln in f if " INFO " not in ln)[-4000:])
        die(f"{main} exited with {p.returncode}", 1)
    return out


# ─────────────────────────────── a run ───────────────────────────────


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def run_jvm(args, deadline, cp, capture=False):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    jargs = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--work", run_dir, "--data", DATA, "--cores", str(cores()),
             "--expected", EXPECTED, "--capture", "1" if capture else "0",
             "--trace-out", os.path.join(traces, f"{args.workload}-{args.seed}.json")]
    try:
        out = java(cp, "perfbench.Main", jargs, deadline,
                   os.path.join(WORK, f"{args.workload}.log"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    raw = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RAW ")]
    if not raw:
        die("the harness printed no result", 1)
    return json.loads(raw[-1].split(" ", 1)[1])


def primary_ops(raw):
    """Latencies of the workload's primary op kind (every op if it has none)."""
    kind = raw.get("primary")
    return [o["ms"] for o in raw["ops"] if kind is None or o["kind"] == kind]


def end_to_end(raw):
    ops = primary_ops(raw)
    return {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median(raw["pass_s"]),
        "op_p50_ms": median(ops),
        "op_tail_ms": tail(ops)[0],
    }


def detail(raw):
    """The workload's own figures (not bounded; printed for people)."""
    d = dict(raw["detail"])
    _, pct, n = tail(primary_ops(raw))
    d.update({"cold_s": raw["cold_s"], "op_tail_pct": pct, "op_n": n,
              "passes": len(raw["pass_s"]),
              "error_rate": raw["failed"] / raw["attempted"]})
    for kind in ("lookup", "range", "upsert"):
        xs = d.pop(f"{kind}_ms", None)
        if xs:
            d[f"{kind}_p50_ms"] = median(xs)
            if kind == "lookup":
                d["lookup_tail_ms"], d["lookup_tail_pct"], d["lookup_n"] = tail(xs)
    if raw["workload"] == "curation_queries":
        d["curation_warm_s"] = median(raw["pass_s"])
    return d


def per_layer(raw):
    m = dict(raw["layers"])
    if raw["pass_s"] and raw["traced_pass_s"]:
        m["trace.overhead_pct"] = 100.0 * (median(raw["traced_pass_s"]) / median(raw["pass_s"]) - 1)
    return m


def run_once(args):
    deadline = time.monotonic() + RUN_DEADLINE_S
    check_layout()
    spec = load_spec()
    first_build = not os.path.exists(CP_FILE)
    cp = classpath()
    if first_build:  # the first run in a checkout may spend its time building
        deadline = time.monotonic() + RUN_DEADLINE_S
    raw = run_jvm(args, deadline, cp)
    if args.trace:
        have = per_layer(raw)
        unit = {m["name"]: m["unit"] for m in spec["per_layer"]}
        # a layer the workload does not call reads 0
        metrics = {k: {"value": float(have.get(k, 0.0)), "unit": u} for k, u in unit.items()}
    else:
        have = end_to_end(raw)
        metrics = {m["name"]: {"value": have[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"detail": detail(raw), "errors": raw["errors"]}))
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


# ─────────────────────────────── modes ───────────────────────────────


def steady(args):
    """Run the workload k times in fresh processes; print each metric's spread."""
    spec = load_spec()
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    vals = {k: [] for k in bound}
    bad = 0
    for i in range(args.steady):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            die(f"run {i} exited with {p.returncode}", 1)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        bad += res["failed"]
        for k in vals:
            vals[k].append(res["metrics"][k]["value"])
        print(json.dumps({"seed": args.seed + i, **{k: v[-1] for k, v in vals.items()}}), flush=True)
    summary = {}
    for k, xs in vals.items():
        med, q1, q3, sp = spread(xs)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bound[k],
                      "within_third": sp < bound[k] / 3}
    print(json.dumps({"workload": args.workload, "runs": args.steady, "failed": bad,
                      "metrics": summary}))


def selftest(args):
    import unittest
    sys.path.insert(0, HERE)
    suite = unittest.defaultTestLoader.loadTestsFromName("test_run")
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    check_layout()
    cp = classpath()
    deadline = time.monotonic() + RUN_DEADLINE_S
    gen = [java(cp, "perfbench.GenCheck", ["1", "2"], deadline,
                os.path.join(WORK, "gencheck.log")).split() for _ in range(2)]
    same = gen[0] == gen[1]
    distinct = gen[0][1] != gen[0][3]
    print(f"generator: same seed, same bytes across processes: {same}; "
          f"seeds 1 and 2 differ: {distinct}")
    if not (ok and same and distinct):
        sys.exit(1)


def capture(args):
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    check_layout(capturing=True)
    cp = classpath()
    args.workload, args.trace = "curation_queries", 0
    raw = run_jvm(args, time.monotonic() + RUN_DEADLINE_S, cp, capture=True)
    print(f"wrote {os.path.relpath(EXPECTED, ROOT)} ({raw['attempted']} query runs)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--capture-expected", action="store_true")
    args = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    if args.selftest:
        selftest(args)
    elif args.capture_expected:
        capture(args)
    elif not args.workload:
        ap.error("--workload is required")
    elif args.steady:
        steady(args)
    else:
        run_once(args)


if __name__ == "__main__":
    main()
