#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its metrics.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline); later runs reuse the build
under .bench_build/perfbench while the sources are unchanged. Each run
starts one fresh JVM for the workload, checks every query's result hash
and the input fingerprints against perfbench/expected/<workload>.json,
and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
--record rewrites the expected file from this run instead of checking
against it (see perfbench/README.md for how expected hashes are vetted).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("marts", "streams")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0

JVM_OPTS = [
    "-Xms4g", "-Xmx4g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stamp_of(roots):
    """Hash of the files under `roots`, so a changed source rebuilds."""
    h = hashlib.sha256()
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the run classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no program sources here ({need} is missing); run from a checkout root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = stamp_of([os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                      os.path.join(ROOT, "project", "build.properties"),
                      os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")])
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "writeClasspath"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    produced = os.path.join(HARNESS, "target", "classpath.txt")
    if rc != 0 or not os.path.exists(produced):
        die(f"build failed (exit {rc}); see {log}")
    shutil.copyfile(produced, cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def jvm(classpath, args, work, trace, deadline):
    """Run the harness in a fresh JVM; return its PERFBENCH record."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opts = JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
    if trace:
        # deep call sites let the trace tell Mat's pool-thread jobs apart
        opts.append("-Dspark.callstack.depth=1000")
    cmd = ["java"] + opts + ["-cp", classpath, "perfbench.Main"] + args + [
        str(time.time_ns()), str(cores())]
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(os.path.join(work, "jvm.out")) as f:
        recs = [l[len("PERFBENCH "):] for l in f if l.startswith("PERFBENCH ")]
    if rc != 0 or not recs:
        with open(os.path.join(work, "jvm.err")) as f:
            tail = f.read()[-3000:]
        die(f"the harness failed ({rc}):\n{tail}")
    return json.loads(recs[-1])


def cores():
    return len(os.sched_getaffinity(0))


def quantile(xs, q):
    """Quantile with linear interpolation between ranks (numpy's default)."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def hd_quantile(xs, q):
    """Harrell-Davis quantile: a Beta((n+1)q, (n+1)(1-q))-weighted mean of
    all order statistics. Unlike a single order statistic it does not jump
    from one query's latency to the next when the samples shift a little,
    which matters when the samples are a handful of distinct queries."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    lnorm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp(lnorm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    steps = 64  # Simpson's rule on each of the n slices of [0, 1]
    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        acc = pdf(lo) + pdf(lo + steps * h)
        acc += sum((4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        weights.append(acc * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def check(workload, rec):
    """Return (attempted, failed, problems) against the expected file."""
    path = os.path.join(EXPECTED, f"{workload}.json")
    with open(path) as f:
        exp = json.load(f)
    problems = []
    for t, fp in exp["fingerprints"].items():
        got = rec["fingerprints"].get(t)
        if got != fp:
            problems.append(f"input {t}: expected {fp}, got {got}")
    failed = 0
    for name, e in rec["build_errors"].items():
        failed += 1
        problems.append(f"build {name}: {e}")
    seen = set()
    for s in rec["samples"]:
        seen.add(s["name"])
        why = None
        if s["error"]:
            why = s["error"]
        elif s["hash"] != exp["hashes"].get(s["name"]):
            why = f"hash {s['hash']} != expected {exp['hashes'].get(s['name'])}"
        elif s["stream_rows"] == 0:
            why = "the stream read 0 rows (a no-op replay)"
        if why:
            failed += 1
            problems.append(f"pass {s['pass']} {s['name']}: {why}")
    missing = set(exp["hashes"]) - seen
    if missing:
        problems.append(f"queries not run: {sorted(missing)}")
    attempted = len(rec["samples"]) + len(rec["build_errors"])
    return attempted, failed, problems


def record(workload, rec):
    hashes = {}
    for s in rec["samples"]:
        if s["error"] or (s["name"] in hashes and hashes[s["name"]] != s["hash"]):
            die(f"cannot record: {s['name']} failed or is not deterministic")
        hashes[s["name"]] = s["hash"]
    os.makedirs(EXPECTED, exist_ok=True)
    with open(os.path.join(EXPECTED, f"{workload}.json"), "w") as f:
        json.dump({"fingerprints": rec["fingerprints"],
                   "hashes": dict(sorted(hashes.items()))}, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(DATA):
        die(f"input tables missing: {DATA}")
    if not a.record and not os.path.exists(os.path.join(EXPECTED, f"{a.workload}.json")):
        die(f"no expected results for {a.workload}")
    started = time.time()
    classpath = build()
    # a run that had to build gets its full time limit after the build
    deadline = time.time() + RUN_LIMIT_S - min(5.0, time.time() - started)
    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec = jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace), DATA, work],
                  work, bool(a.trace), deadline)
        if a.trace:
            shutil.copyfile(os.path.join(work, "trace.json"),
                            os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record:
        record(a.workload, rec)
    attempted, failed, problems = check(a.workload, rec)
    for p in problems[:50]:
        print(f"perfbench: {p}", file=sys.stderr)
    timed = [s for s in rec["samples"] if s["pass"] >= 1]
    samples = [s["secs"] for s in timed]
    batches = rec["batch_ms"]
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "cores": rec["cores"], "trace": bool(a.trace),
        "setup_s": rec["setup_s"], "build_s": rec["build_s"], "pass_s": rec["pass_s"],
        "samples": len(samples), "failed_frac": failed / max(1, attempted),
        "batch_p50_ms": quantile(batches, 0.5) if batches else None,
        "batch_p90_ms": quantile(batches, 0.9) if batches else None,
        "nonempty_batches": len(batches), "wall_s": time.time() - started,
        "query_s": {n: statistics.median(s["secs"] for s in timed if s["name"] == n)
                    for n in sorted({s["name"] for s in timed})},
        "build_query_s": rec["build_queries"],
    }))
    if a.trace:
        units = unit_map()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(rec["layers"].items())}
    else:
        metrics = {
            "setup_s": {"value": rec["setup_s"], "unit": "s"},
            "build_s": {"value": statistics.median(rec["build_s"][1:]), "unit": "s"},
            "pass_s": {"value": statistics.median(rec["pass_s"]), "unit": "s"},
            "query_p50_s": {"value": hd_quantile(samples, 0.5), "unit": "s"},
            "heap_peak_mb": {"value": rec["heap_peak_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_map():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}


if __name__ == "__main__":
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
