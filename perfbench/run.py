#!/usr/bin/env python3
"""Layered benchmark of the extraction engine.

Builds the program and the harness from source (offline sbt), then runs one
workload in one JVM on local[nproc] and prints, as the last line of standard
output, one JSON object: {"correct", "attempted", "failed", "metrics"}.

  python3 perfbench/run.py --workload extract-mixed --seed 1 --seconds 15 --trace 0
  python3 perfbench/run.py --smoke          # every workload, tiny, both modes
  python3 perfbench/run.py --record         # re-record query digests (see README)

Run it from the repository root. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 they are the per-layer
metrics, and spans plus workload-specific layer numbers are written to
.bench_build/run/<workload>/{spans,layers}.json.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH_DIR = os.path.join(ROOT, "perfbench")
JVM_LIMIT_S = 170
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness unless the stamp matches; returns the
    runtime classpath."""
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and harness (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx2g",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        env.get("SBT_OPTS", "")]).strip()
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/package",
             "export bench/Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed with code {proc.returncode}", 1)
    cps = [l for l in proc.stdout.splitlines()
           if ":" in l and l.strip().endswith(".jar") and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath", 1)
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def heap_mb():
    """A quarter of physical memory, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return max(1024, min(4096, kb // 4096))
    except (OSError, AttributeError):
        return 2048


def host_probe(nproc, seconds):
    """Aggregate md5 Mops/s from tools/host_probe.py with nproc workers."""
    script = os.path.join(ROOT, "tools", "host_probe.py")
    if not os.path.exists(script):
        return float("nan")
    out = subprocess.run([sys.executable, script, str(nproc), str(seconds)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=60).stdout
    m = re.search(r"aggregate=([0-9.]+)M", out)
    return float(m.group(1)) if m else float("nan")


def run_jvm(cp, workload, seed, seconds, trace, scale, record=None):
    run_dir = os.path.join(BUILD, "run", workload)
    os.makedirs(run_dir, exist_ok=True)
    cmd = ["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.LayeredBench",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", os.path.join(run_dir, "work"),
            "--launch-ms", str(int(time.time() * 1000)), "--scale", str(scale)]
    if record:
        cmd += ["--record", record]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload} did not finish within {JVM_LIMIT_S} s", 1)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    if proc.returncode != 0:
        fail(f"{workload} JVM exited with code {proc.returncode}", 1)
    results = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
    if record:
        return None
    if not results:
        fail(f"{workload} printed no result", 1)
    return json.loads(results[-1])


def expected_metrics(bench, trace):
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in bench[key]}


def validate(result, bench, trace):
    """Names and units printed must be exactly those BENCHMARK.json declares."""
    want = expected_metrics(bench, trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    problems = []
    for k, u in want.items():
        if k not in got:
            problems.append(f"missing metric {k}")
        elif got[k] != u:
            problems.append(f"metric {k} has unit {got[k]}, declared {u}")
    problems += [f"undeclared metric {k}" for k in got if k not in want]
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]:
            problems.append(f"metric {k} has no numeric value")
    return problems


def one_run(bench, cp, workload, seed, seconds, trace, scale):
    nproc = os.cpu_count() or 1
    if trace:
        before = host_probe(nproc, 2)
    result = run_jvm(cp, workload, seed, seconds, trace, scale)
    if trace:
        after = host_probe(nproc, 2)
        result["metrics"]["host.md5_mops_before"] = {"value": before, "unit": "Mops/s"}
        result["metrics"]["host.md5_mops_after"] = {"value": after, "unit": "Mops/s"}
    for k, v in sorted(result["metrics"].items()):
        log(f"  {k:32s} {v['value']:>14.6g} {v['unit']}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 = the benchmark's sizes)")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at a tiny size in both modes and "
                         "assert every declared metric is printed with its unit")
    ap.add_argument("--record", action="store_true",
                    help="re-record the query digests over the bundled tables")
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft", "tools/host_probe.py",
                 "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    cp = build()

    if a.record:
        run_jvm(cp, "record", 0, 1, False, 1.0,
                record=os.path.join(BENCH_DIR, "data", "expected_sf0.001.json"))
        log("recorded perfbench/data/expected_sf0.001.json")
        return
    if a.smoke:
        bad = []
        for w in workloads:
            for trace in (0, 1):
                r = one_run(bench, cp, w, a.seed, 1, trace, 0.1)
                bad += [f"{w} trace={trace}: {p}" for p in validate(r, bench, trace)]
                if not r["correct"]:
                    bad.append(f"{w} trace={trace}: failed {r['failed']} of {r['attempted']}")
        for b in bad:
            log(b)
        log("smoke ok" if not bad else f"smoke failed: {len(bad)} problems")
        print(json.dumps({"smoke_ok": not bad, "problems": bad}))
        sys.exit(0 if not bad else 1)

    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; choose from {workloads}")
    result = one_run(bench, cp, a.workload, a.seed, a.seconds, a.trace == 1, a.scale)
    problems = validate(result, bench, a.trace == 1)
    if problems:
        for p in problems:
            log(p)
        fail("result does not match BENCHMARK.json", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
