#!/usr/bin/env python3
"""CDC pipeline benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository's
main sources together with the benchmark harness (sbt, offline) and
caches the classpath under `.bench_build/`; later runs reuse it while
the sources are unchanged. The harness runs in one JVM and prints its
result; this script forwards the metrics that BENCHMARK.json names for
the chosen mode as the last line of standard output.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# Runs on request but is not in BENCHMARK.json: its latencies spread
# beyond the bounds on a shared host (see README.md).
UNGATED = ["paced_trickle"]

# Spark on JDK 17 needs these outside spark-submit (the root build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build once per source state; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the repository's {need} is missing next to the benchmark")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("hash") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building (first run of this source state)", file=sys.stderr)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp}, fh)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]] + UNGATED:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("harness printed no result")
    res = json.loads(lines[-1])
    if not res["correct"]:
        # a run that fails the correctness gate reports no timings
        res["metrics"] = {m["name"]: {"value": None, "unit": m["unit"]} for m in wanted}
        print(json.dumps(res))
        fail(f"correctness gate failed: {res['failed']} of {res['attempted']} events")
    got = res["metrics"]
    missing = [m["name"] for m in wanted if got.get(m["name"], {}).get("value") is None]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    wrong = [m["name"] for m in wanted if got[m["name"]]["unit"] != m["unit"]]
    if wrong:
        fail(f"units differ from BENCHMARK.json: {', '.join(wrong)}")
    res["metrics"] = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]}
                      for m in wanted}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
