#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload composite --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (offline) and caches the classpath under .bench_build/,
keyed by a hash of every source and build file. Each run then

  1. writes the workload's inputs for the seed in a separate JVM (unless
     the manifest shows they exist), runs the checkers' self-tests, and
     verifies the inputs against the manifest's checksums;
  2. records /proc/loadavg and CPU steal time;
  3. starts one fresh JVM (fixed heap and collector, `java -cp`, no sbt)
     that sets up, warms up, runs the timed phase and checks every output;
  4. records load and steal again and prints them on stderr, then prints
     {"correct", "attempted", "failed", "metrics"} on stdout.

Exits non-zero without a result when the build, the inputs or the run fail.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("composite", "tiles", "dedup")
RUN_LIMIT_S = 170
HEAP = "3g"
# A fixed young generation for the measured JVM: collections come at a rate
# set by the program's allocation, not by G1's pause-time sizing, so the
# largest occupancy after a collection (heap_peak_mb) is sampled alike in
# every run.
YOUNG = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark once per source state."""
    stamp = os.path.join(BUILD, "build.json")
    want = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("hash") == want:
            return got["classpath"], want[:16]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    sys.stderr.write(proc.stderr[-4000:])
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    lines = [l.strip() for l in proc.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"hash": want, "classpath": lines[-1]}, f)
    return lines[-1], want[:16]


def verify_manifest(workload, seed, stamp, fixtures):
    with open(os.path.join(fixtures, "manifest.json")) as f:
        m = json.load(f)
    if (m["workload"], m["seed"], m["build"]) != (workload, seed, stamp):
        fail(f"stale inputs in {fixtures}: manifest is for {m['workload']} seed {m['seed']}"
             f" build {m['build']}")
    for e in m["files"]:
        with open(os.path.join(fixtures, e["path"]), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != e["sha256"]:
                fail(f"stale inputs: {e['path']} does not match its manifest checksum")


def machine_state():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu)}


def java(classpath, args, heap, timeout, log, young=None):
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-Dspark.ui.enabled=false"]
    if young:
        cmd.append(f"-Xmn{young}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are not here; run from a repository checkout")
    classpath, stamp = build()
    start = time.monotonic()
    for d in ("tmp", "out", "scratch", "fixtures"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    fixtures = os.path.join(BUILD, "fixtures", a.workload)
    out = os.path.join(BUILD, "out", a.workload)
    scratch = os.path.join(BUILD, "scratch", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--build", stamp,
              "--fixtures", fixtures]
    log = os.path.join(BUILD, f"prepare-{a.workload}.log")
    t_prepare = time.monotonic()
    if java(classpath, ["prepare"] + common, "1g", 120, log) != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("input generation or a checker self-test failed")
    verify_manifest(a.workload, a.seed, stamp, fixtures)

    t_run = time.monotonic()
    before = machine_state()
    log = os.path.join(out, "jvm.log")
    code = java(classpath, ["run"] + common + [
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
        "--scratch", scratch],
        HEAP, max(10, RUN_LIMIT_S - (time.monotonic() - start)), log, YOUNG)
    after = machine_state()
    shutil.rmtree(scratch, ignore_errors=True)
    dt = max(1, after["total"] - before["total"])
    print(json.dumps({"loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
                      "steal_share": (after["steal"] - before["steal"]) / dt,
                      "prepare_s": t_run - t_prepare, "run_s": time.monotonic() - t_run}),
          file=sys.stderr)
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.isfile(result):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"measured run failed (exit {code})")
    with open(result) as f:
        print(f.read().strip())


if __name__ == "__main__":
    main()
