#!/usr/bin/env python3
"""Benchmark entry point for the graft Northwind warehouse library.

    python3 perfbench/run.py --workload nw_build --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The first run builds the library
and the benchmark from source with sbt (offline) and caches the classpath
under .bench_build/; later runs rebuild only when a source file changed.
Each run starts one fresh JVM for one workload, and prints as its last
stdout line one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).

The workloads read the read-only testdata star schema from $GRAFT_TESTDATA
(default: ~/testdata), which holds one directory per scale (sf0.01, sf0.1).

Extra option: --record FILE writes nw_build's table digests to FILE instead
of checking them against expected/nw_build_sf0.01.tsv.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("nw_build", "table_dml")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "4g"
# what spark-submit would add on JDK 17 (the library's build.sbt passes the same)
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base, rel in ((ROOT, "build.sbt"), (ROOT, "project/build.properties"),
                      (BENCH, "build.sbt"), (BENCH, "project/build.properties")):
        out.append(os.path.join(base, rel))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, "", "timed out after %d s" % timeout
    return p.returncode, out, err


def classpath():
    files = sources()
    missing = [f for f in files[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources not found next to the benchmark (%s)" % ", ".join(missing or ["src"]))
    want = stamp(files)
    cp_file, stamp_file = os.path.join(STATE, "classpath"), os.path.join(STATE, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as f2:
            same, cp = fh.read() == want, f2.read()
        # the compiled classes live in the sbt target dirs; rebuild if they went
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc, out, err = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], BENCH, env, BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or os.path.join("perfbench", "target") not in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed (rc=%s)" % rc)
    print("perfbench: built in %.0f s" % (time.time() - t0))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    data = os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
    if not os.path.isdir(data):
        fail("testdata not found at %s (set GRAFT_TESTDATA)" % data)
    cp = classpath()
    cpus = str(len(os.sched_getaffinity(0)))
    work = os.path.join(STATE, "work", "%s-%d" % (a.workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    traces = os.path.join(STATE, "traces")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
        "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--data", data, "--cpus", cpus,
        "--expected", os.path.join(BENCH, "expected", "nw_build_sf0.01.tsv"),
        "--spans", os.path.join(traces, "%s-seed%d.jsonl" % (a.workload, a.seed))]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    try:
        rc, out, err = run_group(cmd, ROOT, dict(os.environ), JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result, traced_e2e = None, None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_TRACED_E2E "):
            traced_e2e = json.loads(line[len("PERFBENCH_TRACED_E2E "):])
        else:
            print(line)
    if rc != 0 or result is None:
        sys.stderr.write(err[-6000:])
        fail("%s run failed (rc=%s)" % (a.workload, rc))
    last = os.path.join(STATE, "last_untraced_%s.json" % a.workload)
    if a.trace == 0:
        with open(last, "w") as fh:
            json.dump({k: v["value"] for k, v in result["metrics"].items()}, fh)
    elif traced_e2e is not None and os.path.isfile(last):
        # tracing overhead: this traced run's end-to-end numbers minus the
        # last untraced run's
        with open(last) as fh:
            base = json.load(fh)
        print("tracing overhead (traced - untraced): " + ", ".join(
            "%s %+.4g" % (k, traced_e2e[k] - base[k]) for k in sorted(base) if k in traced_e2e))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
