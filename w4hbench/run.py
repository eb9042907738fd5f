#!/usr/bin/env python3
"""Benchmark of graft's W4hJob.run (the w4h ETL job), end to end.

    python3 w4hbench/run.py --workload cycle|backfill|dense --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first call builds the
library and the benchmark from source with sbt (offline, from the
local dependency cache) and caches the runtime classpath under
.bench_build/w4hbench, keyed by a digest of every source and build
file; later calls start the JVM directly. The benchmark writes its
inputs and outputs under .bench_build/w4hbench/work and removes them
when it ends. The last line of stdout is the result JSON; without a
graft source tree next to this directory it exits with code 2 and
prints no result.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "w4hbench")
DEADLINE_S = 170
BUILD_DEADLINE_S = 700
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
    # the thermal chain's whole-stage code is one huge method
    "-XX:-DontCompileHugeMethods",
    "-Dspark.ui.enabled=false", "-Dspark.sql.codegen.cache.maxEntries=1000",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[w4hbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    stamp = os.path.join(OUT, f"classpath-{sources_digest()}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    log("building graft and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_DEADLINE_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    marker = os.path.join(HERE, "target")
    lines = [l for l in (out or "").splitlines() if l.startswith(marker)]
    if code != 0 or not lines:
        sys.stderr.write(out or "sbt timed out\n")
        log("build failed")
        sys.exit(3)
    os.makedirs(OUT, exist_ok=True)
    for old in os.listdir(OUT):
        if old.startswith("classpath-"):
            os.remove(os.path.join(OUT, old))
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cycle", "backfill", "dense"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "pipeline", "W4hJob.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            log(f"no graft source tree here ({f} is missing)")
            sys.exit(2)
    cp = classpath()

    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-cp", cp, "graft.bench.W4hBench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", os.path.join(work, "bench")]
    t0 = time.time()
    try:
        code, out = run_group(cmd, DEADLINE_S, cwd=work, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"timed out after {time.time() - t0:.0f} s")
        sys.exit(4)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        log(f"benchmark exited with {code}")
        sys.exit(5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        sys.exit(6)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
