#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload pitr_drill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/ and
records the runtime classpath there; later calls reuse it until a source
file changes, then start `java` directly, so sbt's start-up and log
prefixes stay out of the measurement and out of stdout.

Everything the run writes stays under .bench_build/: the scratch tables
(deleted when the run ends), results/runs.jsonl with the ambient CPU probe
read before and after each run, and results/trace-*.json for traced runs.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pitr_drill", "live_tail")
BUILD_TIMEOUT_S = 840
# A run has 180 s in all. The traced run is the longest (90-100 s on a
# quiet 4-core host, up to twice that under heavy host load), and no
# timeout below 180 s covers the loaded case; so the run is kept short
# and this limit is set just under 180 s, leaving time to kill and reap
# the JVM before the run's time is up.
RUN_TIMEOUT_S = 176
# A fixed heap (-Xms = -Xmx), so the collector's sizing does not differ
# from run to run; the used heap after a collection stays near 125 MB.
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input to the build: engine and harness sources and
    the harness's build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def classpath():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building engine and harness with sbt ...", file=sys.stderr)
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(out)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"sbt build failed (exit {code}); log in {BUILD}/build.log")
    cps = [l.strip() for l in out.splitlines()
           if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    with open(os.path.join(HERE, "add-opens.txt")) as f:
        opens = [l.strip() for l in f if l.strip()]
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores),
              "--work", work,
              "--out", os.path.join(BUILD, "results"),
              "--data", os.path.join(HERE, "data"),
              "--digests", os.path.join(HERE, "query_digests.txt")])
    try:
        code, _ = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
