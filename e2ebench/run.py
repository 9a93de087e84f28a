#!/usr/bin/env python3
"""End-to-end benchmark of the kafana flow: wire records -> decode -> SMT
chain -> changelog -> Discover/search, plus the registry's cost blocks.

    python3 e2ebench/run.py --workload {ingest,query,stream,entries}
        --seed N --seconds S --trace {0,1} [--plant-wrong]

Run from the root of a checkout. The first run builds the repository's
sources together with the harness (sbt, offline) and caches the build
under e2ebench/.work, keyed by a hash of the sources. Each run then
generates its inputs from --seed (gen_wire.py; the entries workload uses
fixed fixture tables from gen_fixtures.py and the seed orders them),
starts one JVM with a fresh Spark session and prints the harness output.
The last line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Lines starting with "#" report every metric by name and unit,
the traffic properties of the input and the session configuration. Any
wrong answer makes the run exit non-zero (after printing the result).
--plant-wrong corrupts one answer on purpose (self-test only).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 175  # a run (after any build) must end within 180 s
SIZES = {
    # wire records per backfill pass: a pass takes about a second
    "ingest": 100_000,
    # wire records in the index: the per-query cost that grows with the
    # index (uid de-duplication of the whole changelog) is then about 40 %
    # of a query's latency; below about 50 000 fixed cost hides it
    "query": 100_000,
}
STREAM_FILES_PER_S = 10  # gen_wire.py puts 200 records in each file
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            files = [p]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
        "-Dsbt.offline=true", "-Xmx3g"]))
    return env


def build(root):
    """Compile the checkout's sources and the harness; returns the classpath."""
    sources = [os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
               os.path.join(root, "project", "build.properties"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    stamp = tree_hash(sources)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    print("# building (sbt compile)", flush=True)
    out = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
         "export e2ebench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        die("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def gen(args, *cmd):
    subprocess.run([sys.executable, os.path.join(HERE, args)] + [str(c) for c in cmd],
                   check=True)


def make_inputs(a, inp):
    if os.path.exists(inp):
        shutil.rmtree(inp)
    os.makedirs(inp)
    if a.workload in SIZES:
        gen("gen_wire.py", "batch", inp, "--seed", a.seed,
            "--records", a.records or SIZES[a.workload])
    elif a.workload == "stream":
        files = int(math.ceil(a.seconds * STREAM_FILES_PER_S)) + 1
        gen("gen_wire.py", "stream", inp, "--seed", a.seed, "--files", files)


def fixtures():
    """Entry fixtures are fixed content: generate once per generator version."""
    out = os.path.join(WORK, "fixtures")
    stamp = tree_hash([os.path.join(HERE, "gen_fixtures.py")])
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    gen("gen_fixtures.py", out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "query", "stream", "entries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", action="store_true")
    ap.add_argument("--records", type=int, help="override the input size")
    ap.add_argument("--entries", help="comma-separated entries (entries workload)")
    ap.add_argument("--record", help="write the entries' answers to this file")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of a kafanaspark checkout (build.sbt and "
            "src/main/scala/graft not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    os.makedirs(WORK, exist_ok=True)
    cp = build(root)
    started = time.monotonic()

    run_dir = os.path.join(WORK, "run-" + a.workload)
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(os.path.join(run_dir, "tmp"))
    inp = fixtures() if a.workload == "entries" else os.path.join(WORK, "input-" + a.workload)
    if a.workload != "entries":
        make_inputs(a, inp)

    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "e2ebench.Main",
            "--workload", a.workload, "--input", inp, "--work", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
            "--seed", str(a.seed), "--plant-wrong", "1" if a.plant_wrong else "0"]
    if a.workload == "entries":
        if a.record:
            cmd += ["--record", os.path.abspath(a.record)]
        else:
            cmd += ["--expected", os.path.join(HERE, "entries_expected.json")]
        if a.entries:
            cmd += ["--entries", a.entries]
    env = dict(os.environ, TMPDIR=os.path.join(run_dir, "tmp"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(max(1.0, DEADLINE_S - (time.monotonic() - started)), kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
    finally:
        if proc.poll() is None and not timed_out.is_set():
            proc.wait()
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if timed_out.is_set():
        die("harness timed out", 4)
    try:
        result = json.loads(last)
    except ValueError:
        die(f"harness exited {proc.returncode} without a result", proc.returncode or 5)
    if proc.returncode != 0 or not result.get("correct"):
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
