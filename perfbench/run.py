#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload <trending|lakehouse|ingest_dedup> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first call builds the harness
(this directory's sbt project, which compiles the checkout's
src/main/scala with it) and caches the classpath keyed by a hash of
every source file; later calls reuse it. Each run gets a private run
root under .perfbench_run/ for its inputs, tables, temp files and
indexes; the harness deletes what it created, and the traced run
reports what is left as bench.leaked_tmp_mb. The last line of standard
output is the JSON result.
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
REPO = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(REPO, "src", "main")
CP_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
RUN_BASE = os.path.join(REPO, ".perfbench_run")
WORKLOADS = ("trending", "lakehouse", "ingest_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A fixed 1.5 GB heap (min = max, so peak RSS does not ride on heap
# resizing) and the C1 compiler only: runs last well under a minute, where
# C2's compile threads compete with Spark's four task slots and leave the
# code half-optimized at run time; C1 warms up fast and repeats tightly.
# C1-only shrinks the default code cache to 48 MB, which Spark's generated
# code filled in some runs, switching the compiler off mid-run.
JVM_OPTS = ["-Xms1536m", "-Xmx1536m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless the cached classpath is current."""
    if not os.path.isdir(PROGRAM_SRC):
        die(f"no program sources at {os.path.relpath(PROGRAM_SRC, os.getcwd())}: "
            "run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    stamp = source_stamp()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp and all(os.path.exists(p) for p in cp.strip().split(":")):
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
    ]) if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else "-Xmx2g"
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(CP_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def tree_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def java_cmd(cp, root, main, args):
    cmd = ["java"] + JVM_OPTS
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            f"-Dgraft.index.dir={os.path.join(root, 'index')}",
            "-cp", cp, main] + args
    return cmd


def run_jvm(cmd, root, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    log_path = os.path.join(root, "jvm.log")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_INDEX_DIR", "SPARK_LOCAL_DIRS")}
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             stderr=log, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {timeout} s (log: {log_path})")
    return p.returncode, out, log_path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that input generation is a pure function of the seed")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        die("--workload is required")
    if a.workload == "all":
        # each workload in turn, in its own run; every output line is relayed
        codes = [subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                                 "--trace", str(a.trace)]).returncode for w in WORKLOADS]
        sys.exit(max(codes))
    t_start = time.time()
    cp = build()
    root = os.path.join(RUN_BASE, f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(root, "tmp"))
    try:
        if a.selftest:
            cmd = java_cmd(cp, root, "perfbench.GenCheck", [os.path.join(root, "gen")])
        else:
            cmd = java_cmd(cp, root, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", root])
        budget = max(30, RUN_TIMEOUT_S - int(time.time() - t_start)) if not a.selftest else RUN_TIMEOUT_S
        code, out, log_path = run_jvm(cmd, root, budget)
        lines = out.splitlines()
        result = next((ln for ln in reversed(lines) if ln.startswith("{")), None)
        for ln in lines:
            if ln is not result:
                print(ln)
        if code != 0 or (result is None and not a.selftest):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            die(f"harness exited with code {code}")
        if result is not None:
            if a.trace:
                spans = os.path.join(root, "spans.jsonl")
                if os.path.exists(spans):
                    shutil.move(spans, os.path.join(HERE, "target", f"spans-{a.workload}.jsonl"))
                # what the run left behind, besides the harness's own log
                leaked = tree_bytes(root) - os.path.getsize(log_path)
                doc = json.loads(result)
                doc["metrics"]["bench.leaked_tmp_mb"] = {"value": leaked / 1e6, "unit": "MB"}
                result = json.dumps(doc)
            print(result)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(RUN_BASE)
        except OSError:
            pass


if __name__ == "__main__":
    main()
