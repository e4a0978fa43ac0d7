#!/usr/bin/env python3
"""Build graft and the benchmark from source, run one workload, and print
its result as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. The build happens once per tree:
it is skipped while the sources hash to the stamp of the last good build.
Everything it writes stays under the repository: build output in
`target/` directories and `.bench_build/` (sbt's own state included),
reports in `.bench_out/`.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
OUT = ROOT / ".bench_out"
WORKLOADS = ("wordcount", "lake_upsert", "stream_upsert")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when it is not started by spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp = BUILD / "build.stamp"
    cp_file = HERE / "target" / "classpath.txt"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}", "writeClasspath"]
    with open(BUILD / "build.log", "w") as log:
        try:
            code = run_child(cmd, cwd=HERE, env=env, stdout=log,
                             stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if code != 0 or not cp_file.exists():
        tail = (BUILD / "build.log").read_text().splitlines()[-30:]
        fail("build failed:\n" + "\n".join(tail), 3)
    stamp.write_text(digest)
    return cp_file.read_text()


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout or interruption
    kill the whole group and wait for it, so nothing outlives us."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} holds no graft sources to build")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()

    work = BUILD / "work"
    # graft stages writes in the JVM's temporary directory
    tmp = BUILD / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--report", str(OUT)]
    result = BUILD / f"result-{os.getpid()}.txt"
    try:
        with open(result, "w") as out:
            code = run_child(cmd, cwd=ROOT, stdout=out, timeout=RUN_TIMEOUT_S)
        lines = result.read_text().splitlines()
    except subprocess.TimeoutExpired:
        fail("run timed out", 4)
    finally:
        result.unlink(missing_ok=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"run exited with {code}", 5)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        parsed = json.loads(lines[-1])
    except ValueError:
        parsed = {}
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        fail("run printed no result", 5)
    print(json.dumps(parsed))


if __name__ == "__main__":
    main()
