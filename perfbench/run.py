#!/usr/bin/env python3
"""Run one workload of graft's ingest-and-serve benchmark.

    python3 perfbench/run.py --workload wal_drain --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first call builds the engine and the
harness from source with sbt (offline) and caches the runtime classpath in
perfbench/target; every call then runs the workload in one JVM. Progress
goes to stderr; the last line of stdout is the run's JSON result.
Extra flags for the harness's own tests: --quick 1 (tiny sizes) and
--inject-wrong 1 (treat the first checked answer as wrong).
"""
import argparse
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSPATH = HERE / "target" / "classpath.txt"
WORK = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 175

# The JVM options of the root build.sbt's javaOptions (JDK 17 module opens
# for Spark, UI off, UTC session time zone), with a small fixed heap.
JAVA_OPTS = ["-Xmx2g", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"] + [
    opt for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]


def newest_source_mtime():
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.suffix in (".scala", ".java", ".sbt", ".properties")
                      and "target" not in p.relative_to(r).parts]
    return max((p.stat().st_mtime for p in files if p.is_file()), default=0.0)


def build():
    if not (ROOT / "src" / "main").is_dir():
        sys.exit("perfbench: the engine sources (src/main) are not in this checkout")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true", "benchClasspath"]
    print("perfbench: building engine and harness with sbt", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=850)
    if res.returncode != 0 or not CLASSPATH.is_file():
        sys.exit(f"perfbench: build failed (sbt exit {res.returncode})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--quick", choices=("0", "1"), default="0")
    ap.add_argument("--inject-wrong", choices=("0", "1"), default="0")
    a = ap.parse_args()

    if not CLASSPATH.is_file() or CLASSPATH.stat().st_mtime < newest_source_mtime():
        build()
    cp = CLASSPATH.read_text().strip()
    work = WORK / f"work-{os.getpid()}"
    cmd = ["java", *JAVA_OPTS, "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--quick", a.quick, "--inject-wrong", a.inject_wrong,
           "--spec", str(ROOT / "BENCHMARK.json"), "--params", str(HERE / "workloads.json"),
           "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
