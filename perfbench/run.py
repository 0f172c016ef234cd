#!/usr/bin/env python3
"""Run one benchmark workload against the graft library built from this checkout.

    python3 perfbench/run.py --workload board_light --seed 7 --seconds 20 --trace 0

Builds the library and the harness (sbt, in perfbench/) when their sources
changed since the last build, then runs the harness in one JVM and passes its
standard output through. The last line is the result object. The exit code is
non-zero, and no result is printed, when the build or any step fails.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("board_light", "board_heavy", "scale_sql")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 outside spark-submit (see org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compiles with sbt and returns the runtime classpath; reuses the last
    build when no source changed."""
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = WORK / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cp = next((l for l in reversed(lines) if "scala-2.13/classes" in l and " " not in l), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})", 1)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def commit(stamp):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "src-" + stamp[:12]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no library sources next to {BENCH.name}/: run from a full checkout")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    (WORK / "logs").mkdir(exist_ok=True)
    stamp = source_stamp()
    cp = build(stamp)

    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [str(java), *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--root", str(ROOT), "--commit", commit(stamp),
           "--launch-ms", str(int(time.time() * 1000))]
    err_log = WORK / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.err"
    with open(err_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {err_log})", 1)
    notes = [l for l in err_log.read_text().splitlines() if l.startswith("[perfbench]")]
    for l in notes:
        print(l, file=sys.stderr)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(err_log.read_text().splitlines()[-20:]) + "\n")
        fail(f"harness exited with {proc.returncode} (log: {err_log})", 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
