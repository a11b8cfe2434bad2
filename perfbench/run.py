#!/usr/bin/env python3
"""Closed-loop benchmark of the library's scheduled materializations, stream
upserts and store takedowns.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (later runs reuse the build until a source
file changes), then starts one JVM that runs the workload. The last line of
standard output is the result object; see perfbench/README.md.
"""
import argparse
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSPATH = HERE / "target" / "bench-classpath.txt"
WORKLOADS = ["incremental_append", "stream_upsert", "store_lifecycle"]
RUN_TIMEOUT_S = 170
# A fixed-size heap and the parallel collector: with G1 and a growing heap,
# whole runs came out about 25 % slower or faster than others of the same
# code (per-op times steady inside a run, bimodal across runs).
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    arg
    for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ]
    for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in (HERE / "src" / "main", ROOT / "src" / "main"):
        yield from (p for p in base.rglob("*") if p.is_file())
    yield from (HERE / "build.sbt", HERE / "project" / "build.properties", ROOT / "build.sbt")


def build():
    """Compiles with sbt unless the recorded classpath is newer than every source."""
    if CLASSPATH.exists():
        stamp = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime < stamp for p in source_files()):
            return CLASSPATH.read_text().strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (sbt exit {proc.returncode})")
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no library sources beside {HERE.name}/ (expected build.sbt and src/main/scala/graft)")
    classpath = build()
    work = HERE / ".work"
    tmp = work / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", str(work), "--out", str(HERE / ".out")]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
