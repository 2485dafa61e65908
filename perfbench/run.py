#!/usr/bin/env python3
"""End-to-end benchmark of the ZTBus processor.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch|stream --seed N \
        --seconds S --trace 0|1

Builds the processor and the harness from source on first use (with the
Scala compiler that ships with Spark, into .bench_build/), then runs one JVM
and relays its output. The last line of
standard output is the result: {"correct", "attempted", "failed",
"metrics"}. The full artifact (env block, samples, checks, spans) is written
to .bench_build/results/. Exits non-zero when the build fails, the run
fails, or an output check does not hold.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the JVM module
# options spark-submit would inject).
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


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["batch", "stream"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of every input of the build, so an edited tree is rebuilt."""
    h = hashlib.sha256()
    files = [f for d in SOURCES for f in sorted(d.rglob("*.scala"))]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(home):
    """Compile the processor and the harness with the Scala compiler that
    ships with Spark (once per source state); return the run classpath."""
    BUILD.mkdir(exist_ok=True)
    stamp_file, classes = BUILD / "stamp", BUILD / "classes"
    stamp = source_stamp()
    jars = f"{home}/jars/*"
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp_file.exists() and stamp_file.read_text() == stamp:
            return f"{classes}{os.pathsep}{jars}"
        print("perfbench: compiling the processor and the harness...", file=sys.stderr)
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir()
        stamp_file.unlink(missing_ok=True)
        sources = BUILD / "sources.txt"
        sources.write_text("\n".join(
            str(f) for d in SOURCES for f in sorted(d.rglob("*.scala"))) + "\n")
        try:
            out = subprocess.run(
                [shutil.which("java"), "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                 "-d", str(classes), f"@{sources}"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if out.returncode != 0:
            sys.stderr.write(out.stdout[-20000:])
            fail(f"build failed (scalac exit {out.returncode})")
        stamp_file.write_text(stamp)
        return f"{classes}{os.pathsep}{jars}"


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    args = parse_args()
    if not all(d.is_dir() for d in SOURCES):
        fail("processor sources (src/main/scala) not found next to perfbench/")
    java = shutil.which("java")
    if not java:
        fail("java not found on PATH")
    home = spark_home()
    classpath = build(home)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = BUILD / "work" / f"{run_id}-{uuid.uuid4().hex[:8]}"
    results = BUILD / "results"
    (work / "tmp").mkdir(parents=True)
    results.mkdir(exist_ok=True)
    artifact = results / f"{run_id}.json"
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir, so a run
    # writes only inside the checkout
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    env = dict(os.environ, SPARK_HOME=home, PERFBENCH_WORK=str(work),
               PERFBENCH_ARTIFACT=str(artifact), PERFBENCH_GIT_COMMIT=git_commit())
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-5000:])
        fail(f"run produced no result (exit {proc.returncode})", 4)
    if artifact.exists():
        full = json.loads(artifact.read_text())
        summary = {k: full.get(k) for k in
                   ("workload", "seed", "trace", "env", "end_to_end", "failed_ops_frac", "checks")}
        summary["artifact"] = str(artifact.relative_to(ROOT))
        print(json.dumps(summary))
    print(json.dumps(result))
    sys.exit(proc.returncode if proc.returncode != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
