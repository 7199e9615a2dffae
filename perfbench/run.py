#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload chain-lifecycle --seed 1 --seconds 20 --trace 0

Compiles the engine and the harness with the Scala compiler in Spark's jars
when the sources changed since the last build, runs the harness in a fresh JVM, and prints
its result as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The run record and, for --trace 1, the spans are left under
.bench_build/perfbench/<workload>-<seed>-<trace>/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = HERE / "src" / "main" / "scala"
WORKLOADS = ("chain-lifecycle", "archive-scan")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def sources():
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def source_stamp():
    h = hashlib.sha256()
    for f in sources() + sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the first install on PATH whose spark-submit sits
    next to a jars directory (a pip pyspark shim does not)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return submit.resolve().parent.parent
    return None


def build(state, spark):
    """Compiles the engine and the harness with the Scala compiler that ships
    in Spark's jars. Everything it writes stays under state: no sbt, no
    dependency cache, no lock files in the home directory."""
    classes = state / "classes"
    stamp = source_stamp()
    stamp_file = state / "build.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    if not any((spark / "jars").glob("scala-compiler-*.jar")):
        fail(f"no scala-compiler jar in {spark / 'jars'}", 2)
    stamp_file.unlink(missing_ok=True)
    if classes.exists():
        subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir()
    tmp = state / "tmp"
    tmp.mkdir(exist_ok=True)
    argfile = state / "sources.txt"
    argfile.write_text("".join(f"{f}\n" for f in sources()))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{spark / 'jars'}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    log = state / "build.log"
    with open(log, "wb") as f:
        rc, _ = run(cmd, 800, cwd=state, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        fail(f"build failed (rc={rc}), log in {log}", 3)
    stamp_file.write_text(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC}", 2)
    spark = spark_home()
    if spark is None or not (spark / "jars").is_dir():
        fail("Spark jars not found: set SPARK_HOME", 2)

    state = ROOT / ".bench_build" / "perfbench"
    state.mkdir(parents=True, exist_ok=True)
    classes = build(state, spark)

    work = state / f"{a.workload}-{a.seed}-{a.trace}"
    if work.exists():
        subprocess.run(["rm", "-rf", str(work)], check=True)
    work.mkdir(parents=True)
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = ["java", "-Xmx1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{ENGINE_RES}:{spark / 'jars'}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)]
    log = work / "jvm.log"
    with open(log, "wb") as f:
        rc, out = run(cmd, JVM_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, stderr=f)
    for line in log.read_text(errors="replace").splitlines():
        if line.startswith(("CHECK FAILED", "KNOWN DEFECT")):
            print(line, file=sys.stderr)
    if rc is None:
        fail(f"run exceeded {JVM_TIMEOUT_S}s, log in {log}", 4)
    lines = out.decode(errors="replace").strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        fail(f"no result from the harness (rc={rc}), log in {log}", 5)
    if rc != 0:
        fail(f"harness exited {rc}, log in {log}", 5)
    # drop the pass directories; the record, spans and logs stay
    for p in work.iterdir():
        if p.is_dir():
            subprocess.run(["rm", "-rf", str(p)], check=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
