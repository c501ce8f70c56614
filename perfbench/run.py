#!/usr/bin/env python3
"""Benchmark of record for the document engine.

Builds the engine from this checkout's sources together with the benchmark
program (perfbench/build.sbt), runs ONE workload in one JVM and prints, as the
last stdout line, one JSON object: correct, attempted, failed, metrics.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 30 --trace 0

Workloads: mixed, curate (see perfbench/METRICS.md).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics;
the full board (and, traced, the span tree) goes to .bench_build/perfbench/.
Exit codes: 0 ok, 1 a correctness check failed, 2 cannot build or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("mixed", "curate")
BUILD_LIMIT_S = 700
RUN_FIXED_S = 140      # Spark start, set-up, checks and traced extras of one run
RUN_CAP_S = 170        # a run (build excluded) must end within 180 s
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark runtime found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((HERE / "src").rglob("*"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(env):
    """Compile once per source state; later runs reuse the classes."""
    stamp = OUT / "build.stamp"
    classes = HERE / "target" / "scala-2.13" / "classes"
    digest = source_digest()
    if stamp.is_file() and stamp.read_text() == digest and classes.is_dir():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(p, BUILD_LIMIT_S)
    if rc != 0:
        sys.stderr.write(log.read_text()[-3000:])
        die(f"build failed (rc={rc}), log: {log}")
    stamp.write_text(digest)
    return classes


def wait(p, limit_s):
    """Wait for a process group; kill it (and wait) past the limit."""
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int,
                    help="corpus size, for sizing probes only (default: the workload's own)")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    classes = build(env)

    work = OUT / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cp = os.pathsep.join([str(classes), str(Path(env["SPARK_HOME"]) / "jars" / "*")])
    (work / "tmp").mkdir()
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+ExitOnOutOfMemoryError", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
            "--vocab", str(HERE / "vocab.txt")]
    if a.docs:
        cmd += ["--docs", str(a.docs)]
    log = work / "jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        # fixed part, the window, and the step still in flight when it ends
        rc = wait(p, min(RUN_CAP_S, RUN_FIXED_S + 2 * a.seconds))
    # the bulky state is temporary; keep board, trace and log
    for d in ("collections", "corpus", "corpus-out", "batch", "batch-out", "spark-local",
              "warehouse", "tmp"):
        shutil.rmtree(work / d, ignore_errors=True)
    result_file = work / "result.json"
    if rc != 0 or not result_file.is_file():
        sys.stderr.write("".join(log.read_text(errors="replace").splitlines(True)[-40:]))
        die(f"run failed (rc={rc}), log: {log}")
    result = json.loads(result_file.read_text())
    board = json.loads((work / "board.json").read_text())
    named = {k: round(v["value"], 4) for k, v in board["named"].items()}
    units = {k: v["unit"] for k, v in board["named"].items()}
    print(json.dumps({"workload": a.workload, "named": named, "units": units,
                      "board": str((work / "board.json").relative_to(ROOT))}))
    for f in board["failures"]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
