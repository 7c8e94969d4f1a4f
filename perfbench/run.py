#!/usr/bin/env python3
"""Benchmark entry point for graft.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload seismic --seed 1 --seconds 24 --trace 0

It compiles graft's main sources plus the benchmark code under
perfbench/src into .bench_build/ (skipped when the sources are unchanged),
then runs one workload in a fresh JVM on local[<cores>] and relays its
output. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}.

Everything the run writes stays under .bench_build/ in the checkout. Without
graft's sources next to this directory the script exits non-zero and prints
no result.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
# answer checksums of the ops that have no independent reference, per
# workload and seed: workload<TAB>seed<TAB>key<TAB>checksum
ANSWERS = HERE / "answers.tsv"
WORKLOADS = ("seismic", "lexical")
# the whole run, build excluded, must end well inside the 180 s contract
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text())
        jars = Path(m.group(1)) if m else Path("jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"graft sources not found under {ROOT}; run from a source checkout")
    srcs = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return srcs, resources, res


def build(jars):
    srcs, resources, res = sources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = CLASSES / ".stamp"
        if stamp_file.is_file() and stamp_file.read_text() == stamp:
            return
        shutil.rmtree(CLASSES, ignore_errors=True)
        CLASSES.mkdir(parents=True)
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        t0 = time.time()
        cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
               "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
               "-d", str(CLASSES), "-classpath", f"{jars}/*", f"@{argfile}"]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            fail(f"compile failed (exit {r.returncode})")
        for p in res:
            dst = CLASSES / p.relative_to(resources)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, dst)
        stamp_file.write_text(stamp)
        print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knob: one deliberately wrong expected value that the run
    # must count as a failure
    ap.add_argument("--plant-wrong", action="store_true")
    # after a correct run, add the answers it gave that are not stored yet
    # to answers.tsv
    ap.add_argument("--record-answers", action="store_true")
    args = ap.parse_args()

    sources()
    jars = spark_jars()
    build(jars)

    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores),
            "--work", str(work), "--spans", str(BUILD / "spans"),
            "--answers", str(ANSWERS)]
    if args.plant_wrong:
        cmd.append("--plant-wrong")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S:.0f} s; killed")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    keys = {"correct", "attempted", "failed", "metrics"}
    if proc.returncode != 0 or not isinstance(result, dict) or set(result) != keys:
        for ln in lines:
            print(ln, file=sys.stderr)
        fail(f"benchmark JVM exited {proc.returncode} without a result line")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    if args.record_answers and result["correct"]:
        record_answers(args.workload, args.seed, lines[:-1])


def record_answers(workload, seed, lines):
    """Adds the run's answers that are not stored yet to ANSWERS."""
    given = {}
    for ln in lines:
        try:
            given.update(json.loads(ln).get("answers", {}))
        except (ValueError, AttributeError):
            pass
    rows = set()
    if ANSWERS.is_file():
        rows = {tuple(ln.split("\t")) for ln in ANSWERS.read_text().splitlines() if ln}
    have = {(w, s, k) for w, s, k, _ in rows}
    rows |= {(workload, str(seed), k, v) for k, v in given.items()
             if (workload, str(seed), k) not in have}
    ANSWERS.write_text("".join("\t".join(r) + "\n" for r in
                               sorted(rows, key=lambda r: (r[0], int(r[1]), r[2]))))


if __name__ == "__main__":
    main()
