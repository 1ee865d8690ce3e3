#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run it from the root of a checkout. It compiles the program's sources
(`src/main`) together with the benchmark's own (`perfbench/src`) with sbt
offline, once per source state, into `perfbench/target`; it keeps the
classpath, logs and Spark's working space in `.bench_build/`. Then it runs
the workload in one JVM, prints every metric with its unit, and prints the
summary JSON as the last line of stdout. With `--trace 0` the summary holds
the end-to-end metrics of BENCHMARK.json, with `--trace 1` the per-layer
ones. The exit code is 0 only when every correctness check passed.
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
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
WORK = ROOT / ".bench_build"
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build, so an unchanged checkout skips sbt."""
    h = hashlib.sha256()
    inputs = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt",
              BENCH / "project" / "build.properties"]
    for base in inputs:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found; set SPARK_HOME", 3)
    return str(Path(home) / "jars")


def build():
    """Compile if the sources changed; return the runtime classpath."""
    stamp = WORK / "build.json"
    digest = source_digest()
    if stamp.is_file():
        prev = json.loads(stamp.read_text())
        if prev.get("digest") == digest and all(
                Path(p).exists() for p in prev["classpath"].split(os.pathsep)):
            return prev["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars())
    (WORK / "tmp").mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if code != 0:
        fail(f"build failed (exit {code}); see {log}:\n" + "\n".join(lines[-20:]), 3)
    cps = [l.strip() for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath; see {log}", 3)
    stamp.write_text(json.dumps({"digest": digest, "classpath": cps[-1]}))
    return cps[-1]


def wait(proc, timeout):
    """Wait for a process started in its own session; kill the whole group on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found; run from the root of a checkout")
    spec = json.loads(spec_file.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the program's sources (src/main/scala/graft) are missing; nothing to benchmark")

    WORK.mkdir(exist_ok=True)
    started = time.monotonic()
    classpath = build()
    built_now = time.monotonic() - started > 5

    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    (WORK / "logs").mkdir(exist_ok=True)
    log = WORK / "logs" / f"{args.workload}-{args.seed}-trace{args.trace}.log"
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap and the throughput collector: fewer GC-driven swings between runs
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work-dir", str(WORK)]
    # the first run of a checkout may take 900 s because it builds; any other 180 s
    budget = (890 if built_now else 175) - (time.monotonic() - started)
    with open(log, "w") as err, open(WORK / "stdout.txt", "w") as out:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, max(budget, 30))
    shutil.rmtree(tmp, ignore_errors=True)
    result = None
    for line in (WORK / "stdout.txt").read_text().splitlines():
        if line.startswith("GRAFTBENCH "):
            result = json.loads(line[len("GRAFTBENCH "):])
    if code is None:
        fail(f"run exceeded its time budget; see {log}", 4)
    if result is None:
        fail(f"run ended (exit {code}) without a result; see {log}", 4)

    wanted = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None and args.trace == "1":
            # a layer this workload does not exercise did no work: 0
            got = {"value": 0.0, "unit": m["unit"]}
        if got is None:
            fail(f"the run did not report {m['name']}", 5)
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} reported in {got['unit']}, declared in {m['unit']}", 5)
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    attempted, failed = int(result["attempted"]), int(result["failed"])
    correct = failed == 0 and attempted >= 1
    print(f"workload {args.workload}, seed {args.seed}, {args.seconds} s, trace {args.trace}")
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:>16.6g} {m['unit']}")
    print(f"  ops attempted {attempted}, failed {failed}; log {log.relative_to(ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
