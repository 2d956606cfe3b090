#!/usr/bin/env python3
"""Ingest benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source when they changed
(perfbench/build.sh), then runs one workload in one JVM (perfbench.Main)
and prints, as the last stdout line, one JSON object with the keys
correct, attempted, failed and metrics: the end_to_end metrics of
BENCHMARK.json, or with --trace 1 its per_layer metrics, each with its
unit. The line before it is a report that adds failed_op_share and the
run-validity stamp. A per-layer metric of a layer the workload does not
run reads 0. Exits non-zero when an output check fails or the run
cannot complete.

Extra flags used by the benchmark's own tests: --size smoke (tiny inputs)
and --corrupt 1 (the output checks read a deliberately altered output).
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys
import time

WORKLOADS = ("bulk_backfill", "daily_increments")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # ... or 900 s when it also builds


def source_digest(root):
    h = hashlib.sha256()
    files = sorted(list((root / "src" / "main" / "scala").rglob("*.scala")) +
                   list((root / "perfbench" / "src").rglob("*.scala")) +
                   [root / "perfbench" / "build.sh"])
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the first
    spark-submit on PATH whose distribution ships the Scala compiler."""
    if "SPARK_HOME" in os.environ:
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = pathlib.Path(d) / "spark-submit"
        if submit.is_file():
            jars = submit.resolve().parent.parent / "jars"
            if any(jars.glob("scala-compiler-*.jar")):
                return jars
    raise RuntimeError("no Spark: set SPARK_HOME or put spark-submit on PATH")


def build(root, out, jars):
    """Compile when the sources differ from the last build; True if it did."""
    stamp = out / "stamp"
    digest = source_digest(root)
    if stamp.exists() and stamp.read_text() == digest:
        return False
    out.mkdir(parents=True, exist_ok=True)
    subprocess.run(["bash", "perfbench/build.sh", str(out / "classes"), str(jars)],
                   cwd=root, check=True, stdout=sys.stderr)
    stamp.write_text(digest)
    return True


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    t0 = time.monotonic()
    root = pathlib.Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or \
            not (root / "perfbench" / "build.sh").is_file():
        print("perfbench: run from the repository root (program sources "
              "src/main/scala not found)", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    names = spec["per_layer" if a.trace else "end_to_end"]
    out = root / ".bench_build" / "perfbench"
    try:
        jars = spark_jars()
        built = build(root, out, jars)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = out / "work"
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)

    java = pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), "-Xms3g", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", f"{out / 'classes'}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--size", a.size, "--corrupt", str(a.corrupt)]
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(limit, 10))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return 3
        finally:
            # the JVM waits for the CLI child it starts; this catches any
            # process of the group left behind by a JVM that died
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    raw = [l for l in stdout.splitlines() if l.startswith("perfbench raw: ")]
    if not raw:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        print(f"perfbench: no result (exit {proc.returncode})\n{tail}",
              file=sys.stderr)
        return proc.returncode or 4
    raw = json.loads(raw[-1].removeprefix("perfbench raw: "))
    metrics = {m["name"]: {"value": raw["metrics"].get(m["name"], 0.0),
                           "unit": m["unit"]} for m in names}
    attempted, failed = raw["attempted"], raw["failed"]
    report = {k: raw[k] for k in ("workload", "seed", "trace")}
    report["failed_op_share"] = {"value": failed / max(attempted, 1),
                                 "unit": "ratio"}
    report["stamp"] = raw["stamp"]
    report["metrics"] = metrics
    if proc.returncode != 0:
        failures = [l for l in (work / "jvm.log").read_text(errors="replace")
                    .splitlines() if l.startswith("[perfbench] FAILED")]
        print("\n".join(failures[:20]), file=sys.stderr)
    print("perfbench report: " + json.dumps(report))
    print(json.dumps({"correct": proc.returncode == 0 and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
