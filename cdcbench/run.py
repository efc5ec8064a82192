#!/usr/bin/env python3
"""CDC lake benchmark for graft: one workload, one seed, one JSON line.

    python3 cdcbench/run.py --workload lifecycle-scatter --seed 1 --seconds 8 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the benchmark from source with sbt (offline); later runs reuse the build
while the sources are unchanged. The run itself is one JVM
(`graftbench.Main`); this script times it out, checks its metric names
and units against BENCHMARK.json and prints the result as the last line
of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, including the tracing overhead: the traced run
against the untraced run of the same workload and seed, or, if this
checkout has none, the median of its untraced runs of that workload
(one is made after the traced run if there are none at all). The exit code is non-zero when any correctness
check failed or the run could not be made.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = HERE / "target"
STAMP = BUILD_DIR / "graftbench-classpath.txt"
WORK = HERE / ".work"
RUNS = HERE / ".runs"

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
OVERHEAD = "trace.overhead_pct."

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256(str(ROOT).encode())
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def classpath():
    """Build graft and the benchmark if their sources changed; return the
    runtime classpath."""
    digest = source_hash()
    if STAMP.is_file():
        stamp = STAMP.read_text().splitlines()
        if len(stamp) == 2 and stamp[0] == digest:
            return stamp[1]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build graft from source")
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("the build failed")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("the build printed no classpath")
    cp = lines[-1].strip()
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(digest + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, workload, seed, seconds, trace):
    """One run of graftbench.Main; returns its result object."""
    tag = f"{workload}-{seed}-{'t' if trace else 'u'}-{os.getpid()}"
    work = WORK / tag
    RUNS.mkdir(parents=True, exist_ok=True)
    out = RUNS / f"{tag}.result.json"
    dump = RUNS / f"trace-{workload}-{seed}.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    # keep Spark's scratch and shuffle files inside the checkout
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["SPARK_GRAFT_SCRATCH"] = str(work / "scratch")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else ""
    cmd = [java if os.path.isfile(java) else "java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", str(work / "run"),
            "--out", str(out), "--dump", str(dump)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    # a terminated benchmark must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s")
    if code != 0 or not out.is_file():
        fail(f"the benchmark JVM exited with code {code} and no result")
    result = json.loads(out.read_text())
    out.unlink()
    return result


def save_untraced(args, result):
    (RUNS / f"untraced-{args.workload}-{args.seconds}-{args.seed}.json").write_text(json.dumps(result))


def untraced_runs(workload, seed, seconds):
    """Untraced results of this workload kept in this checkout: the run
    with the same seed if there is one, else every seed's."""
    same = RUNS / f"untraced-{workload}-{seconds}-{seed}.json"
    if same.is_file():
        return [json.loads(same.read_text())]
    return [json.loads(p.read_text()) for p in sorted(RUNS.glob(f"untraced-{workload}-{seconds}-*.json"))]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json is missing: run from the root of a graft checkout")
    spec = json.loads(spec_path.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft's sources (build.sbt, src/main/scala/graft) are not in this directory")

    cp = classpath()
    result = run_jvm(cp, args.workload, args.seed, args.seconds, False) if not args.trace else None
    if args.trace:
        result = run_jvm(cp, args.workload, args.seed, args.seconds, True)
        untraced = untraced_runs(args.workload, args.seed, args.seconds)
        if not untraced:
            log("no untraced run of this workload yet: making one to measure tracing overhead")
            untraced = [run_jvm(cp, args.workload, args.seed, args.seconds, False)]
            save_untraced(args, untraced[0])
        for name in [m["name"] for m in spec["per_layer"] if m["name"].startswith(OVERHEAD)]:
            m = name[len(OVERHEAD):]
            u = statistics.median(r["metrics"][m]["value"] for r in untraced)
            result["layer"][name] = {"value": 100.0 * (result["metrics"][m]["value"] / u - 1), "unit": "%"}
    else:
        save_untraced(args, result)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result["layer"] if args.trace else result["metrics"]
    metrics = {}
    for m in declared:
        name, unit = m["name"], m["unit"]
        if name not in got:
            fail(f"the run did not report {name}")
        if got[name]["unit"] != unit:
            fail(f"metric {name} came in {got[name]['unit']}, BENCHMARK.json says {unit}")
        metrics[name] = {"value": got[name]["value"], "unit": unit}
    extra = set(got) - set(metrics)
    if extra:
        fail(f"the run reported metrics BENCHMARK.json does not declare: {sorted(extra)}")
    for p in result.get("problems", []):
        log(f"correctness: {p}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
