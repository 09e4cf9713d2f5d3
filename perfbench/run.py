#!/usr/bin/env python3
"""Per-change benchmark of the graft whylogs-on-Spark library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source (sbt, offline, this directory's build.sbt); later
runs reuse the build while the sources are unchanged. Inputs are
generated from the seed under .perfbench_work/ at the repository root,
which also receives every run's results, spans and logs. The last line
of standard output is the result as one JSON object; the lines before it
are a human-readable summary. The exit code is 0 only when every
operation's output passed its correctness check. See README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
PROGRAM_SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "main", "java")]
BENCH_SOURCES = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")]
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 175  # a run (after the build) must finish within this
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit needs these (the list the root
# build passes to forked test and run JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(message, code):
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(code)


def run_logged(cmd, cwd, env, timeout, log):
    """Runs cmd in its own process group, output to `log`; returns the exit
    code, or None after killing the whole group on timeout."""
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail_of(path, lines=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-lines:])


def source_digest():
    h = hashlib.sha256()
    for top in PROGRAM_SOURCES + BENCH_SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return digest
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH; it is needed to build the program", 3)
    log = os.path.join(WORK, "logs", "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    rc = run_logged([sbt, "--batch", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
                     "-Dsbt.log.noformat=true", "compile"], HERE, env, BUILD_TIMEOUT_S, log)
    if rc != 0:
        sys.stderr.write(tail_of(log))
        fail(f"build failed ({'timed out' if rc is None else f'exit {rc}'}); log: {log}", 3)
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    # a terminated run still stops its children (run_logged's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()

    missing = [p for p in PROGRAM_SOURCES if not os.path.isdir(p)]
    if missing:
        fail(f"program sources not found ({', '.join(missing)}); "
             "run from a checkout of the repository", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at the Spark 4 installation", 2)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    if not java:
        fail("no java found (set JAVA_HOME)", 2)

    source = build()
    built = time.time()

    # inputs: generated outside the timed process, only the newest seed kept
    inputs = os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}")
    parent = os.path.dirname(inputs)
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith(args.workload + "-") and os.path.join(parent, d) != inputs:
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    digest, _ = gen.ensure(args.workload, args.seed, inputs)

    state = os.path.join(WORK, "state", args.workload)
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(os.path.join(state, "tmp"))
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    raw = os.path.join(WORK, "results", name + ".raw.json")
    os.makedirs(os.path.dirname(raw), exist_ok=True)
    if os.path.exists(raw):
        os.remove(raw)
    cores = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()[0]
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(state, 'tmp')}",
           "-cp", os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")]),
           "perfbench.Main", "--workload", args.workload, "--input", inputs, "--work", state,
           "--out", raw, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores)]
    log = os.path.join(WORK, "logs", name + ".log")
    limit = RUN_LIMIT_S - (time.time() - built)
    t0_ms = int(time.time() * 1000)
    rc = run_logged(cmd + ["--t0-ms", str(t0_ms)], ROOT, dict(os.environ), limit, log)
    shutil.rmtree(state, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw):
        sys.stderr.write(tail_of(log))
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; log: {log}", 4)
    with open(raw) as f:
        record = json.load(f)

    failures = {o["index"]: o["failures"] for o in record["ops"] if o["failures"]}
    attempted = len(record["ops"])
    values = metrics.per_layer(record) if args.trace else metrics.end_to_end(record)
    units = {n: u for n, u, _ in (metrics.per_layer_spec() if args.trace else metrics.END_TO_END)}
    figures = metrics.workload_figures(args.workload, record)
    env = dict(record["env"], nproc=cores, load_before=load_before,
               load_after=os.getloadavg()[0], git_commit=git_commit(), source_digest=source,
               input_digest=digest, seed=args.seed, build_s=round(built - started, 3))
    summary = {
        "workload": args.workload, "trace": args.trace, "env": env,
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "failed_op_ratio": len(failures) / attempted,
        "failures": {str(i): f[:5] for i, f in failures.items()},
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
        "workload_figures": {n: {"value": v, "unit": u} for n, (v, u) in figures.items()},
        "span_self_times": span_summary(record),
    }
    with open(os.path.join(WORK, "results", name + ".json"), "w") as f:
        json.dump(summary, f, indent=1)

    steal = env["host_steal_pct"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"inputs={digest[:16]} nproc={cores} load={load_before:.2f}->{env['load_after']:.2f} "
          f"steal={'n/a' if steal is None else f'{steal:.1f}%'} "
          f"java={env['java_version']} spark={env['spark_version']} commit={env['git_commit']}")
    for n, (v, u) in figures.items():
        print(f"  {n:<28} {'n/a' if v is None else f'{v:.6g}'} {u}")
    print(f"  {'failed_op_ratio':<28} {summary['failed_op_ratio']:.6g} ({len(failures)}/{attempted} ops)")
    for i, f in sorted(failures.items()):
        print(f"  op {i} FAILED: {'; '.join(f[:3])}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": summary["metrics"]}))
    return 0 if not failures else 1


def span_summary(record):
    """Total and self seconds per span name over the timed operations."""
    timed = {o["index"] for o in record["ops"] if not o["warmup"]}
    selft = metrics.self_times(record["spans"])
    out = {}
    for s in record["spans"]:
        if s["op"] in timed:
            t = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            t["count"] += 1
            t["total_s"] += s["end"] - s["start"]
            t["self_s"] += selft[s["id"]]
    return out


if __name__ == "__main__":
    sys.exit(main())
