#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload lfb_dag --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the program
from source together with the harness (perfbench/harness, sbt, offline) and
caches the runtime classpath under .bench_build/; later runs reuse it until a
source file changes. Each run is a fresh JVM. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones (see perfbench/README.md).
The last line of stdout is the result; progress and a readable summary go to
stderr.
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

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("lfb_dag", "events_ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "4g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the CompletedProcess or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    return subprocess.CompletedProcess(cmd, proc.returncode, out, err)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main" / "scala", ROOT / "build.sbt",
             ROOT / "project" / "build.properties", HARNESS / "src",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for root in roots:
        files = sorted(root.rglob("*")) if root.is_dir() else [root]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "fingerprint"
    fp = source_fingerprint()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log("building program and harness (sbt, offline)")
    flags = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        flags += ["-Dsbt.override.build.repos=true",
                  f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    res = run_bounded(["sbt", "--batch", *flags, "compile",
                       "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                      cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                      stderr=subprocess.STDOUT, text=True)
    if res is None or res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] if res else "sbt timed out\n")
        raise SystemExit("build failed")
    cp = next((ln.strip() for ln in reversed(res.stdout.splitlines())
               if "scala-2.13" in ln and ":" in ln and not ln.startswith("[")), None)
    if cp is None:
        raise SystemExit("build printed no classpath")
    cp_file.write_text(cp)
    stamp.write_text(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, args, work):
    """One fresh JVM running the workload; returns its JSON record."""
    out = work / "record.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work / "data"), "--out", str(out)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    for knob in [k for k in env if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS"]:
        del env[knob]  # the benchmark runs the program's defaults
    log_path = work / "jvm.log"
    with open(log_path, "w") as jvm_log:
        res = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                          stdout=jvm_log, stderr=subprocess.STDOUT)
    if res is None or res.returncode != 0 or not out.exists():
        tail = log_path.read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        raise SystemExit("harness run timed out" if res is None else
                         f"harness run failed (exit {res.returncode})")
    return json.loads(out.read_text())


def history_path(workload):
    return BUILD / "history" / f"{workload}.jsonl"


def untraced_median(workload):
    """Median latency_s of the last ten untraced runs made in this checkout
    (the most recent ones, so that a drift in machine load weighs less)."""
    p = history_path(workload)
    if not p.exists():
        return None
    vals = [json.loads(ln)["latency_s"] for ln in p.read_text().splitlines() if ln]
    return statistics.median(vals[-10:]) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"{ROOT} holds no program sources (build.sbt, src/main/scala); "
                         "run from a full checkout of the repository")
    cp = build()
    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        record = run_harness(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = metrics.errors(record)
    e2e = metrics.end_to_end(record)
    if args.trace:
        reported = metrics.per_layer(record, untraced_median(args.workload))
    else:
        reported = e2e
        history_path(args.workload).parent.mkdir(parents=True, exist_ok=True)
        with open(history_path(args.workload), "a") as h:
            h.write(json.dumps({"seed": args.seed,
                                "latency_s": e2e["latency_s"]["value"]}) + "\n")
    secs = " ".join(f"{t:.2f}" for _, t, _, _ in metrics.units_of_work(record))
    log(f"{args.workload} seed {args.seed}: {failed}/{attempted} failed; "
        f"unit seconds (n={len(secs.split())}): {secs}")
    for name, m in (e2e | reported).items():
        log(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": reported}))


if __name__ == "__main__":
    main()
