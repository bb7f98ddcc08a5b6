#!/usr/bin/env python3
"""graft benchmark runner.

Builds graft and the benchmark harness from source (sbt, offline), times
set-up from outside, runs one workload in a benchmark JVM and prints one
JSON result line as the last line of standard output:

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 16 --trace 0

Run it from the repository root. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer metrics. Each run
leaves its full result (planted faults, op latencies) under
perfbench/out/, and a traced run also a per-op trace file. `--scale`
shrinks the inputs and `--corrupt` damages the output before the final
check; the smoke test uses both. Exit code 0 means every output check
passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD = os.path.join(BENCH, ".build")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ["bulk_load", "small_jobs", "stream_upsert", "dedup_ingest"]
# set-up is measured in this many extra probe JVMs per untraced run, plus
# the run's own JVM; the median is reported
SETUP_PROBES = 1
DEADLINE_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft + the harness once per source state; return the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        # a Spark installation on PATH: bin/spark-submit beside jars/
        homes = [os.path.dirname(os.path.realpath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            raise SystemExit("set SPARK_HOME to a Spark 4 installation")
        env["SPARK_HOME"] = homes[0]
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Compile/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and os.pathsep in l and "classes" in l]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f}s")
    return cp


def java_cmd(cp, work, extra):
    # fixed heap and young generation, so peak RSS does not follow GC sizing
    # noise; no perf-data file, so the JVM writes only under the checkout
    return (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Main", "--work", work, "--cores", str(cores())] + extra)


def launch(cmd, deadline):
    """Start a benchmark JVM that is killed at the deadline; return
    (process, seconds until it reported ready, or None)."""
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    proc.watchdog = threading.Timer(max(1.0, deadline - t0), proc.kill)
    proc.watchdog.start()
    ready = None
    for line in proc.stdout:
        if line.strip() == "GRAFTBENCH_READY":
            ready = time.monotonic() - t0
            break
    return proc, ready


def finish(proc, kill=False):
    """Wait for a JVM to end (killing it first if asked); return its exit code."""
    if kill:
        proc.kill()
    for _ in proc.stdout:
        pass
    code = proc.wait()
    proc.watchdog.cancel()
    return code


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, to log how much of the
    run the hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"), exist_ok=True)
    return path


def declared_metrics(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test)")
    ap.add_argument("--corrupt", action="store_true", help="damage the output before the final check")
    args = ap.parse_args()

    if not os.path.isdir(GRAFT_SRC):
        log(f"graft sources not found at {os.path.relpath(GRAFT_SRC, os.getcwd())}; "
            "run from a checkout of the repository")
        return 2
    start = time.monotonic()
    cp = build()
    deadline = time.monotonic() + DEADLINE_S - min(60.0, time.monotonic() - start)
    os.makedirs(OUT, exist_ok=True)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = fresh_dir(os.path.join(BENCH, "work", run_id))
    steal0, total0 = cpu_ticks()
    try:
        setups = []
        if args.trace == 0:
            for i in range(SETUP_PROBES):
                pwork = fresh_dir(os.path.join(work, f"probe{i}"))
                proc, ready = launch(java_cmd(cp, pwork, ["--probe"]), deadline)
                finish(proc, kill=True)  # the probe has done its job once it is ready
                if ready is None:
                    log("set-up probe failed")
                    return 1
                setups.append(ready)
        out_file = os.path.join(OUT, f"result-{run_id}.json")
        extra = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--scale", str(args.scale), "--out", out_file]
        if args.corrupt:
            extra.append("--corrupt")
        proc, ready = launch(java_cmd(cp, os.path.join(work, "main"), extra), deadline)
        code = finish(proc)
        if code != 0 or ready is None or not os.path.exists(out_file):
            log(f"benchmark JVM failed (exit {code})")
            return 1
        setups.append(ready)
        with open(out_file) as f:
            res = json.load(f)
        # keep what the generator planted and every op latency beside the trace
        os.replace(out_file, os.path.join(OUT, f"result-{args.workload}-{args.seed}-trace{args.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, "work"))
        except OSError:
            pass

    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    values = dict(res["end_to_end"], setup_s=statistics.median(setups))
    kind = "per_layer" if args.trace else "end_to_end"
    if args.trace:
        values = res["per_layer"]
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in declared_metrics(kind)}
    for e in res["errors"]:
        log(f"CHECK FAILED: {e}")
    log(f"{args.workload}: {res['samples']} ops, tail = p{res['tail_percentile']:.0f}, "
        f"generate {res['generate_s']:.1f}s, warm-up {res['warmup_ops']} ops {res['warmup_s']:.1f}s, "
        f"set-ups {' '.join(f'{s:.2f}' for s in setups)}s, steal {100 * steal:.1f}%, "
        f"warm-up latencies {' '.join(f'{x:.2f}' for x in res['warmup_latencies_s'])}s, "
        f"op latencies {' '.join(f'{x:.2f}' for x in res['latencies_s'])}s")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
