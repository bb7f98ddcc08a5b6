#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/collect.py --workloads bulk_load stream_upsert --seeds 1-10 \
        --out perfbench/results/baseline.json
    python3 perfbench/collect.py --workloads bulk_load --seeds 1 --trace 1 \
        --out perfbench/results/trace.json

For every workload and metric it records the values, their median, the
quartiles (`statistics.quantiles(values, n=4)`) and the spread
(inter-quartile distance over the median). Traced runs also copy the
per-op trace file next to the output. Run from the repository root.
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def hardware():
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), "")
        with open("/proc/meminfo") as f:
            mem_kb = int(next(l.split()[1] for l in f if l.startswith("MemTotal")))
    except (OSError, StopIteration):
        mem_kb = 0
    java = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True).stderr.splitlines()
    return {"cpu": model, "cpus": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1),
            "os": platform.platform(), "java": java[0] if java else ""}


def summarise(values):
    med = statistics.median(values)
    if len(values) < 2:
        return {"values": values, "median": med}
    q = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q[0], "q3": q[2],
            "spread": (q[2] - q[0]) / med if med else None}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    report = {"hardware": hardware(), "seconds": seconds, "trace": args.trace, "workloads": {}}
    for w in args.workloads:
        runs, per_metric = [], {}
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", str(args.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(line)
            summary = [l for l in p.stderr.splitlines() if l.startswith(f"[perfbench] {w}:")]
            runs.append({"seed": s, "exit": p.returncode, "wall_s": round(wall, 1),
                         "correct": res.get("correct"), "attempted": res.get("attempted"),
                         "failed": res.get("failed"), "log": summary[-1] if summary else p.stderr[-500:]})
            for name, m in res.get("metrics", {}).items():
                per_metric.setdefault(name, []).append(m["value"])
            print(f"{w} seed {s}: exit {p.returncode}, {wall:.0f}s, correct={res.get('correct')}",
                  file=sys.stderr, flush=True)
            if args.trace:
                src = os.path.join(BENCH, "out", f"trace-{w}-{s}.json")
                if os.path.exists(src):
                    shutil.copy(src, os.path.join(os.path.dirname(os.path.abspath(args.out)),
                                                  f"trace-{w}-{s}.json"))
        report["workloads"][w] = {"runs": runs,
                                  "metrics": {k: summarise(v) for k, v in per_metric.items()}}
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for w, r in report["workloads"].items():
        print(f"== {w}")
        for k, m in r["metrics"].items():
            sp = m.get("spread")
            print(f"  {k:28s} median {m['median']:.4g}  spread {sp if sp is None else round(sp, 3)}")


if __name__ == "__main__":
    main()
