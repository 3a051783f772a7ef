#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and report, per
end-to-end metric, the median and the spread (Q3 - Q1) / median over the
runs, against the metric's bound in BENCHMARK.json.

    python3 graftbench/steady.py --seeds 1-10 [--workloads corpus] [--out runs.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    p.add_argument("--out", help="append every run's result here (JSON lines)")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    ok = True
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        for seed in seeds_of(args.seeds):
            t0 = time.monotonic()
            r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], stdout=subprocess.PIPE, text=True, cwd=ROOT)
            walls.append(time.monotonic() - t0)
            res = run.parse_result(r.stdout)
            if r.returncode != 0 or res is None or not res["correct"]:
                print("%s seed %d: FAILED (exit %d)" % (w, seed, r.returncode))
                ok = False
                continue
            for name, m in res["metrics"].items():
                values[name].append(m["value"])
            if args.out:
                settings = [json.loads(l)["settings"] for l in r.stdout.splitlines()
                            if l.startswith('{"settings"')]
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, "result": res,
                                         "settings": settings[-1] if settings else None}) + "\n")
        print("%s: %d runs, wall per run median %.1f s, max %.1f s"
              % (w, len(walls), statistics.median(walls), max(walls)))
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else 0.0
            flag = "" if m["name"] == "setup_s" or spread <= m["bound"] / 3 else "  <-- over bound/3"
            print("  %-16s median %-12.6g spread %.4f (bound %.2f)%s"
                  % (m["name"], statistics.median(v), spread, m["bound"], flag))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
