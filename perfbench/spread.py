#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and spread (inter-quartile distance over the median),
the figure the benchmark's bounds are checked against. Each run's line
also gives the share of the machine's CPU time the hypervisor stole
while it ran: on a shared host that share moves every timing.

    python3 perfbench/spread.py --workload corpus_curate --seeds 1-10 [--seconds S]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b) + 1)) if b else [int(x) for x in spec.split(",")]


def cpu_times():
    """(busy + idle, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return sum(xs), xs[7] if len(xs) > 7 else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        t0, (all0, steal0) = time.time(), cpu_times()
        r = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                               "--seconds", str(secs), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        all1, steal1 = cpu_times()
        steal = (steal1 - steal0) / max(1, all1 - all0)
        passes = next((l.strip() for l in r.stdout.splitlines() if l.strip().startswith("passes:")), "")
        print(f"seed {s}: rc={r.returncode} {time.time() - t0:.1f}s correct={res.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items())
              + f" [{passes}] steal {steal:.1%}", flush=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-2000:])
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) >= 2:
            sp = M.spread(xs)
            print(f"{k:<14} median {M.median(xs):.4g}  spread {sp:.3f}  bound {bounds.get(k)}"
                  f"{'  OVER' if sp > bounds.get(k, 1) else ''}")


if __name__ == "__main__":
    main()
