#!/usr/bin/env python3
"""Capture: run every workload over several seeds and summarize.

    python3 lakebench/capture.py --seeds 101-110 --out capture.json
    python3 lakebench/capture.py --workloads interactive_reads --seeds 1,2,3

Runs `run.py --trace 0` once per (workload, seed), one at a time, with
the BENCHMARK.json run length, and writes per workload and metric the
values, median, quartiles (statistics.quantiles, n=4) and spread
(interquartile distance over the median), plus the run stamps.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def summary(values):
    xs = [v for v in values if v is not None]
    if not xs:
        return {"values": values}
    med = statistics.median(xs)
    out = {"values": values, "median": med}
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    result = {"seconds": seconds, "seeds": args.seeds,
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", wl, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                final = json.loads(lines[-1])
            except (IndexError, ValueError):
                final = None
            head = lines[0] if lines else p.stderr.strip()[-300:]
            runs.append({"seed": seed, "rc": p.returncode, "wall_s": round(time.time() - t0, 1),
                         "stamp": head, "result": final})
            print(f"{wl} seed={seed} rc={p.returncode} wall={time.time() - t0:.0f}s "
                  f"{'ok' if final and final['correct'] else 'FAILED'}", flush=True)
        names = sorted({m for r in runs if r["result"] for m in r["result"]["metrics"]})
        result["workloads"][wl] = {
            "runs": [{k: r[k] for k in ("seed", "rc", "wall_s", "stamp")} for r in runs],
            "metrics": {m: summary([r["result"]["metrics"][m]["value"] if r["result"] else None
                                    for r in runs]) for m in names},
        }
        for m in names:
            s = result["workloads"][wl]["metrics"][m]
            if "spread" in s:
                print(f"  {m:32s} median={s['median']:.4f} spread={s['spread']:.4f}", flush=True)
    text = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
