#!/usr/bin/env python3
"""Steadiness check: run every workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (interquartile
distance as a share of the median) against the metric's bound.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--first-seed 1]
                                [--out FILE] [--compare FILE]

Run from the repository root. Runs go seed by seed through the workloads,
so a slow spell of a shared host lands on several workloads rather than on
most runs of one. A spread above a third of the bound is
flagged; the run fails if any metric's spread exceeds its bound. With
--compare, a table written earlier by --out is the first set of runs: the
run also fails if any median is worse than the first set's by more than the
metric's bound. With --out the table is written as JSON (the reference
numbers). Each run's host steal share is taken from its artifact.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace=0, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {r.returncode})")
    return json.loads(r.stdout.strip().splitlines()[-1]), wall


def host_steal(workload, seed):
    """The host steal share the run's artifact recorded, or None."""
    pat = os.path.join(HERE, "out", f"{workload}_c*_s{seed}.json")
    arts = sorted(glob.glob(pat), key=os.path.getmtime)
    return json.load(open(arts[-1])).get("host_steal_share") if arts else None


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--compare")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    first = json.load(open(args.compare))["workloads"] if args.compare else {}
    report = {"run_seconds": bench["run_seconds"], "nproc": len(os.sched_getaffinity(0)),
              "seeds": list(range(args.first_seed, args.first_seed + args.seeds)),
              "workloads": {}}
    ok = True
    workloads = args.workloads.split(",")
    runs = {w: {"samples": {}, "walls": [], "steal": [], "failed": 0} for w in workloads}
    # seed-major order, so a slow spell of the host spreads over the workloads
    for seed in report["seeds"]:
        for w in workloads:
            r = runs[w]
            line, wall = run_once(w, seed, bench["run_seconds"])
            r["walls"].append(wall)
            r["steal"].append(host_steal(w, seed))
            r["failed"] += line["failed"]
            for k, v in line["metrics"].items():
                r["samples"].setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.1f} s, correct={line['correct']}, "
                  f"host steal {r['steal'][-1]}", file=sys.stderr)
    for w in workloads:
        samples, walls, steal, failed = (runs[w][k] for k in ("samples", "walls", "steal", "failed"))
        table = {k: stats(v) for k, v in samples.items()}
        report["workloads"][w] = {"metrics": table, "failed": failed,
                                  "wall_s": stats(walls), "host_steal_share": steal}
        for k, s in table.items():
            flag = "" if s["spread"] <= bounds[k] / 3 else \
                ("  > bound/3" if s["spread"] <= bounds[k] else "  > BOUND")
            ok &= s["spread"] <= bounds[k]
            if k in first.get(w, {}).get("metrics", {}):
                m0 = first[w]["metrics"][k]["median"]
                worse = (s["median"] - m0) / m0 if lower[k] else (m0 - s["median"]) / m0
                s["worse_than_first"] = worse
                flag += f"  vs first median {m0:.4f}: {100 * worse:+.1f}% worse"
                if worse > bounds[k]:
                    ok, flag = False, flag + " > BOUND"
            print(f"{w:16s} {k:18s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
                  f"q3 {s['q3']:12.4f}  spread {s['spread']:.3f} (bound {bounds[k]}){flag}")
        print(f"{w:16s} wall per run: median {report['workloads'][w]['wall_s']['median']:.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
