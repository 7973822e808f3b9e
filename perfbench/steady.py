#!/usr/bin/env python3
"""Run each workload once per seed and report every metric's spread.

    python3 perfbench/steady.py --workloads mor_scan,ingest_lookup --seeds 1-10
    python3 perfbench/steady.py --seeds 1-10 --trace 1

For each workload and metric it prints the median and the quartiles of the
per-seed values (statistics.quantiles, n=4), the spread (third minus first
quartile over the median), each run's wall time, and the share of failed
operations. --out writes the same as JSON; --logs keeps each run's standard
error (phases, per-class samples, file counts) in a directory. Runs are
sequential.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--logs")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for wl in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                "--seed", str(s), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if a.logs:
                os.makedirs(a.logs, exist_ok=True)
                with open(os.path.join(a.logs, f"{wl}-seed{s}.err"), "w") as fh:
                    fh.write(p.stderr)
            if p.returncode != 0:
                print(f"{wl} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["seed"], r["wall_s"] = s, wall
            runs.append(r)
            print(f"{wl} seed {s}: {wall:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", file=sys.stderr)
        if not runs:
            continue
        summary = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            summary[m] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else 0.0,
                          "unit": runs[0]["metrics"][m]["unit"]}
        walls = [r["wall_s"] for r in runs]
        report[wl] = {"metrics": summary, "wall_s": walls,
                      "runs": [{"seed": r["seed"], "attempted": r["attempted"],
                                **{m: v["value"] for m, v in r["metrics"].items()}} for r in runs],
                      "correct": all(r["correct"] for r in runs),
                      "failed_share": sorted({r["failed"] / r["attempted"] for r in runs})}
        print(f"\n{wl}: {len(runs)} runs, wall {min(walls):.0f}-{max(walls):.0f}s "
              f"(median {statistics.median(walls):.0f}s), all correct: {report[wl]['correct']}, "
              f"failed share: {report[wl]['failed_share']}")
        for m, v in summary.items():
            b = bounds.get(m)
            flag = "" if b is None else ("  ok" if v["spread"] < b / 3 else "  WIDE")
            print(f"  {m:34s} median {v['median']:.6g} {v['unit']:8s} q1 {v['q1']:.6g} "
                  f"q3 {v['q3']:.6g} spread {v['spread']:.3f}{flag}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
