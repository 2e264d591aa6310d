"""A/A steadiness check: two sets of timed runs of one commit.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--seconds S]

Runs ``perfbench/run.py --trace 0`` once per (set, workload, seed), one
run at a time, interleaving the two sets seed by seed; every run gets
its own seed. For each workload, set and end-to-end metric it prints the
median, the quartiles and the quartile spread as a share of the median
(Python's ``statistics.quantiles(values, n=4)``), then says whether the
sets agree within BENCHMARK.json's bound: each set's spread within the
bound, and the two medians apart by at most the bound (as a share of
the first set's median), in either direction. Raw results go to
perfbench/out/steady-<time>.json. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETS = 2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"exit": p.returncode, "correct": False}
    return json.loads(lines[-1]) | {"exit": p.returncode}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    workloads = args.workloads.split(",")

    results: dict = {w: [[] for _ in range(SETS)] for w in workloads}
    for i in range(args.runs):
        for s in range(SETS):
            for w in workloads:
                seed = 1 + s * args.runs + i
                t0 = time.time()
                r = run_once(w, seed, args.seconds)
                r |= {"seed": seed, "wall_s": time.time() - t0}
                results[w][s].append(r)
                print(f"set {s} {w} seed {seed}: exit {r['exit']} correct {r['correct']} "
                      f"wall {r['wall_s']:.1f}s", flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steady-{int(time.time())}.json"), "w",
              encoding="utf-8") as f:
        json.dump(results, f, indent=1)

    ok = True
    for w in workloads:
        print(f"\n{w}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = []
            for s in range(SETS):
                vals = [r["metrics"][name]["value"] for r in results[w][s]
                        if r.get("correct") and name in r.get("metrics", {})]
                sets.append(summarize(vals) if len(vals) >= 2 else None)
            line = "  ".join(
                f"set{s}: med {x['median']:.4g} q [{x['q1']:.4g}, {x['q3']:.4g}] "
                f"spread {x['spread']:.3f}" if x else f"set{s}: too few runs"
                for s, x in enumerate(sets))
            agree, verdict = False, "  DISAGREE (too few runs)"
            if all(sets):
                apart = abs(sets[1]["median"] - sets[0]["median"]) / sets[0]["median"]
                agree = apart <= bound and all(x["spread"] <= bound for x in sets)
                verdict = (f"  bound {bound}: {'agree' if agree else 'DISAGREE'}"
                           f" (medians apart {apart:.3f})")
            ok &= agree
            print(f"  {name:28s} {line}{verdict}")
        bad = sum(1 for s in results[w] for r in s if not r.get("correct"))
        if bad:
            ok = False
            print(f"  {bad} runs failed or were incorrect")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
