#!/usr/bin/env python3
"""Run sets of seeds and summarise their spread against BENCHMARK.json.

From the root of a checkout:

    # ten untraced runs per workload, one line per run in perfbench/results/<tag>-<workload>.jsonl
    python3 perfbench/steadiness.py run --tag A --seeds 101 110 --workloads serve_mor stream_dedup

    # median, quartiles and (q3 - q1) / median per metric, against each bound;
    # with two tags, also the shift of the second median against the first
    python3 perfbench/steadiness.py summary A B
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RESULTS = os.path.join("perfbench", "results")


def run(args):
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(RESULTS, exist_ok=True)
    for w in args.workloads:
        for seed in range(args.seeds[0], args.seeds[1] + 1):
            with open("/proc/loadavg") as f:
                load_before = float(f.read().split()[0])
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(args.trace)],
                capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            with open("/proc/loadavg") as f:
                load_after = float(f.read().split()[0])
            rec = {"workload": w, "seed": seed, "trace": args.trace, "exit": p.returncode,
                   "wall_s": round(wall, 3), "loadavg_before": load_before,
                   "loadavg_after": load_after, "result": result}
            with open(os.path.join(RESULTS, f"{args.tag}-{w}.jsonl"), "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{args.tag} {w} seed={seed} exit={p.returncode} wall={wall:.1f}s "
                  f"correct={result and result['correct']}", flush=True)


def load(tag, workload):
    path = os.path.join(RESULTS, f"{tag}-{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def summary(args):
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for w in (x["name"] for x in bench["workloads"]):
        sets = [(t, [r for r in load(t, w) if r["trace"] == 0]) for t in args.tags]
        sets = [(t, rs) for t, rs in sets if rs]
        if not sets:
            continue
        print(f"\n## {w}")
        for t, rs in sets:
            walls = [r["wall_s"] for r in rs]
            good = [r for r in rs if r["result"] and r["result"]["correct"]]
            print(f"- set {t}: {len(rs)} runs, {len(good)} correct, "
                  f"wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
                  f"loadavg before {min(r['loadavg_before'] for r in rs):.2f}-{max(r['loadavg_before'] for r in rs):.2f}")
        print()
        print("| metric | bound | " + " | ".join(
            f"{t} median | {t} q1 | {t} q3 | {t} spread" for t, _ in sets) +
            (" | shift |" if len(sets) > 1 else " |"))
        print("|---|---|" + "---|---|---|---|" * len(sets) + ("---|" if len(sets) > 1 else ""))
        for name, m in bounds.items():
            cells, meds = [], []
            for t, rs in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in rs
                        if r["result"] and name in r["result"]["metrics"]]
                if len(vals) < 2:
                    cells.append("– | – | – | –")
                    continue
                med, q1, q3 = stats(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                if name != "setup_s" and spread > m["bound"]:
                    ok = False
                cells.append(f"{med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f}")
            row = f"| {name} | {m['bound']} | " + " | ".join(cells)
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                if worse > m["bound"]:
                    ok = False
                row += f" | {worse:+.3f}"
            print(row + " |")
    print("\nwithin bounds" if ok else "\nOUT OF BOUNDS")


def main():
    ap = argparse.ArgumentParser(description="run and summarise seed sets")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--tag", required=True)
    r.add_argument("--seeds", type=int, nargs=2, required=True, metavar=("FIRST", "LAST"))
    r.add_argument("--workloads", nargs="+", required=True)
    r.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("summary")
    s.add_argument("tags", nargs="+")
    args = ap.parse_args()
    run(args) if args.cmd == "run" else summary(args)


if __name__ == "__main__":
    main()
