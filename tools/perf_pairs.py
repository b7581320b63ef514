#!/usr/bin/env python3
"""Run alternating benchmark pairs on two checkouts and compare them.

    tools/perf_pairs.py --parent DIR --change DIR --workload extract_ord \
        --seeds 5101-5110 [--seconds 15] [--trace 0] [--out runs.jsonl]

Each seed is one pair: `python3 perfbench/run.py` runs once in each
checkout, one run at a time, the parent first on even pairs and the change
first on odd ones. The script prints every run (with the load average before
it), then per metric each side's median and quartiles, the change's wins,
losses and ties over the pairs, and the verdict of the pair rule: a gain
holds when the change wins at least nine tenths of the pairs and the medians
differ by more than the parent's interquartile range. With `--trace 0` it
also flags a metric whose change median is worse than the parent's by more
than the bound in BENCHMARK.json. Last it compares the output digests each
checkout's benchmark kept for every seed
(`.bench_build/perfbench/digests/<workload>-seed<N>.txt`): a seed must give
the same digests on both sides, or fail on both.
"""

import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_one(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns its record (result is None when it failed)."""
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode != 0 or result is None or not result.get("correct"):
        sys.stderr.write(proc.stderr[-2000:])
    return {"seed": seed, "exit": proc.returncode, "load": load, "result": result}


def value(rec, metric):
    r = rec["result"]
    if rec["exit"] != 0 or r is None or metric not in r["metrics"]:
        return None
    return r["metrics"][metric]["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def cell(median, q1, q3):
    return f"{median:.4g} [{q1:.4g}, {q3:.4g}]"


def digests(checkout, workload, seed):
    path = os.path.join(checkout, ".bench_build", "perfbench", "digests",
                        f"{workload}-seed{seed}.txt")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 5101-5110 or 5101,5105")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="append every run as one JSON line to this file")
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    metrics = declared["per_layer" if a.trace else "end_to_end"]
    sides = {"parent": a.parent, "change": a.change}
    seeds = parse_seeds(a.seeds)
    runs = {"parent": [], "change": []}
    for k, seed in enumerate(seeds):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            rec = run_one(sides[side], a.workload, seed, a.seconds, a.trace)
            rec["side"] = side
            runs[side].append(rec)
            r = rec["result"] or {}
            shown = " ".join(f"{m['name']}={value(rec, m['name']):.4g}"
                             for m in metrics[:3] if value(rec, m["name"]) is not None)
            print(f"pair {k + 1} seed {seed} {side:6} exit={rec['exit']} "
                  f"correct={r.get('correct')} load={rec['load']:.2f} {shown}", flush=True)
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")

    failed = {s: sum(1 for r in runs[s] if value(r, metrics[0]["name"]) is None) for s in runs}
    print(f"\n{a.workload}: {len(seeds)} pairs, failed runs parent={failed['parent']} "
          f"change={failed['change']}")
    print(f"{'metric':28} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
          f"{'wins':>5} {'loss':>5} {'tie':>4}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(value(p, name), value(c, name)) for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"{name:28} no pair with both values")
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        losses = sum(1 for p, c in pairs if (c > p if lower else c < p))
        better = cm < pm if lower else cm > pm
        gain = (better and wins >= math.ceil(0.9 * len(pairs))
                and abs(cm - pm) > p3 - p1)
        verdict = "gain" if gain else "no gain shown"
        bound = m.get("bound")
        if bound is not None and pm != 0:
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            if worse > bound:
                verdict += f", WORSE by {worse:.1%} > bound {bound:.0%}"
        print(f"{name:28} {cell(pm, p1, p3):>34} {cell(cm, c1, c3):>34} "
              f"{wins:5} {losses:5} {len(pairs) - wins - losses:4}  {verdict}")

    print("\ndigests per seed:")
    bad = 0
    for seed in seeds:
        p, c = digests(a.parent, a.workload, seed), digests(a.change, a.workload, seed)
        if p is None and c is None:
            state = "no digests on either side (both runs failed)"
        elif p is None or c is None:
            state = "MISSING on the " + ("parent" if p is None else "change") + " side"
            bad += 1
        elif p == c:
            state = "equal"
        else:
            state = "DIFFERENT"
            bad += 1
        print(f"  {a.workload}-seed{seed}: {state}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
