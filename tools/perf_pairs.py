#!/usr/bin/env python3
"""Run alternating benchmark pairs on two checkouts and compare them.

    tools/perf_pairs.py --parent DIR --change DIR --workload extract_ord \
        --seeds 5101-5110 [--seconds 15] [--trace 0] [--out runs.jsonl]
    tools/perf_pairs.py --from runs-a.jsonl runs-b.jsonl [--workload W] [--trace 0]

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

`--out` appends every run as one JSON line, with its workload, trace flag and
digests. `--from` runs nothing: it reads such files and prints the same
summary over all their pairs, so batches run at different times pool into one
report. A pair is the parent and change record of one seed in one file.
Records written before they carried a workload take it from `--workload`;
their digests show as not recorded.
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
    return {"seed": seed, "workload": workload, "trace": trace, "exit": proc.returncode,
            "load": load, "result": result, "digests": digests(checkout, workload, seed)}


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


def digest_state(p, c):
    """(text, bad) for one seed's parent and change digests."""
    if p is None and c is None:
        return "no digests on either side (both runs failed)", False
    if p is None or c is None:
        return "MISSING on the " + ("parent" if p is None else "change") + " side", True
    return ("equal", False) if p == c else ("DIFFERENT", True)


def summarise(workload, metrics, pairs, states):
    """Prints the per-metric table over `pairs` ((parent, change) records)
    and `states` ((label, digest text, bad)); returns the exit code."""
    failed = {s: sum(1 for pc in pairs if value(pc[i], metrics[0]["name"]) is None)
              for i, s in enumerate(["parent", "change"])}
    print(f"\n{workload}: {len(pairs)} pairs, failed runs parent={failed['parent']} "
          f"change={failed['change']}")
    print(f"{'metric':28} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
          f"{'wins':>5} {'loss':>5} {'tie':>4}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(value(p, name), value(c, name)) for p, c in pairs]
        both = [(p, c) for p, c in both if p is not None and c is not None]
        if not both:
            print(f"{name:28} no pair with both values")
            continue
        ps, cs = [p for p, _ in both], [c for _, c in both]
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        losses = sum(1 for p, c in both if (c > p if lower else c < p))
        better = cm < pm if lower else cm > pm
        gain = (better and wins >= math.ceil(0.9 * len(both))
                and abs(cm - pm) > p3 - p1)
        verdict = "gain" if gain else "no gain shown"
        bound = m.get("bound")
        if bound is not None and pm != 0:
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            if worse > bound:
                verdict += f", WORSE by {worse:.1%} > bound {bound:.0%}"
        print(f"{name:28} {cell(pm, p1, p3):>34} {cell(cm, c1, c3):>34} "
              f"{wins:5} {losses:5} {len(both) - wins - losses:4}  {verdict}")

    print("\ndigests per seed:")
    for label, text, _ in states:
        print(f"  {label}: {text}")
    return 1 if any(bad for _, _, bad in states) else 0


def declared_metrics(checkout, trace):
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    return declared["per_layer" if trace else "end_to_end"]


def pooled(files, workload, trace):
    """(workload, trace, pairs, digest states) over the records of `files`."""
    pairs, states, kinds = [], [], set()
    for path in files:
        by_seed = {}
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    rec = json.loads(line)
                    by_seed.setdefault(rec["seed"], {}).setdefault(rec["side"], rec)
        for seed, sides in by_seed.items():
            if set(sides) != {"parent", "change"}:
                sys.exit(f"{path}: seed {seed} has no {'parent' if 'parent' not in sides else 'change'} run")
            p, c = sides["parent"], sides["change"]
            kinds.add((p.get("workload", workload), p.get("trace", trace)))
            pairs.append((p, c))
            label = f"{os.path.basename(path)} seed {seed}"
            if "digests" in p and "digests" in c:
                text, bad = digest_state(p["digests"], c["digests"])
            else:
                text, bad = "not recorded", False
            states.append((label, text, bad))
    if len(kinds) != 1 or None in next(iter(kinds), (None,)):
        sys.exit(f"the records must share one workload and trace flag, got {sorted(kinds, key=str)}"
                 " (pass --workload/--trace for records that do not carry them)")
    (workload, trace), = kinds
    return workload, trace, pairs, states


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 5101-5110 or 5101,5105")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--out", help="append every run as one JSON line to this file")
    ap.add_argument("--from", dest="from_files", nargs="+", metavar="FILE",
                    help="summarise the records of earlier --out files; run nothing")
    a = ap.parse_args()

    if a.from_files:
        workload, trace, pairs, states = pooled(a.from_files, a.workload, a.trace)
        here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
        return summarise(workload, declared_metrics(a.parent or here, trace), pairs, states)

    missing = [f"--{k}" for k in ("parent", "change", "workload", "seeds") if not getattr(a, k)]
    if missing:
        ap.error("without --from, these are required: " + " ".join(missing))
    trace = a.trace or 0
    metrics = declared_metrics(a.parent, trace)
    sides = {"parent": a.parent, "change": a.change}
    seeds = parse_seeds(a.seeds)
    runs = {"parent": [], "change": []}
    for k, seed in enumerate(seeds):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            rec = run_one(sides[side], a.workload, seed, a.seconds, trace)
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

    states = [(f"{a.workload}-seed{seed}", *digest_state(p["digests"], c["digests"]))
              for seed, p, c in zip(seeds, runs["parent"], runs["change"])]
    return summarise(a.workload, metrics, list(zip(runs["parent"], runs["change"])), states)


if __name__ == "__main__":
    sys.exit(main())
