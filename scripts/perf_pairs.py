#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts: parent and change.

    python3 scripts/perf_pairs.py --parent DIR --change DIR \
        --workload dialect_sql --seeds 1001-1010 [--seconds 32] \
        [--trace 0] [--out pairs.json]

For each seed, runs `python3 perfbench/run.py` once in each checkout
(from that checkout's root, so each builds the program and its own
fixtures from its own sources), alternating which side runs first. Then
prints, for every metric of the run's result line: each side's median and
quartiles, how many pairs the change won (ties count for neither), and
whether the gain rule holds — the change wins at least 9 of every 10
pairs and the medians differ by more than the parent's interquartile
range. `--trace 1` compares the per-layer metrics the same way.
Every run's result line is written to `--out` when given. The first run
in a fresh checkout also builds it (several minutes); warm each side with
one run before timing if that must stay out of the pairs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        else:
            out.append(int(part))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit(f"no result line from {checkout} seed {seed} "
                 f"(exit {p.returncode}):\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["exit"] = p.returncode
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1001-1010 or 9001")
    ap.add_argument("--seconds", type=float, default=32)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    better = {m["name"]: m["better"]
              for m in bench["per_layer" if a.trace else "end_to_end"]}
    runs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            r = run_once(getattr(a, side), a.workload, seed, a.seconds, a.trace)
            pair[side] = r
            print(f"seed {seed} {side}: correct={r.get('correct')} "
                  f"failed={r.get('failed')} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                           if k in ("op_p50_ms", "cold_op_ms", "peak_rss_mb")),
                  file=sys.stderr, flush=True)
        runs.append(pair)
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "seconds": a.seconds,
                           "trace": a.trace, "pairs": runs}, f, indent=1)

    n = len(runs)
    print(f"{a.workload}: {n} pairs, seeds {a.seeds}, {a.seconds:g} s per run")
    print(f"{'metric':28} {'parent median [q1-q3]':>30} {'change median [q1-q3]':>30}"
          f" {'gap':>8} {'wins':>6}  gain rule")
    for name in runs[0]["parent"]["metrics"]:
        if name not in better:
            continue
        ps = [r["parent"]["metrics"][name]["value"] for r in runs]
        cs = [r["change"]["metrics"][name]["value"] for r in runs]
        sign = 1 if better[name] == "lower" else -1
        wins = sum(1 for p, c in zip(ps, cs) if sign * (p - c) > 0)
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        gap = (cm - pm) / pm if pm else float("nan")
        holds = wins * 10 >= 9 * n and sign * (pm - cm) > (p3 - p1)
        print(f"{name:28} {pm:12.4g} [{p1:.4g}-{p3:.4g}]".ljust(59) +
              f" {cm:12.4g} [{c1:.4g}-{c3:.4g}]".ljust(31) +
              f" {gap:+8.1%} {wins:>3}/{n}  {'holds' if holds else '-'}")
    bad = [(r["seed"], s) for r in runs for s in ("parent", "change")
           if not r[s].get("correct") or r[s].get("failed")]
    print("all runs correct" if not bad else f"runs not correct: {bad}")


if __name__ == "__main__":
    main()
