#!/usr/bin/env python3
"""Run-to-run checks for the push-pipeline benchmark (choosing-metrics §8).

spread: run one tree on several seeds and report, per metric, the median,
the quartiles and the spread (Q3 - Q1) / median next to the metric's bound
from BENCHMARK.json.

    python3 pushbench/aa.py spread --workload push_small_parity --seeds 1-10

pairs: alternate runs of two trees (an A/A check when both are the same
commit, or parent/change for a claim), one seed per pair, alternating which
side runs first. Reports each side's median and quartiles, how many pairs B
wins, and whether a gain may be claimed: B wins at least 9 of 10 pairs
(ties count for neither) and the medians differ by more than A's own
quartile spread.

    python3 pushbench/aa.py pairs --a ../parent --b . --workload push_large_chunked --pairs 10

Both commands run `python3 pushbench/run.py` from the tree's root with
run_seconds from BENCHMARK.json, and can write every run's result to --out
as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LOGS = []  # the benchmark's own stderr lines of every run, for --out


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}, b["run_seconds"]


def run(root, workload, seed, seconds):
    cmd = [sys.executable, "pushbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} in {root}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    if not r["correct"] or r["failed"]:
        raise SystemExit(f"incorrect output: seed {seed} in {root}: {r}")
    LOGS.append({"seed": seed, "root": root, "stderr": [l for l in p.stderr.splitlines()
                                                        if l.startswith("[pushbench]")]})
    return {k: v["value"] for k, v in r["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cmd_spread(a):
    metrics, seconds = spec(a.root)
    rows = [run(a.root, a.workload, s, seconds) for s in seeds(a.seeds)]
    report = {}
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for name in rows[0]:
        xs = [r[name] for r in rows if r.get(name) is not None]
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else float("nan")
        bound = metrics.get(name, {}).get("bound")
        flag = "" if bound is None else ("ok" if spread < bound / 3 else "WIDE")
        print(f"{name:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} {bound if bound is not None else '':>6} {flag}")
        report[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": xs}
    return {"workload": a.workload, "seeds": seeds(a.seeds), "metrics": report}


def cmd_pairs(a):
    metrics, seconds = spec(a.b)
    m = metrics[a.metric]
    lower = m["better"] == "lower"
    side = {"A": [], "B": []}
    wins = ties = 0
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        got = {}
        for s in order:
            got[s] = run(a.a if s == "A" else a.b, a.workload, seed, seconds)[a.metric]
        side["A"].append(got["A"]); side["B"].append(got["B"])
        if got["A"] == got["B"]:
            ties += 1
        elif (got["B"] < got["A"]) == lower:
            wins += 1
        print(f"pair {i + 1} seed {seed} first {order[0]}: A {got['A']:.5g}  B {got['B']:.5g}", flush=True)
    qa, qb = quartiles(side["A"]), quartiles(side["B"])
    a_spread = qa[2] - qa[0]
    claim = wins >= 0.9 * a.pairs and abs(qb[1] - qa[1]) > a_spread
    print(f"{a.metric} ({m['unit']}, {m['better']} is better)")
    print(f"  A median {qa[1]:.5g} (q1 {qa[0]:.5g}, q3 {qa[2]:.5g})")
    print(f"  B median {qb[1]:.5g} (q1 {qb[0]:.5g}, q3 {qb[2]:.5g})")
    print(f"  B wins {wins} of {a.pairs} pairs, {ties} ties; A quartile spread {a_spread:.5g}")
    print(f"  gain may be claimed: {'yes' if claim else 'no'}")
    return {"workload": a.workload, "metric": a.metric, "A": side["A"], "B": side["B"],
            "wins": wins, "ties": ties, "claim": claim}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--root", default=os.path.dirname(HERE))
    sp.add_argument("--seeds", default="1-10")
    pp = sub.add_parser("pairs")
    pp.add_argument("--a", required=True)
    pp.add_argument("--b", required=True)
    pp.add_argument("--pairs", type=int, default=10)
    pp.add_argument("--first-seed", type=int, default=101)
    pp.add_argument("--metric", default="pass_s_p50")
    for p in (sp, pp):
        p.add_argument("--workload", required=True)
        p.add_argument("--out", help="write the runs and the summary here as JSON")
    a = ap.parse_args()
    result = cmd_spread(a) if a.cmd == "spread" else cmd_pairs(a)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(dict(result, runs=LOGS), f, indent=1)


if __name__ == "__main__":
    main()
