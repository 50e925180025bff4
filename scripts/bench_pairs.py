#!/usr/bin/env python3
"""Paired benchmark runs of two graft checkouts, for a perf claim.

    python3 scripts/bench_pairs.py --parent DIR --change DIR \\
        --workload stream-replay --pairs 10 --seed 11 [--seconds 16] \\
        [--trace 0] [--out runs.jsonl]
    python3 scripts/bench_pairs.py --report runs.jsonl [--report more.jsonl]

Runs `perfbench/run.py` in each checkout, one pair per seed (seeds
`--seed`, `--seed`+1, ...), alternating which side runs first. Every
result line is appended to `--out` as it arrives, so a cut series still
counts. Then, for each metric of the result lines, it prints each side's
median and quartiles, the change's wins among the pairs (ties count for
neither side) and whether the pair series supports a claim: the change
wins at least nine tenths of the pairs and the medians differ by more than
the parent's interquartile range. `--report` prints the same summary from
files written by earlier `--out` runs. The "better" direction of each
metric comes from the parent's BENCHMARK.json. perfbench/ is only run,
never changed; the run settings are identical on both sides.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": f"exit {p.returncode}, no result line"}


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(records, better):
    pairs = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"], r["trace"]), {})[r["side"]] = r
    by_workload = {}
    for (workload, seed, trace), p in sorted(pairs.items()):
        if "parent" in p and "change" in p:
            by_workload.setdefault((workload, trace), []).append((seed, p["parent"], p["change"]))
    for (workload, trace), ps in by_workload.items():
        bad = [f"{s}:{side}" for s, a, b in ps for side, r in (("parent", a), ("change", b))
               if not r["result"].get("correct")]
        print(f"\n== {workload} (trace {trace}): {len(ps)} pairs, seeds "
              f"{min(s for s, _, _ in ps)}-{max(s for s, _, _ in ps)}; "
              f"runs not correct: {', '.join(bad) or 'none'}")
        print(f"{'metric':36} {'parent median [q1-q3]':>30} {'change median [q1-q3]':>30} "
              f"{'wins':>6}  claim")
        names = sorted({n for _, a, b in ps for n in a["result"]["metrics"]
                        if n in b["result"]["metrics"]})
        for n in names:
            pv = [a["result"]["metrics"][n]["value"] for _, a, _ in ps]
            cv = [b["result"]["metrics"][n]["value"] for _, _, b in ps]
            sign = 1 if better.get(n, "lower") == "lower" else -1
            wins = sum(1 for x, y in zip(pv, cv) if sign * (x - y) > 0)
            (p1, pm, p3), (c1, cm, c3) = quartiles(pv), quartiles(cv)
            claim = wins >= 0.9 * len(ps) and sign * (pm - cm) > (p3 - p1)
            print(f"{n:36} {pm:>12.4g} [{p1:.4g}-{p3:.4g}]".ljust(67) +
                  f"{cm:>12.4g} [{c1:.4g}-{c3:.4g}]".ljust(31) +
                  f"{wins:>3}/{len(ps):<3} {'yes' if claim else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", default="stream-replay")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--report", action="append", help="summarize earlier --out files only")
    a = ap.parse_args()
    if a.report:
        records = [json.loads(line) for path in a.report for line in open(path) if line.strip()]
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        report(records, directions(here))
        return
    if not (a.parent and a.change):
        ap.error("--parent and --change are required")
    better = directions(a.parent)
    records = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_one(getattr(a, side), a.workload, seed, a.seconds, a.trace)
            rec = {"workload": a.workload, "seed": seed, "trace": a.trace, "side": side,
                   "result": res}
            records.append(rec)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            m = res.get("metrics", {})
            key = "batch_p80_ms" if "batch_p80_ms" in m else next(iter(m), None)
            print(f"[pair {i + 1}/{a.pairs} seed {seed}] {side}: correct={res.get('correct')} "
                  + (f"{key}={m[key]['value']:.4g}" if key else res.get("error", "")),
                  file=sys.stderr, flush=True)
    report(records, better)


if __name__ == "__main__":
    main()
