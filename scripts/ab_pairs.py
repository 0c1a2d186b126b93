#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark: a parent checkout against a change.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload classify_curate --seeds 6001-6010 [--seconds 13] \\
        [--metrics work_per_s,op_p50_s] [--detail boss_fit_p50_s] [--out pairs.jsonl]

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one run at a time, switching
which side goes first from one pair to the next. It prints every pair's
metrics and each run's `steal_frac` (the hypervisor's share of CPU time
during the loop), then per metric each side's median and quartiles, the
change's win fraction (ties count for neither side) and whether a gain
may be claimed: the change wins at least nine tenths of the pairs and the
medians differ by more than the parent's interquartile distance.

Which direction is better, and the default metrics and run length, come
from the change's BENCHMARK.json. Reads only run.py's standard output;
each run keeps its files under its checkout's ignored perfbench/.work, and
--out, if given, should name a file outside both checkouts.
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
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns (result, detail) parsed from its last two lines."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{checkout}: run.py exited {p.returncode} without a result (seed {seed})")
    return json.loads(lines[-1]), json.loads(lines[-2])


def value(x):
    return x.get("value") if isinstance(x, dict) else x


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 6001-6010 or 6001,6003")
    ap.add_argument("--seconds", type=int, help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--metrics", help="comma list of end-to-end metrics (default: all)")
    ap.add_argument("--detail", default="", help="comma list of detail-line metrics to print too")
    ap.add_argument("--out", help="append one JSON line per run to this file")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    metrics = args.metrics.split(",") if args.metrics else list(better)
    details = [d for d in args.detail.split(",") if d]
    seconds = args.seconds or bench["run_seconds"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    rows = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res, det = run_once(sides[side], args.workload, seed, seconds)
            d = det.get("detail", {})
            pair[side] = {"correct": res["correct"],
                          "steal_frac": value(d.get("steal_frac")),
                          **{m: value(res["metrics"].get(m)) for m in metrics},
                          **{k: value(d.get(k)) for k in details}}
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"side": side, "seed": seed, "result": res, "detail": det}) + "\n")
        rows.append(pair)
        cells = "  ".join(
            f"{m} {pair['parent'][m]:.4g}/{pair['change'][m]:.4g}" for m in metrics + details
            if pair["parent"][m] is not None and pair["change"][m] is not None)
        print(f"seed {seed} first={pair['first']:6s} {cells}  steal "
              f"{pair['parent']['steal_frac']}/{pair['change']['steal_frac']}  correct "
              f"{pair['parent']['correct']}/{pair['change']['correct']}", flush=True)

    print(f"\n{args.workload}: {len(rows)} pairs (parent/change), --seconds {seconds}")
    for m in metrics:
        ps = [r["parent"][m] for r in rows if r["parent"][m] is not None and r["change"][m] is not None]
        cs = [r["change"][m] for r in rows if r["parent"][m] is not None and r["change"][m] is not None]
        if not ps:
            continue
        sign = 1 if better.get(m, "lower") == "higher" else -1
        wins = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
        pq, cq = quartiles(ps), quartiles(cs)
        spread = pq[2] - pq[0]
        claim = wins >= 0.9 * len(ps) and sign * (cq[1] - pq[1]) > spread
        print(f"  {m} ({better.get(m, '?')} is better): parent median {pq[1]:.4g} [q1 {pq[0]:.4g}, "
              f"q3 {pq[2]:.4g}]  change median {cq[1]:.4g} [q1 {cq[0]:.4g}, q3 {cq[2]:.4g}]  "
              f"change wins {wins}/{len(ps)}  median diff {cq[1] - pq[1]:+.4g} vs parent IQR "
              f"{spread:.4g}  gain: {'yes' if claim else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
