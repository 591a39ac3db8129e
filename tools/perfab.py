#!/usr/bin/env python3
"""Parent/change A/B of one perfbench workload.

  tools/perfab.py PARENT_DIR CHANGE_DIR --workload W --seeds 411-420
                  [--raw runs.jsonl] [--layers SEED]

PARENT_DIR and CHANGE_DIR are two checkouts of the repository (say, a
`git clone` of the parent commit and the working tree). For each seed the
tool runs `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` once in each checkout, alternating which side runs first, and
keeps each run's last line of standard output (the result JSON). S is
BENCHMARK.json's `run_seconds`, the same on both sides. It reads
perfbench/ and BENCHMARK.json and changes nothing there.

A pair in which either run is not `correct`, has failed ops, or printed no
result is refused: it is listed and left out of every figure, and the exit
code is 1.

For each end-to-end metric BENCHMARK.json declares, it prints each side's
median [q1, q3], the ratio of the medians, the pairs the change wins (ties
count for neither side), and two verdicts:
  gain    the change wins at least 9 of 10 pairs and its median is better
          than the parent's by more than the parent's IQR (q3 - q1);
  bound   "worse" when the change's median is worse than the parent's by
          more than the metric's bound (a fraction of the parent's median),
          "unresolved" when the parent's own IQR exceeds that bound (unless
          every change run beats every parent run), else "within".

With --layers SEED it then runs `perfbench/run.py --trace 1` once per
checkout for that seed and prints each per-layer metric BENCHMARK.json
declares whose value differs between the two runs (parent, change,
ratio): the layer that moved. A traced run that is not correct or has
failed ops makes the exit code 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds, trace=0):
    """One benchmark run; its result JSON, or None with the reason."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {proc.returncode}, no result line"
    if not result.get("correct") or result.get("failed", 0) > 0:
        return result, f"correct={result.get('correct')} failed={result.get('failed')}"
    return result, None


def quartiles(values):
    if len(values) == 1:
        return values * 3
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return [q1, med, q3]


def verdicts(metric, parent, change):
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    (pq1, pmed, pq3), (_, cmed, _) = quartiles(parent), quartiles(change)
    iqr = pq3 - pq1
    gap = (pmed - cmed) if lower else (cmed - pmed)
    gain = wins >= 0.9 * len(parent) and gap > iqr
    if pmed and -gap > metric["bound"] * abs(pmed):
        bound = "worse"
    elif pmed and iqr > metric["bound"] * abs(pmed) and not (
            all(better(c, p) for c in change for p in parent)):
        bound = "unresolved"
    else:
        bound = "within"
    return wins, gain, bound


def fmt(values):
    q1, med, q3 = quartiles(values)
    return f"{med:.3f} [{q1:.3f}, {q3:.3f}]"


def layers(per_layer, sides, workload, seed, seconds):
    """Print the per-layer metrics that differ between one traced run of
    each side; False when a traced run is refused."""
    results = {}
    for side, checkout in sides.items():
        result, reason = run_once(checkout, workload, seed, seconds, trace=1)
        if reason:
            print(f"\nlayers, seed {seed}: {side} REFUSED {reason}")
            return False
        results[side] = result["metrics"]
    print(f"\n{workload} layers, seed {seed} (--trace 1), metrics that differ:")
    print(f"{'metric':<28} {'parent':>12} {'change':>12} {'ratio':>7}")
    for m in per_layer:
        name = m["name"]
        p, c = (results[side].get(name, {}).get("value") for side in ("parent", "change"))
        if p == c:
            continue
        numbers = isinstance(p, (int, float)) and isinstance(c, (int, float))
        ratio = f"{c / p:.2f}x" if numbers and p else "-"
        show = (lambda v: f"{v:.4g}") if numbers else str
        print(f"{name:<28} {show(p):>12} {show(c):>12} {ratio:>7}")
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 411-420 or 1,3,5-7")
    ap.add_argument("--raw", help="append every run's result line here (JSON lines)")
    ap.add_argument("--layers", type=int, metavar="SEED",
                    help="after the A/B, one --trace 1 run per checkout; print the layers that moved")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    sides = {"parent": args.parent, "change": args.change}
    pairs, refused = [], []
    for i, seed in enumerate(seed_list(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        results, reasons = {}, []
        for side in order:
            result, reason = run_once(sides[side], args.workload, seed, seconds)
            results[side] = result
            if reason:
                reasons.append(f"{side}: {reason}")
            if args.raw:
                with open(args.raw, "a") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": seed,
                                        "side": side, "result": result}) + "\n")
        status = "REFUSED " + "; ".join(reasons) if reasons else "ok"
        print(f"seed {seed} ({order[0]} first): {status}", flush=True)
        (refused if reasons else pairs).append((seed, results))

    print(f"\n{args.workload}: {len(pairs)} pairs summarized, {len(refused)} refused"
          f" ({', '.join(str(s) for s, _ in refused) or 'none'})")
    if pairs:
        print(f"{'metric':<10} {'parent median [q1, q3]':<26} {'change median [q1, q3]':<26}"
              f" {'ratio':>6} {'wins':>6}  gain  bound")
        for m in metrics:
            name = m["name"]
            parent = [r["parent"]["metrics"][name]["value"] for _, r in pairs]
            change = [r["change"]["metrics"][name]["value"] for _, r in pairs]
            wins, gain, bound = verdicts(m, parent, change)
            pmed, cmed = statistics.median(parent), statistics.median(change)
            ratio = f"{cmed / pmed:.2f}x" if pmed else "-"
            print(f"{name:<10} {fmt(parent):<26} {fmt(change):<26} {ratio:>6}"
                  f" {wins:>2}/{len(pairs):<3}  {'yes' if gain else 'no ':<4}  {bound}")
    traced = args.layers is None or layers(
        bench["per_layer"], sides, args.workload, args.layers, seconds)
    return 1 if refused or not pairs or not traced else 0


if __name__ == "__main__":
    sys.exit(main())
