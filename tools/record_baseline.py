#!/usr/bin/env python3
"""Record BENCH_BASELINE.json with the documented recipe: N (default 3)
restart-enabled whole-set Bench runs, per-query MEDIAN plus MAD (median
absolute deviation) — the variance floor benchgate.py uses so queries
whose baseline samples already ran noisy don't flag inside their own
observed band (VERDICT r9 #7).

Usage:
  tools/record_baseline.py [runs] [note...] [--draw2 <dir>]
      [--cross <bench-local.json>] [--cross-exclude q1,q2,...]

--draw2 <dir> (the VERDICT r14 #6 recipe): point at a SECOND independent
same-code draw (generate one with tools/make_draw.py) — one extra Bench
run on it folds an observed cross-draw spread into EVERY query's MAD in
the same refresh, so no query ships with single-draw variance.

Runs graft.Bench via tools/run.sh with SPARK_GRAFT_NO_RERUN=1 (a
baseline must not inherit best-of-two adjudication samples) and default
restarts. Writes BENCH_BASELINE.json in the repo root.
"""
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(i, sf_dir=None) -> tuple:
    env = dict(os.environ, SPARK_GRAFT_NO_RERUN="1")
    if sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
    t0 = time.time()
    p = subprocess.run([os.path.join(ROOT, "tools/run.sh"), "graft.Bench"],
                       env=env, capture_output=True, text=True, cwd=ROOT)
    qs, probe, n_pairs, pair_bounded = None, None, {}, {}
    for line in p.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"queries"' in line:
            doc = json.loads(line)
            qs = doc["queries"]
            probe = doc.get("probe")
            n_pairs = doc.get("n_pairs", {})
            pair_bounded = doc.get("pair_bounded", {})
    if qs is None:
        sys.stderr.write(p.stdout[-2000:] + "\n" + p.stderr[-2000:] + "\n")
        raise SystemExit(f"run {i}: no bench line found")
    if doc.get("failed"):
        raise SystemExit(f"run {i}: queries failed, no baseline sample: "
                         f"{', '.join(doc['failed'])}")
    print(f"run {i}: {sum(qs.values()):.1f} s over {len(qs)} queries "
          f"(probe {probe}, {time.time() - t0:.0f} s wall)")
    return qs, probe, n_pairs, pair_bounded


def parse_cross(argv):
    """Pop --cross <bench-local.json> [--cross-exclude q1,q2,...] flags.

    Cross-draw variance folding (VERDICT r13 #6): the driver regenerates
    the sf0.1 testdata every round, so a prior round's committed quiet
    BENCH_LOCAL.json is a per-query sample on an INDEPENDENT draw. For
    every query present in both (and not excluded because its
    implementation changed between the rounds — the prior time would
    price code, not draw), the |median_now − prior| spread folds into
    the MAD column as spread/6, so benchgate's base + 6·MAD limit
    tolerates at least one observed cross-draw swing.
    """
    cross, excl, draw2 = {}, set(), None
    rest = []
    i = 0
    while i < len(argv):
        if argv[i] == "--cross" and i + 1 < len(argv):
            doc = json.load(open(argv[i + 1]))
            cross = doc.get("queries", {})
            i += 2
        elif argv[i] == "--cross-exclude" and i + 1 < len(argv):
            excl = set(argv[i + 1].split(","))
            i += 2
        elif argv[i] == "--draw2" and i + 1 < len(argv):
            draw2 = argv[i + 1]
            i += 2
        else:
            rest.append(argv[i])
            i += 1
    return cross, excl, draw2, rest


def main() -> None:
    cross, cross_excl, draw2, argv = parse_cross(sys.argv[1:])
    runs = int(argv[0]) if argv else 3
    note_extra = " ".join(argv[1:])
    pairs = [one_run(i + 1) for i in range(runs)]
    # --draw2 <dir> (VERDICT r14 #6): one additional run on an
    # INDEPENDENT same-code draw (tools/make_draw.py) in the SAME
    # refresh, so EVERY query — including brand-new ones — gets an
    # observed cross-draw spread folded into its MAD, instead of new
    # queries inheriting a single-draw MAD that a 2x draw swing blows
    # through (the r14 q_sketch_hll_merge hole). Pair-/work-counter-
    # bounded queries normalize the draw2 time by the counter ratio
    # first — benchgate scales their limits the same way at compare
    # time, so MAD should carry only the RESIDUAL draw variance.
    draw2_t, draw2_np = {}, {}
    if draw2:
        print(f"draw2 run on {draw2}:")
        draw2_t, _, draw2_np, _ = one_run(0, sf_dir=draw2)
    samples = [qs for qs, _, _, _ in pairs]
    probes = [p for _, p, _, _ in pairs if p is not None and p > 0]
    # pair-count counters (VERDICT r13 #1b): the baseline draw's
    # candidate-pair volume, per counter — benchgate scales pair-bounded
    # queries' limits by (current / baseline) counter ratio
    counter_names = sorted(set().union(*[set(np) for _, _, np, _ in pairs]))
    n_pairs = {c: int(statistics.median(
        [np[c] for _, _, np, _ in pairs if c in np])) for c in counter_names}
    pair_bounded = {}
    for _, _, _, pb in pairs:
        pair_bounded.update(pb)
    names = sorted(set().union(*[set(s) for s in samples]))
    queries, mad = {}, {}
    n_folded = 0
    for n in names:
        xs = sorted(s[n] for s in samples if n in s)
        med = statistics.median(xs)
        queries[n] = round(med, 3)
        m = statistics.median([abs(x - med) for x in xs])
        # cross-draw spread fold (see parse_cross): 6·MAD must cover at
        # least one observed independent-draw swing
        if n in cross and n not in cross_excl:
            spread = abs(med - cross[n])
            if spread / 6.0 > m:
                m = spread / 6.0
                n_folded += 1
        if n in draw2_t:
            t2 = draw2_t[n]
            c = pair_bounded.get(n)
            if c and n_pairs.get(c, 0) > 0 and draw2_np.get(c, 0) > 0:
                t2 *= n_pairs[c] / draw2_np[c]
            spread = abs(med - t2)
            if spread / 6.0 > m:
                m = spread / 6.0
                n_folded += 1
        mad[n] = round(m, 3)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cross_note = (f" Cross-draw MAD folded from a prior-round quiet run "
                  f"({len(cross)} queries available, {n_folded} widened, "
                  f"{len(cross_excl)} excluded as code-changed)."
                  if cross else "")
    if draw2:
        cross_note += (f" Cross-draw MAD folded from a SAME-CODE second "
                       f"independent draw ({draw2}, tools/make_draw.py: "
                       f"{len(draw2_t)} queries, counter-normalized for "
                       f"work-counter-bounded ones; {n_folded} widened in "
                       f"total) — no query carries single-draw MAD.")
    note = (f"per-query median + MAD of {runs} restart-enabled Bench runs "
            f"(SPARK_GRAFT_NO_RERUN=1, local[32]) over {len(names)} queries; "
            f"refresh with tools/record_baseline.py.{cross_note} "
            f"{note_extra}").strip()
    doc = {"sf": sf, "note": note, "queries": queries, "mad": mad}
    if n_pairs:
        doc["n_pairs"] = n_pairs
        doc["pair_bounded"] = pair_bounded
    if probes:
        # calibration-probe envelope: a future Bench run whose probe
        # exceeds max(2x, +0.5s) of this stamps itself "env":"contended"
        doc["probe"] = round(statistics.median(probes), 3)
    out = os.path.join(ROOT, "BENCH_BASELINE.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out}: {len(names)} queries, total median "
          f"{sum(queries.values()):.1f} s")


if __name__ == "__main__":
    main()
