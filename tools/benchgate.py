#!/usr/bin/env python3
"""Mechanical per-query bench regression gate (VERDICT r5 #3).

Compares a bench run's per-query times against the committed
BENCH_BASELINE.json and FAILS (exit 1) on drift, so "is this round
slower?" stops being a judgment call.

Usage:
  tools/benchgate.py BENCH_BASELINE.json <bench-json>   # file or '-' = stdin

<bench-json> is the long Bench line: {"metric":"total",...,"queries":{...}}.
BENCH_BASELINE.json: {"sf": ..., "note": ..., "queries": {name: seconds},
"mad": {name: seconds}} — "mad" (optional) is the per-query median
absolute deviation of the baseline samples.

A query fails the gate when
  current > max(2 x median, median + 1.0s, median + 6 x MAD)
— the absolute slack keeps sub-second queries from flagging on scheduler
noise; the MAD term (VERDICT r9 #7) keeps queries whose BASELINE samples
already ran noisy from flagging inside their own observed variance band
(the gate false-failed whole rounds in r7/r8 under machine contention);
genuinely slow queries are held to the 2x contract. New queries (no
baseline) and retired queries are reported but never fail; refresh the
baseline when the set changes. A query the run lists under "failed"
(it threw, so it has no sample) always fails the gate.

Exit codes (ADVICE r7 #2 — the caller must be able to tell a crashed
gate from a missing baseline):
  0  pass
  1  fail (at least one reproducible per-query breach, or a failed query)
  2  usage / unparseable input
  3  baseline file missing
  4  unexpected crash (traceback printed)

Variance robustness also lives in the CALLER: graft.Bench parses this
script's FAIL lines, re-runs just the breaching queries on a fresh
session, substitutes the better sample (recording BOTH samples in the
artifact), and re-invokes the gate — so a single contended full run
cannot fail the round, while a reproducible regression fails both
samples and still gates. Recording a baseline should bypass that re-run
(SPARK_GRAFT_NO_RERUN=1).
"""
import json
import os
import sys
import traceback

MAD_K = 6.0


def gate() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    if not os.path.exists(sys.argv[1]):
        print(f"benchgate: baseline file '{sys.argv[1]}' does not exist — "
              "record one (per-query median of 3 restart-enabled Bench runs) "
              "and commit it; the gate cannot run without it")
        return 3
    base_doc = json.load(open(sys.argv[1]))
    baseline = base_doc["queries"]
    mad = base_doc.get("mad", {})
    raw = sys.stdin.read() if sys.argv[2] == "-" else open(sys.argv[2]).read()
    # tolerate surrounding log lines: take the last line with a queries map
    cur, cur_doc = None, {}
    for line in raw.splitlines():
        line = line.strip()
        if line.startswith("{") and '"queries"' in line:
            cur_doc = json.loads(line)
            cur = cur_doc["queries"]
    if cur is None:
        print("benchgate: no bench JSON line with a queries map found")
        return 2

    # correctness digest riding the bench channel (VERDICT r17 #1: the
    # driver's CORRECTNESS artifact landed empty two rounds running
    # while BENCH_r*.json landed fine — graft.Bench splices the latest
    # full-run Verify digest into its lines; surface it here so the
    # gate output carries it too)
    v = cur_doc.get("verify")
    if v:
        print(f"verify: ok={v.get('ok')} failed={v.get('failed')} of "
              f"{v.get('queries')} queries, ts={v.get('ts')} "
              f"(sf {v.get('sf')})")
    else:
        print("verify: no digest (VERIFY_LOCAL.json absent — run "
              "graft.Verify for the full registry)")

    # pair-count normalization (VERDICT r13 #1b): for queries declared
    # pair-bounded, scale the baseline by the draw's candidate-pair ratio
    # vs the baseline draw's — a dup-heavy re-roll is "more work", not a
    # regression. Ratio is clamped to >= 1 so a light draw still gets the
    # full 2x contract, and the scaled term never hides a genuine plan
    # regression on an equal-volume draw.
    pair_bounded = {**base_doc.get("pair_bounded", {}),
                    **cur_doc.get("pair_bounded", {})}
    np_base = base_doc.get("n_pairs", {})
    np_cur = cur_doc.get("n_pairs", {})

    # Cap the scale at 10x (ADVICE r14): an unbounded ratio would let a
    # regression that itself inflates the counter (e.g. minhashNearDups
    # emitting more candidate pairs) widen its own limit proportionally.
    # A >10x counter swing is adjudicated by a human, loudly.
    PAIR_SCALE_CAP = 10.0

    def pair_scale(name: str) -> float:
        c = pair_bounded.get(name)
        if c is None or c not in np_base or c not in np_cur:
            return 1.0
        if np_base[c] <= 0 or np_cur[c] <= 0:
            return 1.0
        ratio = np_cur[c] / np_base[c]
        if ratio > PAIR_SCALE_CAP:
            print(f"WARNING counter {c} ratio {ratio:.1f}x exceeds the "
                  f"{PAIR_SCALE_CAP:.0f}x sanity cap — limit scaled by the "
                  "cap only; adjudicate the swing by hand (a regression in "
                  "the counter's own producer could be hiding in it)")
        return min(max(1.0, ratio), PAIR_SCALE_CAP)

    crashed = sorted(cur_doc.get("failed", []))
    failed, new, gone = [], [], []
    for name, sec in sorted(cur.items()):
        base = baseline.get(name)
        if base is None:
            new.append(name)
            continue
        eff = base * pair_scale(name)
        limit = max(2.0 * eff, eff + 1.0, eff + MAD_K * mad.get(name, 0.0))
        if sec > limit:
            failed.append((name, base, sec, limit))
    for name in sorted(baseline):
        if name not in cur:
            gone.append(name)

    for name, base, sec, limit in failed:
        print(f"FAIL {name}: {sec:.2f}s vs baseline {base:.2f}s "
              f"(limit {limit:.2f}s, {sec / base:.1f}x)")
    for name in crashed:
        print(f"FAILED {name}: query threw (no sample)")
    if new:
        print(f"new (no baseline, not gated): {', '.join(new)}")
    if gone:
        print(f"in baseline but not run: {', '.join(gone)}")
    n_ok = len([n for n in cur if n in baseline]) - len(failed)
    print(f"{n_ok} within limits, {len(failed)} regressed, "
          f"{len(crashed)} failed, {len(new)} new, {len(gone)} missing")
    # machine-health stamp (VERDICT r10 #8): a FAIL on a contended window
    # must be distinguishable from a regression in the artifact itself
    if failed and cur_doc.get("env"):
        print(f"env: {cur_doc['env']} (probe {cur_doc.get('probe')}s vs "
              f"envelope {base_doc.get('probe')}s)")
    return 1 if failed or crashed else 0


def main() -> int:
    # a bare traceback exits 1 — indistinguishable from a legitimate gate
    # FAIL; catch it and exit on a code of its own
    try:
        return gate()
    except Exception:
        traceback.print_exc()
        print("benchgate: crashed (see traceback above)")
        return 4


if __name__ == "__main__":
    sys.exit(main())
