#!/usr/bin/env python3
"""The benchmark's own self-checks. Run from the repository root:

  python3 perfbench/selfcheck.py

1. the tail-percentile rule (at least ten samples beyond the reported one),
   and BENCHMARK.json declaring exactly the metrics run.py prints;
2. attribution of known calls in the tracer (perfbench.SelfCheck);
3. fail accounting: a corrupted expected digest must give failed > 0,
   correct = false and a non-zero exit.
Exits non-zero if any check fails.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def check_tail():
    v, label = run.tail([float(i) for i in range(1, 21)])
    assert v == 10.0 and label == "p50 of 20", (v, label)
    v, label = run.tail([float(i) for i in range(1, 101)])
    assert v == 90.0 and label == "p90 of 100", (v, label)
    for n in (11, 37, 250):
        s = [float(i) for i in range(n)]
        v, _ = run.tail(s)
        assert sum(x > v for x in s) == 10, n
    v, label = run.tail([3.0, 1.0, 2.0])
    assert v == 3.0 and label.startswith("max of 3"), (v, label)
    print("tail rule self-check passed")


def check_declared_metrics():
    """BENCHMARK.json must declare exactly the metrics run.py prints."""
    b = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    for key, ours in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = [(m["name"], m["unit"], m["better"]) for m in b[key]]
        assert declared == list(ours), f"BENCHMARK.json {key} differs from run.py"
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    print("declared metrics self-check passed")


def check_attribution():
    cp = run.build(time.monotonic() + 850.0)
    work = os.path.join(run.STATE, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *run.JDK_OPTS, f"-XX:SharedArchiveFile={run.CDS_ARCHIVE}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.SelfCheck", work, "2"]
    rc = run.run_proc(cmd, run.ROOT, time.monotonic() + 170.0, os.path.join(work, "log"))
    out = [ln for ln in open(os.path.join(work, "log")).read().splitlines()
           if ln.startswith(("attribution", "FAILED"))]
    print("\n".join(out))
    assert rc == 0, f"attribution self-check failed (rc={rc})"


def check_fail_accounting():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "nightly_batch", "--seed", "7", "--seconds", "5", "--trace", "0",
                        "--corrupt-expected"], cwd=run.ROOT, capture_output=True, text=True,
                       timeout=400)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert p.returncode != 0, "corrupted run exited 0"
    assert last["failed"] > 0 and not last["correct"], last
    print(f"fail accounting self-check passed: exit {p.returncode}, "
          f"failed {last['failed']} of {last['attempted']}")


if __name__ == "__main__":
    os.chdir(run.ROOT)
    check_tail()
    check_declared_metrics()
    check_attribution()
    check_fail_accounting()
    print("all self-checks passed")
