#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
program and the harness from source (perfbench/harness, sbt) and writes a
class-data-sharing archive; later runs reuse both while the sources are
unchanged. Each run generates its
inputs from the seed (gen.py), starts one JVM at local[nproc] that sets up,
runs the workload's timed phase and writes its raw samples, then checks the
program's outputs (checks.py) and prints, as the last line of standard
output, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).
Any failed op or check makes the exit code non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(HERE, ".work")
CDS_ARCHIVE = os.path.join(STATE, "classes.jsa")
DEADLINE_S = 170.0
WORKLOADS = ("nightly_batch", "stream_revisions", "registry_slice")
SAMPLE_KIND = {"nightly_batch": "run", "stream_revisions": "batch", "registry_slice": "query"}
# (name, unit, better); BENCHMARK.json declares the same lists
END_TO_END = [("setup_s", "s", "lower"), ("wall_norm", "x", "lower"),
              ("cpu_norm", "x", "lower"), ("store_mb", "MB", "lower")]
MODULES = ("pipeline", "ingest", "stage", "scd2", "store", "control", "streaming", "registry")
PER_LAYER = [
    ("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
    ("spark.task_p50_ms", "ms", "lower"), ("spark.task_max_ms", "ms", "lower"),
    ("spark.gc_share", "share", "lower"), ("spark.core_busy_share", "share", "higher"),
    ("spark.unattributed_share", "share", "lower"), ("jvm.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    *[(f"{m}.{k}", u, "lower") for m in MODULES
      for k, u in (("jobs_per_op", "count"), ("time_share", "share"))],
    ("pipeline.driver_share", "share", "lower"), ("pipeline.retries", "count", "lower"),
    ("pipeline.run_growth", "ratio", "lower"),
    ("control.incl_store_share", "share", "lower"), ("control.files", "count", "lower"),
    ("ingest.scan_share", "share", "lower"), ("ingest.mb_read", "MB", "lower"),
    ("ingest.rows_scanned", "count", "lower"), ("ingest.rows_landed", "count", "higher"),
    ("ingest.useful_ratio", "ratio", "higher"),
    ("stage.int_files", "count", "lower"),
    ("scd2.shuffle_mb", "MB", "lower"), ("scd2.inserted", "count", "higher"),
    ("scd2.updated", "count", "higher"), ("scd2.unchanged", "count", "higher"),
    ("scd2.closed", "count", "higher"), ("scd2.buckets_touched_ratio", "ratio", "lower"),
    ("store.files_written", "count", "lower"), ("store.mb_written", "MB", "lower"),
    ("store.write_amp", "ratio", "lower"), ("store.target_files", "count", "lower"),
    ("streaming.offsets_share", "share", "lower"),
    ("streaming.planning_share", "share", "lower"),
    ("streaming.add_batch_share", "share", "lower"),
    ("streaming.commit_share", "share", "lower"),
    ("streaming.backlog_files", "count", "lower"),
    ("streaming.jobs_per_batch", "count", "lower"),
    ("registry.planning_share", "share", "lower"),
    ("registry.jobs_per_query", "count", "lower"), ("registry.cp_jobs", "count", "lower"),
    ("registry.exchanges", "count", "lower"), ("registry.shuffle_mb", "MB", "lower"),
    ("registry.spill_mb", "MB", "lower"), ("registry.task_skew", "ratio", "lower"),
]
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# C1 only: a run is a ~40 s process, and C2 compiler threads compete with
# the task threads for the cores (measured: set-up and op latency ~12 %
# lower without C2 on a 4-core host). Same flags on every commit.
JDK_OPTS = [*JDK_OPENS, "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            "-Duser.timezone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, deadline, out_path, env=None):
    """Run `cmd` in its own process group until done or `deadline`
    (monotonic); on timeout, or if this process is told to stop, the whole
    group is killed and waited for."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), HARNESS, os.path.abspath(__file__)]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in d.split(os.sep) and "project/project" not in d)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile program + harness with sbt (offline) and cache the jar
    classpath; then write a class-data-sharing archive of the classes a
    Spark session loads, which every run maps instead of loading them."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"program sources missing: {need}")
    os.makedirs(STATE, exist_ok=True)
    cp_file, stamp_file = os.path.join(STATE, "classpath"), os.path.join(STATE, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and os.path.exists(CDS_ARCHIVE) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    for f in (stamp_file, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(STATE, "build.log")
    log("building program and harness (sbt) ...")
    t0 = time.monotonic()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspathAsJars"], HARNESS, deadline, log_path, env)
    lines = open(log_path).read().splitlines()
    cps = [ln for ln in lines if ln.startswith(os.sep) and ".jar" in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (rc={rc}); see {log_path}")
    # the archive run is the attribution self-check: a session, a few
    # store and control-table jobs
    work = os.path.join(STATE, "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rc = run_proc(["java", *JDK_OPTS, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}",
                   f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cps[-1],
                   "perfbench.SelfCheck", work, "2"], ROOT, deadline,
                  os.path.join(work, "log"))
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    if rc != 0 or not os.path.exists(CDS_ARCHIVE):
        raise SystemExit(f"class-data archive run failed (rc={rc}); see {work}/log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.monotonic() - t0:.0f}s")
    return cps[-1]


def tail(samples):
    """(value, percentile label): the highest sample that still has at
    least ten samples beyond it. With fewer than 11 samples there is none;
    the maximum is reported and the label says so."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return (s[-1] if s else 0.0), f"max of {n} (fewer than 11 samples)"
    k = n - 11
    return s[k], f"p{100.0 * (k + 1) / n:.0f} of {n}"


def dir_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            fp = os.path.join(d, f)
            if os.path.isfile(fp) and not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total / 1048576.0


def metric(v, unit):
    return {"value": v, "unit": unit}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-check: alter the expected result so the check must fail")
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    os.chdir(ROOT)
    cp = build(time.monotonic() + 850.0)
    # builds may take up to 900 s once per checkout; the run budget starts here
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 10.0)

    work = os.path.join(STATE, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t_gen = time.monotonic()
    plan, expected, summary = gen.generate(a.workload, a.seed, a.seconds, work)
    summary["gen_s"] = round(time.monotonic() - t_gen, 3)
    print("inputs " + json.dumps(summary, sort_keys=True), flush=True)
    if a.corrupt_expected:
        checks.corrupt(a.workload, expected)

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    cmd = ["java", *JDK_OPTS, f"-XX:SharedArchiveFile={CDS_ARCHIVE}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
           work, a.workload, str(a.trace), str(cpus)]
    try:
        rc = run_proc(cmd, ROOT, deadline, os.path.join(work, "harness.log"))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"harness exceeded {DEADLINE_S:.0f}s; see {work}/harness.log")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-4000:])
        raise SystemExit(f"harness failed (rc={rc}); see {work}/harness.log")
    res = json.load(open(os.path.join(work, "result.json")))

    ops = res["ops"] + res.get("traced", {}).get("ops", [])
    bad_checks = checks.run(a.workload, work, res, plan, expected)
    # a query whose result fails its oracle fails every op of that query
    for op in ops:
        if op["kind"] == "query" and op["name"] in bad_checks:
            op["ok"] = False
    final_checks = [k for k in bad_checks if k not in {o["name"] for o in ops}]
    attempted = len(ops) + checks.count(a.workload)
    failed = sum(not o["ok"] for o in ops) + len(final_checks)
    for o in ops:
        if not o["ok"]:
            log(f"FAILED {o['kind']} {o['name']}: {o['error'] or 'output check'}")
    for k in bad_checks:
        log(f"FAILED check {k}: {bad_checks[k]}")

    kind = SAMPLE_KIND[a.workload]
    samples = [o["s"] for o in res["ops"] if o["kind"] == kind and o["ok"]]
    t_val, t_label = tail(samples)
    if a.workload == "registry_slice":
        store_mb = dir_mb(os.path.join(work, "dump")) + dir_mb(os.path.join(work, "tmp"))
    else:
        store_mb = dir_mb(res["store"])
    values = {"setup_s": res["setup_s"], "wall_norm": res["wall_s"] / res["probe_wall_s"],
              "cpu_norm": res["cpu_s"] / res["probe_cpu_s"], "store_mb": store_mb}
    p50 = statistics.median(samples) if samples else 0.0
    print(f"wall {res['wall_s']:.3f}s, cpu {res['cpu_s']:.3f}s, host probe wall "
          f"{res['probe_wall_s']:.3f}s cpu {res['probe_cpu_s']:.3f}s; {len(samples)} {kind} ops, median {p50:.3f}s, "
          f"tail {t_val:.3f}s ({t_label}); rows {res['rows']}; set-up {res['setup_s']:.3f}s "
          f"of which SparkSession {res['session_s']:.3f}s", flush=True)

    if a.trace:
        layers = dict(res["layers"])
        layers.update(checks.derived_layers(plan, layers))
        metrics = {n: metric(layers.get(n, 0.0), u) for n, u, _ in PER_LAYER}
        print(f"traced pass: spans {work}/spans.json, jobs {work}/jobs.json", flush=True)
    else:
        metrics = {n: metric(values[n], u) for n, u, _ in END_TO_END}
    correct = failed == 0 and not bad_checks
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
