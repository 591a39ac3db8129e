"""Output checks, computed independently of the program.

Expected results come from the generator's own records (gen.py), never
from the program's SCD2 code; the program's stored tables are read back
with DuckDB. Registry results are compared with each query's DuckDB
oracle text the way the repository's correctness gate does it: columns
sorted by name, rows sorted, every value compared as a string.
"""
import glob
import hashlib
import json
import os

import duckdb

PIPELINE_CHECKS = {"nightly_batch": ("current_slice", "control", "hist_load"),
                   "stream_revisions": ("current_slice", "closed")}


def count(workload):
    """Number of final checks a run makes (each counts as one op)."""
    return len(PIPELINE_CHECKS.get(workload, ()))


def corrupt(workload, expected):
    """Alter the expected result so that a correct program must fail."""
    if workload == "registry_slice":
        expected["corrupt"] = True
    else:
        expected["rows"].append(("DHT99", "2024-01-01 00:00:00", "0.0", "0.0"))


def digest(rows):
    """Order-independent digest of rows of strings."""
    h = hashlib.sha256()
    for r in sorted("|".join("" if v is None else str(v) for v in row) for row in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _table(store, name):
    return f"read_parquet('{store}/{name}/**/*.parquet', hive_partitioning=true)"


def pipeline_checks(workload, store, plan, expected):
    con = duckdb.connect()
    bad = {}
    tgt = _table(store, "hist_dht11_data")
    cur = con.execute(
        f"SELECT deviceid, strftime(timestamp, '%Y-%m-%d %H:%M:%S'), humidity, temperature "
        f"FROM {tgt} WHERE da_current_flag = 'Y'").fetchall()
    if digest(cur) != digest(expected["rows"]):
        bad["current_slice"] = (f"current slice digest differs "
                                f"({len(cur)} rows, expected {len(expected['rows'])})")
    if workload == "stream_revisions":
        closed = con.execute(f"SELECT count(*) FROM {tgt} WHERE da_current_flag = 'N'").fetchone()[0]
        if closed != expected["closed"]:
            bad["closed"] = f"{closed} closed versions, expected {expected['closed']}"
        return bad
    ctl = con.execute(f"SELECT interface_cd, load_key, load_status FROM "
                      f"{_table(store, 'data_control_table')}").fetchall()
    want = sorted((d, k, "Success") for d, n in expected["control"].items()
                  for k in range(1, n + 1))
    if sorted(ctl) != want:
        bad["control"] = f"control rows differ ({len(ctl)} rows, expected {len(want)})"
    hist = con.execute(f"SELECT status, count(*) FROM "
                       f"{_table(store, 'hist_load_control')} GROUP BY 1").fetchall()
    if hist != [("processed", len(want))]:
        bad["hist_load"] = f"hist-load rows {hist}, expected {len(want)} processed"
    return bad


def registry_checks(work, tables, expected):
    """Per query: '' when the dump matches the oracle, else the reason."""
    con = duckdb.connect()
    for p in glob.glob(f"{tables}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{work}/dump/oracle_sql.json"))
    bad = {}
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{work}/dump/{name}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            bad[name] = str(e)[:300]
            continue
        if expected.get("corrupt") and i == 0:
            exp = exp.iloc[:0] if len(exp) else exp.head(1).copy()
            if len(exp) == len(got):  # both empty: still force a mismatch
                bad[name] = "corrupted expectation"
                continue
        if sorted(got.columns) != sorted(exp.columns):
            bad[name] = f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
            continue
        cols = sorted(got.columns)
        g = got[cols].sort_values(by=cols).reset_index(drop=True)
        e = exp[cols].sort_values(by=cols).reset_index(drop=True)
        rows = lambda df: [tuple(str(v) for v in r) for r in df.itertuples(index=False)]
        if len(g) != len(e):
            bad[name] = f"{len(g)} rows, oracle {len(e)}"
        elif rows(g) != rows(e):
            bad[name] = "values differ from oracle"
    missing = set(json.load(open(f"{work}/plan.json"))["queries"]) - set(oracle)
    for name in missing:
        bad[name] = "query has no oracle text"
    return bad


def run(workload, work, res, plan, expected):
    """Final checks; returns {check or query name: reason} for failures."""
    if workload == "registry_slice":
        return registry_checks(work, f"{work}/tables", expected)
    return pipeline_checks(workload, res["store"], plan, expected)


def derived_layers(plan, layers):
    """Layer metrics derived from harness counters and the input plan."""
    out = {}
    if plan.get("readings"):
        bytes_per_reading = plan["tree_bytes"] / plan["readings"]
        scanned = layers.get("ingest.mb_read", 0.0) * 1048576.0 / bytes_per_reading
        out["ingest.rows_scanned"] = scanned
        out["ingest.useful_ratio"] = (layers.get("ingest.rows_landed", 0.0) / scanned
                                      if scanned else 0.0)
    return out
