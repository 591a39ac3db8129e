"""Seeded input generator for the benchmark.

Everything the program reads is built here from the seed; the same seed
gives byte-identical inputs, and nothing outside the work directory is
read. `generate(workload, seed, seconds, out)` writes the inputs plus
`plan.json` (what the harness runs and the counts its op checks expect)
and returns (plan, expected, summary): `expected` is what the final checks
compare the program's stored results against, `summary` the input counts.

Source events mirror the star-schema `events` table of the repository's
test data (1,500 users, 30 days from 2024-01-01, ~3,333 events a day).
They become DHT11 readings:

  device       = DHT<user_id mod devices>    (deterministic user -> device)
  Timestamp    = event time truncated to the second, 'yyyy-MM-dd HH:mm:ss'
  Humidity,
  Temperature  = numeric strings derived from the event value

Firebase map keys are unique, so a (device, second) pair keeps exactly one
reading: the event with the smallest event_id.
"""
import datetime as dt
import json
import os

import numpy as np

START = dt.datetime(2024, 1, 1)
DAYS = 30
USERS = 1500
EVENTS_PER_DAY = 3333


def synth_events(seed, days=DAYS, users=USERS, per_day=EVENTS_PER_DAY):
    """Events as numpy columns: event_id, ts_us (from START), user_id, value."""
    rng = np.random.default_rng(seed)
    n = days * per_day
    day = np.repeat(np.arange(days, dtype=np.int64), per_day)
    ts = np.sort(day * 86_400_000_000 + rng.integers(0, 86_400_000_000, n))
    user = rng.integers(0, users, n)
    value = np.round(np.minimum(rng.exponential(55.0, n), 560.0), 2)
    return {"event_id": np.arange(n, dtype=np.int64), "ts_us": ts,
            "user_id": user, "value": value}


def fmt_ts(sec):
    return (START + dt.timedelta(seconds=int(sec))).strftime("%Y-%m-%d %H:%M:%S")


def payload(value, variant=0):
    """Humidity/Temperature strings for an event value; `variant` shifts
    both, so a re-sent reading can carry a changed payload."""
    hum = 20.0 + (value * 7.0 + variant * 3.1) % 70.0
    tmp = 15.0 + (value * 3.0 + variant * 1.7) % 25.0
    return f"{hum:.1f}", f"{tmp:.1f}"


def readings(events, devices):
    """{device: {second: value}}, one reading per (device, second): the
    event with the lowest event_id wins the key."""
    out = {f"DHT{d:02d}": {} for d in range(devices)}
    names = list(out)
    sec = (events["ts_us"] // 1_000_000).tolist()
    for s, u, v in zip(sec, events["user_id"].tolist(), events["value"].tolist()):
        dev = out[names[u % devices]]
        if s not in dev:              # events arrive in event_id order
            dev[s] = v
    return out


def tree(recs, variants=None):
    """Firebase `{date: {time: record}}` export of {second: value}."""
    t = {}
    for sec in sorted(recs):
        stamp = fmt_ts(sec)
        hum, tmp = payload(recs[sec], (variants or {}).get(sec, 0))
        t.setdefault(stamp[:10], {})[stamp[11:]] = {
            "TimeZone": "IST", "Humidity": hum, "Temperature": tmp,
            "Timestamp": stamp}
    return t


def by_day(recs):
    days = {}
    for sec, v in recs.items():
        days.setdefault(sec // 86400, {})[sec] = v
    return days


def write_json(path, obj, mtime=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"), sort_keys=True)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def current_rows(dev, recs, variants=None):
    """Expected current-slice rows (device, timestamp, humidity, temperature)."""
    return [(dev, fmt_ts(s), *payload(v, (variants or {}).get(s, 0)))
            for s, v in recs.items()]


def warm_tree(out):
    """Two small throwaway day files for set-up (one device, 200 readings a
    day on 2024-01-01 and 2024-01-02); the stream warm-up takes them one per
    micro-batch, so its second batch meets a non-empty target."""
    for d in range(2):
        recs = {d * 86400 + i * 400: float(i % 97 + d) for i in range(200)}
        write_json(f"{out}/warm/w{d}.json", tree(recs), mtime=1_700_000_000 + d)


# --------------------------------------------------------------------------
# workloads. `seconds` sizes the timed work from fixed per-op rates measured
# on a 4-core machine (~5 s a pipeline run, ~3 s a micro-batch, ~6 s a
# registry pass), never from the speed of the commit under test. The sizes
# are small because every run pays ~15 s of JVM start and JIT warm-up, and
# all runs of all workloads must fit one fixed time budget.

def gen_nightly(out, seed, seconds):
    """Devices run one after another each night, device i of n starting
    n - i seconds before midnight, so every run has its own `now` (its
    watermark). Readings of a day's last seconds are re-read by the next
    night's run (ts >= previous start) and absorb as unchanged; the expected
    counts include them."""
    devices, days = 2, max(1, round(seconds / 5))
    recs = readings(synth_events(seed), devices)
    plan = {"devices": sorted(recs), "days": [], "readings": 0, "tree_bytes": 0}
    expected = {"rows": [], "control": {}}
    runs = {}
    for i, (dev, r) in enumerate(sorted(recs.items())):
        per_day = by_day(r)
        kept, prev = {}, None
        for d in range(days):
            day_recs = per_day.get(d, {})
            plan["tree_bytes"] += write_json(f"{out}/trees/{dev}/day{d:02d}.json", tree(day_recs))
            kept.update(day_recs)
            now = (d + 1) * 86400 - (devices - i)
            ingested = sum(1 for s in kept if prev is None or s >= prev)
            runs.setdefault(d, {})[dev] = {"now": fmt_ts(now), "ingested": ingested,
                                           "inserted": len(day_recs)}
            prev = now
        expected["rows"] += current_rows(dev, kept)
        expected["control"][dev] = days
    for d in range(days):
        plan["days"].append({"day": d, "runs": runs[d]})
        plan["readings"] += sum(x["ingested"] for x in runs[d].values())
    summary = {"readings": plan["readings"], "devices": devices, "days": days}
    return plan, expected, summary


def gen_stream(out, seed, seconds):
    """Per device: day files, and at the head of every micro-batch after
    the first a revision file re-sending readings of earlier micro-batches
    (alternately changed and identical). Files are ordered by mtime, so
    micro-batch i is files [i*max_files, (i+1)*max_files) and a revision
    never shares a micro-batch with a reading it re-sends."""
    devices, max_files, resend_rows = 1, 3, 120
    days = max(2, round(seconds * 0.7))
    recs = readings(synth_events(seed), devices)
    rng = np.random.default_rng(seed + 2)
    plan = {"devices": sorted(recs), "max_files": max_files, "batch_rows": {},
            "batch_new": {}, "readings": 0, "tree_bytes": 0}
    expected = {"rows": [], "closed": 0}
    u = nc = files_total = 0
    for dev, r in sorted(recs.items()):
        per_day = by_day(r)
        files, variants, sent, earlier = [], {}, [], []
        d = 0
        while d < days:
            if len(files) % max_files == 0:
                earlier = list(sent)      # keys of strictly earlier batches
                if earlier:
                    pick = rng.choice(len(earlier), size=min(resend_rows, len(earlier)),
                                      replace=False)
                    rs, rv, changed = {}, {}, 0
                    for j, i in enumerate(sorted(int(x) for x in pick)):
                        s = earlier[i]
                        if j % 2 == 0:
                            variants[s] = variants.get(s, 0) + 1
                            changed += 1
                        rs[s], rv[s] = r[s], variants.get(s, 0)
                    files.append((rs, rv, changed))
                    u += changed
                    nc += len(rs) - changed
                    continue
            dr = per_day.get(d, {})
            files.append((dr, None, len(dr)))
            sent += sorted(dr)
            d += 1
        rows, new = [], []
        for i, (recs_i, var_i, made) in enumerate(files):
            plan["tree_bytes"] += write_json(f"{out}/streams/{dev}/f{i:03d}.json",
                                             tree(recs_i, var_i), mtime=1_700_000_000 + i)
            if i % max_files == 0:
                rows.append(0)
                new.append(0)
            rows[-1] += len(recs_i)
            new[-1] += made
        plan["batch_rows"][dev], plan["batch_new"][dev] = rows, new
        plan["readings"] += sum(rows)
        files_total += len(files)
        kept = {}
        for k in range(days):
            kept.update(per_day.get(k, {}))
        expected["rows"] += current_rows(dev, kept, variants)
    expected["closed"] = u
    summary = {"readings": plan["readings"], "devices": devices, "days": days,
               "files": files_total, "resend_u": u, "resend_nc": nc}
    return plan, expected, summary


# Plain SQL (an aggregate, a 12-exchange join), the SCD2 face, and a
# checkpoint-heavy extension family.
REGISTRY_QUERIES = ["q1_agg", "q_sql_q2", "q_scd2_asof", "q_dedup_ngram_jaccard"]


def gen_registry(out, seed, seconds):
    """The registry's ten star-schema tables, at the shape and value
    domains of the repository's smallest test scale (6,000 line items)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    tdir = f"{out}/tables"
    os.makedirs(tdir, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), f"{tdir}/{name}.parquet")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": regions})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_supp, n_part, n_orders, n_cust = 10, 200, 1500, 150
    save("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = ["cold", "small", "big", "fast", "red", "blue"]
    save("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[int(i)]} widget" for i in rng.integers(0, len(adj), n_part)],
        "p_brand": [f"Brand#{int(i)}" for i in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"][int(i)]
                   for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    epoch = np.datetime64("1995-01-01")
    odate = epoch + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    save("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][int(i)] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][int(i)] for i in rng.integers(0, 5, n_orders)]})
    n_li = 6000
    okey = np.sort(rng.integers(0, n_orders, n_li))
    lnum = np.zeros(n_li, dtype=np.int32)
    for i in range(1, n_li):
        lnum[i] = lnum[i - 1] + 1 if okey[i] == okey[i - 1] else 0
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[okey] + rng.integers(1, 400, n_li).astype("timedelta64[D]")
    save("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][int(i)] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][int(i)] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})
    vocab = ("batch part spark line column order small sort fast value scan a hash "
             "slow group agg filter query big key window row table stream merge "
             "data the join vector customer").split()
    n_docs = 500
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:           # near-duplicates of an earlier document
            words = texts[i - 9].split()
            words[int(rng.integers(len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[int(w)] for w in
                                  rng.integers(0, len(vocab), int(rng.integers(10, 90)))))
    save("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [["en", "en", "de", "fr", "es", "zh"][int(i)]
                 for i in rng.integers(0, 6, n_docs)],
        "source": [f"src{int(i)}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
    save("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [segs[int(i)] for i in rng.integers(0, 5, n_cust)]})
    ev = synth_events(seed, days=30, users=100, per_day=34)
    kinds = ["signup", "click", "error", "view", "purchase"]
    save("events", {
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01") + ev["ts_us"].astype("timedelta64[us]"))),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": [kinds[int(i)] for i in rng.integers(0, 5, len(ev["event_id"]))],
        "value": ev["value"],
        "props": [f'{{"k": {int(i)}}}' for i in rng.integers(0, 100, len(ev["event_id"]))]})
    n_vec = 500
    vecs = rng.normal(0, 0.12, (n_vec, 64)).astype(np.float32)
    save("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    passes = max(1, round(seconds / 10))
    plan = {"queries": REGISTRY_QUERIES, "passes": passes}
    summary = {"queries": len(REGISTRY_QUERIES), "passes": passes,
               "lineitem": n_li, "documents": n_docs}
    return plan, {}, summary


GENERATORS = {"nightly_batch": gen_nightly, "stream_revisions": gen_stream,
              "registry_slice": gen_registry}


def generate(workload, seed, seconds, out):
    plan, expected, summary = GENERATORS[workload](out, seed, seconds)
    if workload != "registry_slice":
        warm_tree(out)
    plan["setup_reps"] = 1
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    summary = {"workload": workload, "seed": seed, **summary}
    return plan, expected, summary
