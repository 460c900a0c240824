"""Seeded input generation for the graft benchmark.

Batch tables follow the testdata layout that graft.Tables reads (one parquet
file per table, TPC-H-ish star schema plus events, documents and
embeddings) and are generated from a fixed data seed, so the expected
fingerprints in expected.json stay valid. The --seed of a run fixes only
what the workload varies: the SSE frame logs (contents, frame-shape mix,
interleaving across logs) and the batch query order.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
BATCH_SF = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng, lo, hi, n):
    """n midnight timestamps uniform over [lo, hi] (inclusive dates)."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def events_frame(rng, n, n_users, start="2024-01-01"):
    """Event rows in time order: ~30 days of exponential inter-arrivals."""
    gaps = rng.exponential(30 * 86400.0 / n, n)
    ts = np.datetime64(start, "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def batch_tables(out, sf=BATCH_SF, seed=DATA_SEED):
    """Write the ten parquet tables graft.Tables reads."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), max(500, int(20000 * sf))
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    ev = events_frame(rng, n_ev, int(15000 * sf))
    _write(out, "events", {
        "event_id": ev["event_id"], "ts": ev["ts"], "user_id": ev["user_id"],
        "event_type": ev["event_type"], "value": ev["value"],
        "props": [f'{{"k": {k}}}' for k in ev["k"]]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            w = texts[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = "dup"
        else:
            w = list(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        texts.append(" ".join(w))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    v = centroids[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def payload(event_id, ts_us, event_type, user_id, k):
    """Wikimedia recentchange-shaped data payload, byte-identical to
    graft.operators.Events.payloadFrame for the same event columns."""
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(ts_us))
    props = f'{{"k": {k}}}'
    return ('{"$schema":"/mediawiki/recentchange/1.0.0","meta":{"id":"%d","dt":"%s",'
            '"domain":"graft.test","stream":"graft.%s"},"id":%d,"type":"%s",'
            '"title":"Page_%d","namespace":%d,"bot":%s,"length":{"old":%d,"new":%d}}'
            % (event_id, t.strftime("%Y-%m-%dT%H:%M:%SZ"), event_type, event_id,
               event_type, k, user_id % 16, "true" if user_id % 7 == 0 else "false",
               len(props), len(props) + event_id % 1000))


def frame(rng, event_id, data, event_type):
    """One SSE frame with a seeded shape: ~10% id-less, ~10% with the data
    split over two `data:` lines, ~5% preceded by a comment line."""
    r = rng.random(3)
    lines = [": keepalive"] if r[0] < 0.05 else []
    lines.append(f"event: {event_type}")
    if r[1] >= 0.10:
        lines.append(f"id: {event_id}")
    if r[2] < 0.10:
        cut = data.index(',"id":') + 1  # between JSON members: newline is whitespace
        lines += [f"data: {data[:cut]}", f"data: {data[cut:]}"]
    else:
        lines.append(f"data: {data}")
    return "\n".join(lines) + "\n\n"


def stream_events(rng, n):
    """n events for the SSE workloads; ts, type and payload from the seed."""
    ev = events_frame(rng, n, 1500)
    ts_us = (ev["ts"] - EPOCH).astype(np.int64)
    return ev, ts_us


def sse_logs(out, seed, n_logs, n_events):
    """Frame logs for sse_replay: `n_events` seeded events, each assigned to
    one of `n_logs` logs by the seed (time order kept within a log).
    Returns the expected windowed counts {(hour_start_us, type): [n, sum]}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    ev, ts_us = stream_events(rng, n_events)
    which = rng.integers(0, n_logs, n_events)
    files = [open(os.path.join(out, f"log-{i:04d}.sselog"), "w", encoding="utf-8")
             for i in range(n_logs)]
    expected = {}
    hour = 3600 * 10**6
    for i in range(n_events):
        t, et, eid = int(ts_us[i]), str(ev["event_type"][i]), int(ev["event_id"][i])
        data = payload(eid, t, et, int(ev["user_id"][i]), int(ev["k"][i]))
        files[which[i]].write(frame(rng, eid, data, et))
        key = (t // 10**6 * 10**6 // hour * hour, et)
        c = expected.setdefault(key, [0, 0])
        c[0] += 1
        c[1] += eid % 1000  # delta = length.new - length.old
    for f in files:
        f.close()
    return expected
