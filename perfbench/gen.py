"""Seeded input generators for the three workloads.

Every generator takes a seed and returns plain Python data; the same seed
always gives the same inputs. `write_*` functions put those inputs on disk
in the line formats the Scala harness reads (tab-separated, floats in
Python's round-trip repr so both sides see the same doubles).
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z: every generated store starts at a UTC midnight, so
# Hours and Days buckets line up with the batch windows.
EPOCH0 = 1704067200

# ---- traffic parameters (also summarised in BENCHMARK.json) -------------

# store_ingest declares 100 raw + 20 derived streams, so per-stream costs
# (cascade width, ladder fan-out) carry real weight, and sends 12k points
# per batch, a third of a 36k-point batch, so that a run fits the
# benchmark's time budget. Measured on 4 cores: a warm batch of 36k points
# over these streams took 17-20 s and a whole run 80 s; 12k points take
# 14 s and a run 58 s; 320 points over 8 raw + 3 derived streams took 11 s.
INGEST = dict(
    raw_streams=100,         # gauges and counters, Seconds granularity
    counters=20,             # of the raw streams, monotone counters
    derivative=8,            # derived: derivative of one gauge each
    counter_derivative=6,    # derived: counter_derivative of one counter each
    sum=6,                   # derived: sum of two gauges each
    points_per_stream=120,   # per batch, at distinct seconds
    batch_span_s=8 * 3600,   # simulated time one batch covers
    batches=8,               # more than a run uses; the loop stops on time
    out_of_order=0.25,       # share of each batch's rows moved out of t order
    redeliver_every=3,       # every third operation re-sends the previous batch
)
# Set-up ingests batch 0 and then re-sends it, so every run warms up and
# checks the re-delivery path even when its timed window holds one batch.
# Timed operations then go batch 1, batch 2, re-send 2, batch 3, ...: a run
# reaches the timed re-sends only when three operations fit its window, and
# placing them third keeps the median latency of a short window a fresh
# batch's.
INGEST_WARMUP_OPS = 2

DASHBOARD = dict(
    raw_streams=16,
    derivative=4,
    span_days=4,
    step_s=120,              # mean gap between a stream's points
    load_batches=2,          # the store is ingested in this many appends
    requests=4000,           # more than a run can use; the loop stops on time
    # (share, granularity, min range s, max range s)
    mix=[
        (0.35, "seconds", 600, 3600),
        (0.25, "minutes", 3 * 3600, 12 * 3600),
        (0.20, "hours", 86400, 3 * 86400),
        (0.10, "days", 2 * 86400, 4 * 86400),
        (0.05, "seconds10", 3600, 4 * 3600),
    ],
    find_share=0.05,
)

GATE = dict(
    lineitem=60000, orders=15000, customer=1500, part=2000, supplier=100,
    events=10000, documents=500, embeddings=500, dim=64,
)


# ---- store_ingest --------------------------------------------------------

def ingest_streams(p=INGEST):
    """Stream declarations: (name, kind, sources). Raw streams come first,
    so a derived stream always names streams declared before it."""
    raw = [f"r{i:03d}" for i in range(p["raw_streams"])]
    counters = raw[:p["counters"]]
    gauges = raw[p["counters"]:]
    out = [(n, "counter" if n in counters else "gauge", []) for n in raw]
    out += [(f"d{i:03d}", "derivative", [gauges[i % len(gauges)]])
            for i in range(p["derivative"])]
    out += [(f"c{i:03d}", "counter_derivative", [counters[i % len(counters)]])
            for i in range(p["counter_derivative"])]
    out += [(f"s{i:03d}", "sum", [gauges[(2 * i) % len(gauges)],
                                   gauges[(2 * i + 1) % len(gauges)]])
            for i in range(p["sum"])]
    return out


def ingest_batches(seed, p=INGEST):
    """Time-ordered batches: a list of (batch_end_epoch_s, rows) where rows
    are (stream, epoch_s, value). Batch k covers [start_k, end_k)."""
    rng = random.Random(seed)
    streams = [s for s in ingest_streams(p) if s[1] in ("gauge", "counter")]
    level = {n: rng.uniform(50.0, 150.0) for n, _, _ in streams}
    span = p["batch_span_s"]
    out = []
    for k in range(p["batches"]):
        start = EPOCH0 + k * span
        rows = []
        for name, kind, _ in streams:
            secs = sorted(rng.sample(range(start, start + span),
                                     p["points_per_stream"]))
            for t in secs:
                if kind == "counter":
                    level[name] += rng.randint(0, 500)
                else:
                    level[name] += rng.uniform(-5.0, 5.0)
                rows.append((name, t, round(level[name], 3)))
        rows.sort(key=lambda r: (r[1], r[0]))
        n_move = int(len(rows) * p["out_of_order"])
        for _ in range(n_move):
            i, j = rng.randrange(len(rows)), rng.randrange(len(rows))
            rows[i], rows[j] = rows[j], rows[i]
        out.append((start + span, rows))
    return out


def ingest_ops(p=INGEST):
    """The operation sequence as batch indexes, the INGEST_WARMUP_OPS
    warm-up operations first. A repeated index is an exact re-delivery."""
    ops, nxt = [0, 0], 1
    while nxt < p["batches"]:
        if len(ops) % p["redeliver_every"] == 1:
            ops.append(nxt - 1)
        else:
            ops.append(nxt)
            nxt += 1
    return ops


# ---- store_dashboard -----------------------------------------------------

def dashboard_streams(p=DASHBOARD):
    raw = [(f"g{i:03d}", "gauge", []) for i in range(p["raw_streams"])]
    der = [(f"d{i:03d}", "derivative", [raw[i % len(raw)][0]])
           for i in range(p["derivative"])]
    return raw + der


def dashboard_tags(name):
    """Tags a dashboard stream is declared with; findStreams queries these."""
    if name.startswith("g"):
        i = int(name[1:])
        return {"name": name, "site": f"site{i % 4}", "kind": "gauge"}
    return {"name": name, "kind": "derived"}


def dashboard_points(seed, p=DASHBOARD):
    """Raw points per stream: {stream: [(epoch_s, value)]}, time-ordered,
    distinct seconds."""
    rng = random.Random(seed)
    end = EPOCH0 + p["span_days"] * 86400
    out = {}
    for name, kind, _ in dashboard_streams(p):
        if kind != "gauge":
            continue
        t, v, pts = EPOCH0, rng.uniform(50.0, 150.0), []
        while True:
            t += rng.randint(1, 2 * p["step_s"] - 1)
            if t >= end:
                break
            v += rng.uniform(-5.0, 5.0)
            pts.append((t, round(v, 3)))
        out[name] = pts
    return out


def dashboard_requests(seed, p=DASHBOARD):
    """Seeded request mix: ("get", stream, granularity, lo_s, hi_s) with an
    inclusive range, or ("find", tag_key, tag_value)."""
    rng = random.Random(seed ^ 0x5EED)
    names = [n for n, _, _ in dashboard_streams(p)]
    span = p["span_days"] * 86400
    shares = [m[0] for m in p["mix"]]
    out = []
    for _ in range(p["requests"]):
        if rng.random() < p["find_share"]:
            if rng.random() < 0.5:
                out.append(("find", "site", f"site{rng.randrange(4)}"))
            else:
                out.append(("find", "kind", rng.choice(["gauge", "derived"])))
            continue
        _, gran, lo, hi = rng.choices(p["mix"], weights=shares)[0]
        width = rng.randint(lo, min(hi, span))
        start = EPOCH0 + rng.randint(0, span - width)
        out.append(("get", rng.choice(names), gran, start, start + width))
    return out


# ---- gate_mix tables -----------------------------------------------------

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
PART_ADJ = "blue hot small old red new cold large".split()
PART_NOUN = "bolt gear anvil ring widget rod plate gizmo".split()


def gate_tables(seed, p=GATE):
    """TPC-H-like star schema plus events, documents and embeddings, with
    the column names and types the gate queries and their oracles read."""
    g = np.random.default_rng(seed)
    ts = lambda a: pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))
    day = np.datetime64("1995-01-01", "D")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = p["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(g.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": g.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                  "FURNITURE", "BUILDING"], nc)})
    ns = p["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(g.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, ns), 2)})
    npart = p["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{g.choice(PART_ADJ)} {g.choice(PART_NOUN)}"
                   for _ in range(npart)],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, npart)],
        "p_type": g.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                            "MEDIUM"], npart),
        "p_size": pa.array(g.integers(1, 51, npart), pa.int32()),
        "p_retailprice": price})
    no = p["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(g.integers(0, nc, no), pa.int64()),
        "o_orderstatus": g.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(g.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": ts(day + g.integers(0, 2404, no)),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = p["lineitem"]
    okey = np.sort(g.integers(0, no, nl))
    lnum = np.zeros(nl, dtype=np.int32)
    for i in range(1, nl):
        lnum[i] = lnum[i - 1] + 1 if okey[i] == okey[i - 1] else 0
    lnum += 1
    pkey = g.integers(0, npart, nl)
    qty = g.integers(1, 51, nl).astype(np.float64)
    rf = g.choice(["A", "N", "R"], nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(g.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": np.round(g.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rf,
        "l_linestatus": g.choice(["O", "F"], nl),
        "l_shipdate": ts(day + 1 + g.integers(0, 2498, nl))})
    ne = p["events"]
    evt = (np.datetime64("2024-01-01T00:00:00", "us")
           + np.sort(g.integers(0, 30 * 86400 * 10**6, ne)))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(evt, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 150, ne), pa.int64()),
        "event_type": g.choice(["click", "signup", "error", "view",
                                "purchase"], ne),
        "value": np.round(g.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, ne)]})
    nd = p["documents"]
    texts = []
    for i in range(nd):
        words = list(g.choice(WORDS, int(g.integers(8, 110))))
        if g.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    # a few near-duplicates, so the dedup operators find pairs
    for i in range(0, nd, 25):
        if i + 1 < nd:
            texts[i + 1] = texts[i] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": g.choice(["en", "es", "fr", "zh", "de"], nd,
                         p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    nv, dim = p["embeddings"], p["dim"]
    labels = g.integers(0, 10, nv)
    cent = g.normal(size=(10, dim))
    vec = g.normal(size=(nv, dim)) + 0.15 * cent[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


# ---- writers -------------------------------------------------------------

def _tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(repr(x) if isinstance(x, float) else str(x)
                              for x in r) + "\n")


def write_ingest(dirpath, seed):
    os.makedirs(dirpath, exist_ok=True)
    _tsv(f"{dirpath}/streams.tsv",
         [(n, k, ",".join(src)) for n, k, src in ingest_streams()])
    batches = ingest_batches(seed)
    _tsv(f"{dirpath}/batches.tsv",
         [(i, end) for i, (end, _) in enumerate(batches)])
    _tsv(f"{dirpath}/points.tsv",
         [(i, s, t, v) for i, (_, rows) in enumerate(batches)
          for s, t, v in rows])
    _tsv(f"{dirpath}/ops.tsv",
         [(b, int(i < INGEST_WARMUP_OPS)) for i, b in enumerate(ingest_ops())])


def write_dashboard(dirpath, seed):
    os.makedirs(dirpath, exist_ok=True)
    streams = dashboard_streams()
    _tsv(f"{dirpath}/streams.tsv",
         [(n, k, ",".join(src),
           ",".join(f"{a}={b}" for a, b in sorted(dashboard_tags(n).items())))
          for n, k, src in streams])
    pts = dashboard_points(seed)
    nb = DASHBOARD["load_batches"]
    day_per_batch = DASHBOARD["span_days"] * 86400 // nb
    rows = []
    for name, ps in pts.items():
        for t, v in ps:
            rows.append((min((t - EPOCH0) // day_per_batch, nb - 1), name, t, v))
    _tsv(f"{dirpath}/points.tsv", rows)
    _tsv(f"{dirpath}/batches.tsv",
         [(b, EPOCH0 + (b + 1) * day_per_batch) for b in range(nb)])
    _tsv(f"{dirpath}/requests.tsv", dashboard_requests(seed))


def write_gate(dirpath, seed):
    os.makedirs(dirpath, exist_ok=True)
    for name, table in gate_tables(seed).items():
        pq.write_table(table, f"{dirpath}/{name}.parquet")
