"""Output checks, run after the timed window.

Each check returns the set of timed operations whose output was wrong
(by index into ops.tsv) and a list of human-readable problems.
"""
import glob
import math
import os
from collections import defaultdict

import gen

REL_TOL = 1e-9


def close(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)
    return False


def rollup(values):
    """(count, sum, min, max) of a bucket's values; the sum is exact, so
    the store's float sum is compared to it with a relative tolerance."""
    return (len(values), math.fsum(values), min(values), max(values))


def bucket(t, seconds):
    return t - t % seconds


def derivative(points):
    """dv/dt between consecutive (t, v) points, as Derive.derivative."""
    out = []
    pts = sorted(points)
    for (t0, v0), (t1, v1) in zip(pts, pts[1:]):
        if t1 != t0:
            out.append((t1, (v1 - v0) / (t1 - t0)))
    return out


def expected_rollups(points, until, grans=(("hours", 3600), ("days", 86400))):
    """{(granularity, bucket_t): (c, s, l, u)} for buckets complete by until."""
    out = {}
    for gname, secs in grans:
        groups = defaultdict(list)
        for t, v in points:
            groups[bucket(t, secs)].append(v)
        for b, vs in groups.items():
            if b + secs <= until:
                out[(gname, b)] = rollup(vs)
    return out


def read_store_dump(path):
    """store.tsv rows -> {stream: {"seconds": {t: [v]}, "hours": {t: (c,s,l,u)}, ...}}"""
    out = defaultdict(lambda: defaultdict(dict))
    with open(path) as f:
        for line in f:
            name, gran, t, v, c, s, lo, hi = line.rstrip("\n").split("\t")
            t = int(t)
            if gran == "seconds":
                out[name]["seconds"].setdefault(t, []).append(float(v))
            else:
                out[name][gran][t] = (int(c), float(s), float(lo), float(hi))
    return out


def compare_rollups(got, exp):
    """Keys (granularity, bucket) whose rollup is missing, extra or wrong."""
    bad = set()
    for k in set(got) | set(exp):
        g, e = got.get(k), exp.get(k)
        if g is None or e is None or g[0] != e[0] or \
                not all(close(a, b) for a, b in zip(g[1:], e[1:])):
            bad.add(k)
    return bad


def check_ingest(seed, ops, warmup_written, dump_path):
    """ops: list of dicts with kind, batch, rows, written (timed order);
    warmup_written: rows the warm-up operations wrote."""
    p = gen.INGEST
    batches = gen.ingest_batches(seed)
    span = p["batch_span_s"]
    warm = gen.ingest_ops()[:gen.INGEST_WARMUP_OPS]
    done = warm + [o["batch"] for o in ops if o["kind"] == "batch"]
    until = max(batches[b][0] for b in done)
    raw = defaultdict(list)
    for b in sorted(set(done)):
        for s, t, v in batches[b][1]:
            raw[s].append((t, v))
    store = read_store_dump(dump_path)
    streams = gen.ingest_streams(p)
    problems, bad_batches = [], set()

    def batch_of(t):
        return (t - gen.EPOCH0) // span

    for name, kind, src in streams:
        if kind in ("gauge", "counter"):
            got = {(g, t): r for g in ("hours", "days")
                   for t, r in store[name][g].items()}
            for g, t in compare_rollups(got, expected_rollups(raw[name], until)):
                problems.append(f"{name} {g} {t}: rollup differs")
                secs = 3600 if g == "hours" else 86400
                bad_batches.update(range(batch_of(t), batch_of(t + secs - 1) + 1))
        elif kind == "derivative":
            exp = dict(derivative(raw[src[0]]))
            got = {t: vs for t, vs in store[name]["seconds"].items()}
            for t in set(exp) | set(got):
                if t not in exp or t not in got or len(got[t]) != 1 or \
                        not close(got[t][0], exp[t]):
                    problems.append(f"{name} {t}: derivative differs")
                    bad_batches.add(batch_of(t))
    # the warm-up re-sends its batch: the first append writes it, the second none
    if warmup_written != [len(batches[warm[0]][1]), 0]:
        problems.append(f"warm-up wrote {warmup_written} rows")
    bad_ops = set()
    for i, o in enumerate(ops):
        if o["kind"] == "redelivery" and o["written"] != 0:
            problems.append(f"op {i}: re-delivered batch wrote {o['written']} rows")
            bad_ops.add(i)
        if o["kind"] == "batch" and o["written"] != o["rows"]:
            problems.append(f"op {i}: wrote {o['written']} of {o['rows']} rows")
            bad_ops.add(i)
        if o["kind"] == "batch" and o["batch"] in bad_batches:
            bad_ops.add(i)
    return bad_ops, problems


def expected_answer(points, derived_src, req):
    """Rows one getData / findStreams request must return, as strings in
    the harness's answer format."""
    if req[0] == "find":
        _, k, v = req
        names = [n for n, _, _ in gen.dashboard_streams()
                 if gen.dashboard_tags(n).get(k) == v]
        return sorted(names)
    _, name, gran, lo, hi = req
    pts = points[name] if name in points else derivative(points[derived_src[name]])
    secs = {"seconds": 1, "seconds10": 10, "minutes": 60, "minutes10": 600,
            "hours": 3600, "hours6": 21600, "days": 86400}[gran]
    end = gen.EPOCH0 + gen.DASHBOARD["span_days"] * 86400
    if secs == 1:
        return [(t, v) for t, v in pts if lo <= t <= hi]
    return [(b, ) + r for (g, b), r in
            sorted(expected_rollups(pts, end, ((gran, secs),)).items())
            if lo <= b <= hi]


def parse_answer(req, text):
    if req[0] == "find":
        return text.split()
    out = []
    for tok in text.split():
        f = tok.split(":")
        if len(f) == 2:
            out.append((int(f[0]), float(f[1])))
        else:
            out.append((int(f[0]), int(f[1]), float(f[2]), float(f[3]), float(f[4])))
    return out


def check_dashboard(seed, answers_path):
    points = gen.dashboard_points(seed)
    reqs = gen.dashboard_requests(seed)
    derived_src = {n: src[0] for n, k, src in gen.dashboard_streams()
                   if k == "derivative"}
    bad, problems = set(), []
    with open(answers_path) as f:
        for i, line in enumerate(f):
            j, text = line.rstrip("\n").split("\t")
            req = reqs[int(j)]
            got = parse_answer(req, text)
            exp = expected_answer(points, derived_src, req)
            if len(got) != len(exp) or not all(
                    len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
                    if isinstance(a, tuple) else a == b
                    for a, b in zip(got, exp)):
                bad.add(i)
                problems.append(f"request {j} {req}: {len(got)} rows, expected {len(exp)}")
    return bad, problems


# ---- gate_mix: DuckDB oracles ---------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_diff(got_rows, got_cols, exp_rows, exp_cols):
    """None when the outputs agree, else a reason. Columns are compared in
    name order and rows in output order; floats may differ by a relative
    1e-9 (summation order), everything else must be equal."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"schema {got_cols} vs {exp_cols}"
    gp = [got_cols.index(c) for c in sorted(got_cols)]
    ep = [exp_cols.index(c) for c in sorted(exp_cols)]
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows vs {len(exp_rows)}"
    for rg, re_ in zip(got_rows, exp_rows):
        for a, b in zip((rg[i] for i in gp), (re_[i] for i in ep)):
            if a != b and not close(a, b):
                return f"value {a!r} vs {b!r}"
    return None


def check_gate(data_dir, check_dir, names):
    """Queries whose warm-up output differs from its DuckDB oracle. A query
    without an oracle must return at least one row."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad, problems = set(), []
    for n in names:
        files = glob.glob(f"{check_dir}/{n}/*.parquet")
        if not files:
            bad.add(n)
            problems.append(f"{n}: no output")
            continue
        got = con.sql(f"SELECT * FROM '{check_dir}/{n}/*.parquet'")
        got_cols, got_rows = got.columns, got.fetchall()
        sql_path = f"{check_dir}/{n}.sql"
        if not os.path.exists(sql_path):
            if not got_rows:
                bad.add(n)
                problems.append(f"{n}: no rows")
            continue
        with open(sql_path) as f:
            exp = con.sql(f.read())
        why = oracle_diff(got_rows, got_cols, exp.fetchall(), exp.columns)
        if why:
            bad.add(n)
            problems.append(f"{n}: {why}")
    return bad, problems
