"""Turns one run's raw measurements into the metrics run.py prints.

End-to-end metrics come from ops.tsv and run.json. Per-layer metrics come
from trace.tsv, the spans and listener events of a traced run, and cover
only the operations that were traced; counts and times are per operation.
"""
import re
from collections import defaultdict

import stats

NS = 1e9

# gate_mix runs one cheap gate query per operator module, each mapped to
# the one module it exercises. A run's set-up runs every query once cold,
# which is most of the run's cost, so the list is short. drv_derivative
# calls the batch Derive operator; drv_derivative_stream is its Structured
# Streaming twin and is billed to Streaming.
QUERY_MODULES = {
    "q_bm25_topk": "Retrieval",
    "text_kl_by_source": "TextStats",
    "emb_ann_ivf_indexed": "Similarity",
    "dedup_ngram_jaccard": "Dedup",
    "pipe_contamination": "Pipeline",
    "graph_edge_degree": "Graphs",
    "mm_pipeline": "Multimodal",
    "drv_derivative": "Derive",
    "drv_derivative_stream": "Streaming",
}
GATE_QUERIES = list(QUERY_MODULES)
MODULES = list(dict.fromkeys(QUERY_MODULES.values()))
LADDER_TAGS = ["hwm-scan", "seconds10", "minutes", "minutes10", "hours",
               "hours6", "days", "write"]

# The latency tail is printed but is no metric: a run of the listed
# workloads times one or two operations, too few for a tail.
END_TO_END = [
    ("latency_p50_s", "s"), ("throughput_per_s", "1/s"),
    ("executor_cpu_s_per_op", "s"), ("setup_s", "s"),
]

PER_LAYER = (
    [("append.wall_s", "s"), ("append.jobs", "count"), ("append.tasks", "count"),
     ("append.written_ratio", "ratio"), ("append.checks.busy_s", "s"),
     ("append.write.busy_s", "s"), ("cascade.lookback.busy_s", "s"),
     ("cascade.wave.busy_s", "s"),
     ("ladder.wall_s", "s"), ("ladder.jobs", "count"), ("ladder.tasks", "count")]
    + [(f"ladder.{t}.busy_s", "s") for t in LADDER_TAGS]
    + [("fs.read_ops", "count"), ("fs.write_ops", "count"),
       ("fs.bytes_written_per_point", "B"), ("store.bytes_per_point", "B"),
       ("store.files", "count"),
       ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
       ("plan.physical_s", "s"),
       ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
       ("sched.driver_gap_s", "s"),
       ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.gc_s", "s"),
       ("exec.busy_ratio", "ratio"), ("shuffle.write_bytes", "B"),
       ("shuffle.read_bytes", "B"), ("spill.bytes", "B"),
       ("stream.batches", "count"), ("stream.batch_s", "s"),
       ("stream.add_batch_s", "s"), ("stream.wal_commit_s", "s"),
       ("stream.state_rows", "count"), ("stream.state_mem_bytes", "B"),
       ("stream.state_commit_s", "s")]
    + [(f"{m}.{k}", u) for m in MODULES
       for k, u in (("wall_s", "s"), ("jobs", "count"), ("cpu_s", "s"))]
    + [(f"query.{q}.{k}", u) for q in GATE_QUERIES
       for k, u in (("wall_s", "s"), ("jobs", "count"))]
    + [("self.client_s", "s"), ("self.driver_s", "s"), ("self.jobs_s", "s"),
       ("trace.overhead_s", "s"), ("jvm.peak_rss_mb", "MB")]
)

# the read path is measured by store_dashboard only
READ_LAYER = [("read.build_s", "s"), ("read.exec_s", "s"), ("read.jobs", "count"),
              ("read.tasks", "count"), ("read.files_per_op", "count"),
              ("find.wall_s", "s")]


def parse_kv(s):
    out = {}
    for kv in s.split(","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            out[k] = v
    return out


def read_ops(path):
    ops = []
    with open(path) as f:
        for line in f:
            kind, key, traced, t0, t1, ok, extra = line.rstrip("\n").split("\t")
            o = {"kind": kind, "key": key, "traced": traced == "1",
                 "t0": int(t0), "t1": int(t1), "ok": ok == "1"}
            o.update({k: int(v) for k, v in parse_kv(extra).items()})
            ops.append(o)
    return ops


def read_trace(path):
    """-> (spans {id: dict}, jobs [dict], plans [(t, dict)], streams [(t, dict)])"""
    spans, jobs, plans, streams = {}, [], [], []
    with open(path) as f:
        for line in f:
            r = line.rstrip("\n").split("\t")
            if r[0] == "span":
                _, sid, parent, layer, name, key, t0, t1, attrs = r
                fs = [int(x) for x in parse_kv(attrs).get("fs", "0;0;0;0").split(";")]
                spans[int(sid)] = {"id": int(sid), "parent": int(parent),
                                   "layer": layer, "name": name, "key": key,
                                   "t0": int(t0), "t1": int(t1), "fs": fs}
            elif r[0] == "job":
                _, jid, parent, tag, t0, t1, attrs = r
                j = {"id": int(jid), "parent": int(parent), "tag": job_tag(tag),
                     "t0": int(t0), "t1": int(t1) or int(t0)}
                j.update({k: int(v) for k, v in parse_kv(attrs).items()})
                jobs.append(j)
            elif r[0] == "plan":
                plans.append((int(r[1]), {k: int(v) for k, v in parse_kv(r[2]).items()}))
            elif r[0] == "stream":
                streams.append((int(r[1]), {k: int(v) for k, v in parse_kv(r[2]).items()}))
    return spans, jobs, plans, streams


def job_tag(description):
    """A job description as a tag: streaming micro-batch descriptions carry
    query and batch ids ("name_123 id = ... batch = 4"), which are dropped."""
    return re.sub(r"_?\d*\s+id = .*$", "", description)


def attribute(spans, jobs):
    """Parent every job to a call span: by the local property when the job
    started inside that call, else by time; jobs outside any traced call are
    dropped (they belong to untraced operations)."""
    calls = sorted((s for s in spans.values() if s["layer"] != "op"),
                   key=lambda s: s["t0"])
    out = defaultdict(list)
    for j in jobs:
        c = spans.get(j["parent"])
        if c is None or not (c["t0"] <= j["t0"] <= c["t1"]):
            c = next((s for s in calls if s["t0"] <= j["t0"] <= s["t1"]), None)
        if c is not None:
            out[c["id"]].append(j)
    return out


def within(events, spans):
    """Events whose timestamp falls inside one of the op spans."""
    iv = sorted((s["t0"], s["t1"]) for s in spans)
    return [(t, e) for t, e in events if any(a <= t <= b for a, b in iv)]


def per_layer(ops, run, trace_path, cpus, reference):
    spans, jobs, plans, streams = read_trace(trace_path)
    op_spans = [s for s in spans.values() if s["layer"] == "op"]
    n_ops = max(len(op_spans), 1)
    calls = [s for s in spans.values() if s["layer"] != "op"]
    jobs_of = attribute(spans, jobs)
    m = {}

    def per_op(x):
        return x / n_ops

    def call_sum(pred, f):
        return sum(f(c) for c in calls if pred(c))

    def call_jobs(pred):
        return [j for c in calls if pred(c) for j in jobs_of[c["id"]]]

    def busy(js):
        return sum(j["t1"] - j["t0"] for j in js) / NS

    for name in ("append", "ladder"):
        pred = (lambda c, n=name: c["layer"] == "Datastream" and c["name"] == n)
        js = call_jobs(pred)
        m[f"{name}.wall_s"] = per_op(call_sum(pred, lambda c: c["t1"] - c["t0"]) / NS)
        m[f"{name}.jobs"] = per_op(len(js))
        m[f"{name}.tasks"] = per_op(sum(j["tasks"] for j in js))
    all_jobs = [j for js in jobs_of.values() for j in js]
    by_tag = defaultdict(list)
    for j in all_jobs:
        by_tag[j["tag"]].append(j)
    for tag in ("append:checks", "append:write", "cascade:lookback", "cascade:wave"):
        m[tag.replace(":", ".") + ".busy_s"] = per_op(busy(by_tag.get(tag, [])))
    for t in LADDER_TAGS:
        m[f"ladder.{t}.busy_s"] = per_op(busy(by_tag.get(f"ladder:{t}", [])))
    offered = sum(o.get("rows", 0) for o in ops)
    written = sum(o.get("written", 0) for o in ops)
    m["append.written_ratio"] = written / offered if offered else 0.0

    # DatapointStore: Hadoop FileSystem counters around each traced call
    fs = [sum(c["fs"][i] for c in calls) for i in range(4)]
    m["fs.read_ops"] = per_op(fs[0])
    m["fs.write_ops"] = per_op(fs[1])
    traced_written = sum(o.get("written", 0) for o in ops if o["traced"])
    m["fs.bytes_written_per_point"] = fs[3] / traced_written if traced_written else 0.0
    points = run.get("points_stored", 0)
    m["store.bytes_per_point"] = run.get("store_bytes", 0) / points if points else 0.0
    m["store.files"] = run.get("store_files", 0)

    tp = within(plans, op_spans)
    m["plan.analysis_s"] = per_op(sum(e["analysis"] for _, e in tp) / 1e3)
    m["plan.optimization_s"] = per_op(sum(e["optimization"] for _, e in tp) / 1e3)
    m["plan.physical_s"] = per_op(sum(e["planning"] for _, e in tp) / 1e3)

    m["sched.jobs"] = per_op(len(all_jobs))
    m["sched.stages"] = per_op(sum(j["stages"] for j in all_jobs))
    m["sched.tasks"] = per_op(sum(j["tasks"] for j in all_jobs))
    job_iv = [(j["t0"], j["t1"]) for j in all_jobs]
    op_wall = sum(s["t1"] - s["t0"] for s in op_spans)
    covered = sum(stats.union_length(job_iv, s["t0"], s["t1"]) for s in op_spans)
    m["sched.driver_gap_s"] = per_op((op_wall - covered) / NS)

    run_ms = sum(j["run_ms"] for j in all_jobs)
    m["exec.cpu_s"] = per_op(sum(j["cpu_ns"] for j in all_jobs) / NS)
    m["exec.run_s"] = per_op(run_ms / 1e3)
    m["exec.gc_s"] = per_op(sum(j["gc_ms"] for j in all_jobs) / 1e3)
    m["exec.busy_ratio"] = (run_ms / 1e3) / (op_wall / NS * cpus) if op_wall else 0.0
    m["shuffle.write_bytes"] = per_op(sum(j["shuffle_w"] for j in all_jobs))
    m["shuffle.read_bytes"] = per_op(sum(j["shuffle_r"] for j in all_jobs))
    m["spill.bytes"] = per_op(sum(j["spill"] for j in all_jobs))

    ts = [e for _, e in within(streams, op_spans)]
    nb = len(ts)

    def per_batch(k, scale=1.0):
        return sum(e[k] for e in ts) / nb / scale if nb else 0.0
    m["stream.batches"] = per_op(nb)
    m["stream.batch_s"] = per_batch("trigger", 1e3)
    m["stream.add_batch_s"] = per_batch("addBatch", 1e3)
    m["stream.wal_commit_s"] = per_batch("walCommit", 1e3)
    m["stream.state_rows"] = per_batch("rows")
    m["stream.state_mem_bytes"] = per_batch("mem")
    m["stream.state_commit_s"] = per_batch("commit", 1e3)

    # operator modules and single queries (gate_mix): per execution
    q_calls = defaultdict(list)
    for c in calls:
        if c["layer"] == "SparkEntry":
            q_calls[c["name"]].append(c)
    for mod in MODULES:
        cs = [c for q, v in q_calls.items() if QUERY_MODULES.get(q) == mod for c in v]
        n = max(len(cs), 1)
        js = [j for c in cs for j in jobs_of[c["id"]]]
        m[f"{mod}.wall_s"] = sum(c["t1"] - c["t0"] for c in cs) / NS / n
        m[f"{mod}.jobs"] = len(js) / n
        m[f"{mod}.cpu_s"] = sum(j["cpu_ns"] for j in js) / NS / n
    for q in GATE_QUERIES:
        cs = q_calls.get(q, [])
        n = max(len(cs), 1)
        m[f"query.{q}.wall_s"] = sum(c["t1"] - c["t0"] for c in cs) / NS / n
        m[f"query.{q}.jobs"] = sum(len(jobs_of[c["id"]]) for c in cs) / n

    # self time: client = op minus its calls; driver = calls minus their jobs
    call_iv = defaultdict(list)
    for c in calls:
        call_iv[c["parent"]].append((c["t0"], c["t1"]))
    client = sum(stats.self_time((s["t0"], s["t1"]), call_iv[s["id"]]) for s in op_spans)
    driver = sum(stats.self_time((c["t0"], c["t1"]),
                                 [(j["t0"], j["t1"]) for j in jobs_of[c["id"]]])
                 for c in calls)
    jobs_in_calls = sum(stats.union_length([(j["t0"], j["t1"]) for j in jobs_of[c["id"]]],
                                           c["t0"], c["t1"]) for c in calls)
    m["self.client_s"] = per_op(client / NS)
    m["self.driver_s"] = per_op(driver / NS)
    m["self.jobs_s"] = per_op(jobs_in_calls / NS)
    m["trace.overhead_s"] = overhead(ops, reference)
    m["jvm.peak_rss_mb"] = run.get("peak_rss_mb", 0.0)

    # read path (store_dashboard)
    reads = [c for c in calls if c["layer"] == "Datastream"]
    n_get = max(sum(1 for s in op_spans if s["name"] == "get"), 1)
    n_find = max(sum(1 for s in op_spans if s["name"] == "find"), 1)
    for name, metric in (("read.build", "read.build_s"), ("read.exec", "read.exec_s")):
        m[metric] = sum(c["t1"] - c["t0"] for c in reads if c["name"] == name) / NS / n_get
    rj = call_jobs(lambda c: c["layer"] == "Datastream" and c["name"].startswith("read."))
    m["read.jobs"] = len(rj) / n_get
    m["read.tasks"] = sum(j["tasks"] for j in rj) / n_get
    get_spans = [s for s in op_spans if s["name"] == "get"]
    m["read.files_per_op"] = sum(e["files"] for _, e in within(plans, get_spans)) / n_get
    m["find.wall_s"] = sum(c["t1"] - c["t0"] for c in reads if c["name"] == "find") / NS / n_find

    tags = {t: (len(js), busy(js)) for t, js in sorted(by_tag.items())}
    return m, tags


def op_key(o):
    return f"{o['kind']}:{o['key']}"


def overhead(ops, reference):
    """Tracing overhead per traced operation: its wall minus the median wall
    of untraced operations with the same key. Those come from `reference`
    ({key: [wall_s]}, earlier untraced runs, whose operations ran in the
    same place of their run) or, for a key it lacks, from this run's
    untraced operations, which ran after the traced ones and so a little
    warmer. None when no traced operation has a counterpart."""
    own = defaultdict(list)
    for o in ops:
        if not o["traced"]:
            own[op_key(o)].append((o["t1"] - o["t0"]) / NS)
    diffs = []
    for o in ops:
        ref = reference.get(op_key(o)) or own.get(op_key(o))
        if o["traced"] and ref:
            diffs.append((o["t1"] - o["t0"]) / NS - stats.median(ref))
    return sum(diffs) / len(diffs) if diffs else None


def end_to_end(workload, ops, run):
    """End-to-end metrics. An operation is an ingest batch or a dashboard
    request; on gate_mix it is one pass over the query list (a single
    query's latency says more about which query it was than about the
    program), while throughput still counts queries."""
    window_s = run["window_ns"] / NS
    if workload == "gate_mix":
        n = len(GATE_QUERIES)
        units = [(ops[i]["t0"], ops[i + n - 1]["t1"]) for i in range(0, len(ops) - n + 1, n)]
    else:
        units = [(o["t0"], o["t1"]) for o in ops]
    lat = [(b - a) / NS for a, b in units]
    tail, pct, samples = stats.tail(lat)
    if workload == "store_ingest":
        work = sum(o.get("written", 0) for o in ops)
    else:
        work = len(ops)
    m = {
        "latency_p50_s": stats.median(lat),
        "throughput_per_s": work / window_s,
        "executor_cpu_s_per_op": run["cpu_ns"] / NS / max(len(units), 1),
        "setup_s": run["session_s"] + run["setup_s"],
    }
    return m, {"tail_s": tail, "tail_percentile": pct, "samples": samples}
