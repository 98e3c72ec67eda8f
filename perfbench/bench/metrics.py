"""End-to-end metrics from a run's operations, per-layer metrics from its
trace. Times in the result file are epoch milliseconds."""
import re
from collections import defaultdict

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s")]

# op kinds that belong to the timed closed loop
OP_KINDS = {"night", "query", "fold", "load", "survivors"}
QUERY_MODULES = ["relational", "text", "events", "similarity", "advanced", "breadth", "tpch"]
DML_VERBS = ["delete_point", "merge_clustered", "merge_bulk", "delete_dv", "overwrite_day",
             "read_point", "read_agg", "read_feed"]
COW_VERBS = ["delete_point", "merge_clustered", "merge_bulk"]
LAYER_SPANS = {"bankfeeds.tx_s": "bankfeeds.tx", "bankfeeds.xlsx_s": "bankfeeds.xlsx",
               "scd.scd2_s": "scd.scd2", "scd.scd1_s": "scd.scd1",
               "fraud.view_s": "fraud.view", "fraud.rules_s": "fraud.rules",
               "scalejoins.zorder_s": "scalejoins.zorder",
               "scalejoins.compact_s": "scalejoins.compact",
               "textpipeline.fold_s": "textpipeline.fold",
               "textpipeline.save_s": "textpipeline.save"}
EXEC_FIELDS = ["run_s", "cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
               "input_bytes", "output_bytes"]
PLAN_FIELDS = ["exchanges", "reused_exchanges", "broadcast_joins", "sort_merge_joins",
               "file_scans"]

PER_LAYER = (
    [("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.peak_rss_mb", "MB"),
     ("op.count", "count"), ("op.p90_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
     ("exec.tasks", "count"), ("exec.run_s", "s"), ("exec.cpu_s", "s")]
    + [(f"exec.{f}", "bytes") for f in EXEC_FIELDS[2:]]
    + [("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
       ("catalyst.planning_ms", "ms"), ("catalyst.actions", "count")]
    + [(f"plan.{f}", "count") for f in PLAN_FIELDS]
    + [(f"queries.{m}_s", "s") for m in QUERY_MODULES]
    + [("etl.driver_self_s", "s"), ("etl.jobs", "count"),
       ("bankfeeds.tx_s", "s"), ("bankfeeds.xlsx_s", "s"), ("bankfeeds.rows", "count"),
       ("scd.scd2_s", "s"), ("scd.scd1_s", "s"), ("scd.rows_changed", "count"),
       ("fraud.view_s", "s"), ("fraud.rules_s", "s"), ("fraud.events", "count"),
       ("warehousefs.commit_s", "s"), ("warehousefs.jobs", "count"),
       ("warehousefs.files_added", "count"), ("warehousefs.files_removed", "count"),
       ("warehousefs.bytes_added", "bytes")]
    + [(f"dml.{v}_s", "s") for v in DML_VERBS]
    + [("dml.write_p50_s", "s"), ("dml.read_p50_s", "s"), ("dml.write_amp", "ratio"),
       ("dml.rewrite_precision", "ratio"),
       ("scan.files_read", "count"), ("scan.files_total", "count"), ("scan.prune_ratio", "ratio"),
       ("scan.masked_rows", "count"),
       ("scalejoins.zorder_s", "s"), ("scalejoins.compact_s", "s"),
       ("textpipeline.fold_s", "s"), ("textpipeline.save_s", "s"), ("textpipeline.load_s", "s"),
       ("textpipeline.survivors_s", "s"), ("textpipeline.state_bytes", "bytes"),
       ("dedup.pairs", "count"), ("bench.gen_s", "s")]
    + [(f"overhead.{m}", "ratio") for m, _ in END_TO_END])


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dur(x):
    return (x["t1"] - x["t0"]) / 1000.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span, children):
    """A span's wall time minus the part of it its children cover."""
    clipped = [(max(c["t0"], span["t0"]), min(c["t1"], span["t1"])) for c in children]
    return (span["t1"] - span["t0"]) - union_length([c for c in clipped if c[1] > c[0]])


def window_ops(result):
    return [o for o in result["ops"] if o["kind"] in OP_KINDS]


def end_to_end(result):
    ops = window_ops(result)
    lat = [dur(o) for o in ops if o["primary"] and o["ok"]]
    busy = sum(dur(o) for o in ops)
    return {"setup_s": result["setup"]["setup_s"], "op_p50_s": quantile(lat, 0.5) if lat else 0.0,
            "ops_per_s": len(lat) / busy if busy else 0.0}


_SITE = re.compile(r" at (\S+?)\.scala:\d+")  # Scala call sites only: the program's files


def site_file(site):
    m = _SITE.search(site or "")
    return m.group(1) if m else ""


def job_sites(jobs):
    """Job id -> the file (module) that started it. Jobs that adaptive
    execution submits from its own threads carry a thread-pool call site;
    they take the site of their SQL execution's other jobs."""
    by_exec = {}
    for j in jobs:
        f = site_file(j["site"])
        if f and j["exec"] >= 0:
            by_exec.setdefault(j["exec"], f)
    return {j["id"]: site_file(j["site"]) or by_exec.get(j["exec"], "") for j in jobs}


def chain(spans, sid):
    """A span and its ancestors, innermost first."""
    while sid is not None and sid >= 0:
        yield spans[sid]
        sid = spans[sid]["parent"]


def per_layer(result):
    tr = result["trace"]
    spans = {s["id"]: s for s in tr["spans"]}

    def op_of(sid):
        return next((s for s in chain(spans, sid) if s["kind"] in OP_KINDS), None)

    def in_setup(sid):
        return any(s["kind"] == "setup" for s in chain(spans, sid))

    op_spans = [s for s in spans.values() if s["kind"] in OP_KINDS]
    jobs = [j for j in tr["jobs"] if j["t1"] == j["t1"]]  # drop never-ended (NaN)
    jobs_by_op = defaultdict(list)
    for j in jobs:
        o = op_of(j["span"])
        if o is not None:
            jobs_by_op[o["id"]].append(j)
    win_jobs = [j for js in jobs_by_op.values() for j in js]
    stages = {s["id"]: s for s in tr["stages"]}
    win_stages = [stages[i] for j in win_jobs for i in j["stages"] if i in stages]

    def op_at(t):
        return next((s for s in op_spans if s["t0"] <= t <= s["t1"]), None)
    queries_by_op = defaultdict(list)
    for q in tr["queries"]:
        o = op_at(q["t"])
        if o is not None:
            queries_by_op[o["id"]].append(q)
    win_queries = [q for qs in queries_by_op.values() for q in qs]

    counters = {k: v for k, v in tr["counters"].items() if not k.startswith("setup:")}
    win_ops = window_ops(result)
    lat = [dur(o) for o in win_ops if o["primary"] and o["ok"]]
    m = {
        "jvm.gc_s": sum(o["gc_s"] for o in win_ops), "jvm.jit_s": sum(o["jit_s"] for o in win_ops),
        "jvm.peak_rss_mb": result["peak_rss_mb"], "op.count": len(lat),
        "op.p90_s": quantile(lat, 0.9) if lat else 0.0,
        "spark.jobs": len(win_jobs), "spark.stages": len(win_stages),
        "exec.tasks": sum(s["tasks"] for s in win_stages),
    }
    for f in EXEC_FIELDS:
        m[f"exec.{f}"] = sum(s[f] for s in win_stages)
    for f in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"catalyst.{f}"] = sum(q[f] for q in win_queries)
    m["catalyst.actions"] = len(win_queries)
    for f in PLAN_FIELDS:
        m[f"plan.{f}"] = sum(q[f] for q in win_queries)

    modules = (result.get("outputs") or {}).get("modules", {})
    for mod in QUERY_MODULES:
        m[f"queries.{mod}_s"] = sum(dur(s) for s in op_spans
                                    if s["kind"] == "query" and modules.get(s["name"].split(":", 1)[1]) == mod)

    nights = [s for s in op_spans if s["kind"] == "night"]
    m["etl.driver_self_s"] = sum(self_time(s, jobs_by_op[s["id"]]) / 1000.0 for s in nights)
    m["etl.jobs"] = sum(len(jobs_by_op[s["id"]]) for s in nights)

    layer_spans = [s for s in spans.values() if s["kind"] == "layer" and not in_setup(s["id"])]
    for metric, name in LAYER_SPANS.items():
        m[metric] = sum(dur(s) for s in layer_spans if s["name"] == name)

    outs = result.get("outputs") or {}
    state = outs.get("state") or {}
    timed = [n["day"] for n in outs.get("nights", []) if n["kind"] == "night"]
    m["bankfeeds.rows"] = counters.get("bankfeeds.rows", 0)
    m["scd.rows_changed"] = sum(1 for h in state.get("hist", []) for d in timed
                                if h[5] == f"{d} 00:00:00")
    m["fraud.events"] = sum(len(state.get("mart", {}).get(d, [])) for d in timed)

    site_of = job_sites(tr["jobs"])
    wfs = [j for j in win_jobs if site_of[j["id"]] == "WarehouseFs"]
    m["warehousefs.commit_s"] = union_length([(j["t0"], j["t1"]) for j in wfs]) / 1000.0
    m["warehousefs.jobs"] = len(wfs)
    for f in ("files_added", "files_removed", "bytes_added"):
        m[f"warehousefs.{f}"] = counters.get(f"warehousefs.{f}", 0)

    # DML verbs: the layer probes a traced etl_nightly run makes on its
    # served tables
    def verb_spans(v):
        return [s for s in layer_spans if s["name"] == f"dml.{v}"]

    def queries_in(span):
        return [q for q in tr["queries"] if span["t0"] <= q["t"] <= span["t1"]]

    def jobs_in(span):
        return [j for j in jobs if any(s["id"] == span["id"] for s in chain(spans, j["span"]))]

    by_verb = {v: verb_spans(v) for v in DML_VERBS}
    for v in DML_VERBS:
        m[f"dml.{v}_s"] = sum(dur(s) for s in by_verb[v])
    writes = [dur(s) for v in DML_VERBS if not v.startswith("read") for s in by_verb[v]]
    reads = [dur(s) for v in DML_VERBS if v.startswith("read") for s in by_verb[v]]
    m["dml.write_p50_s"] = quantile(writes, 0.5) if writes else 0.0
    m["dml.read_p50_s"] = quantile(reads, 0.5) if reads else 0.0
    written = sum(counters.get(f"dml.{v}.bytes_written", 0) for v in COW_VERBS)
    changed = sum(counters.get(f"dml.{v}.changed_bytes", 0) for v in COW_VERBS)
    m["dml.write_amp"] = written / changed if changed else 0.0
    holding = sum(counters.get(f"dml.{v}.files_holding", 0) for v in COW_VERBS)
    rewritten = sum(counters.get(f"dml.{v}.files_rewritten", 0) for v in COW_VERBS)
    m["dml.rewrite_precision"] = holding / rewritten if rewritten else 0.0

    point = [q for s in by_verb["read_point"] for q in queries_in(s)]
    full = [q for s in by_verb["read_agg"] for q in queries_in(s)]
    m["scan.files_read"] = sum(q["graft_scan_files"] for q in point)
    m["scan.files_total"] = sum(q["graft_scan_files"] for q in full)
    per_point = m["scan.files_read"] / max(1, len(by_verb["read_point"]))
    per_full = m["scan.files_total"] / max(1, len(by_verb["read_agg"]))
    m["scan.prune_ratio"] = 1.0 - per_point / per_full if per_full else 0.0
    agg_stages = [stages[i] for s in by_verb["read_agg"] for j in jobs_in(s)
                  for i in j["stages"] if i in stages]
    m["scan.masked_rows"] = max(0, sum(s["input_records"] for s in agg_stages)
                                - sum(q["graft_scan_rows"] for q in full))

    m["textpipeline.load_s"] = sum(dur(s) for s in op_spans if s["kind"] == "load")
    m["textpipeline.survivors_s"] = sum(dur(s) for s in op_spans if s["kind"] == "survivors")
    m["textpipeline.state_bytes"] = counters.get("textpipeline.state_bytes", 0)
    m["dedup.pairs"] = counters.get("dedup.pairs", 0)
    return m


def breakdown(result):
    """Busy seconds of the timed window's jobs by call-site file and by the
    warehouse table their SQL execution wrote (written beside the trace)."""
    tr = result["trace"]
    spans = {s["id"]: s for s in tr["spans"]}
    jobs = [j for j in tr["jobs"] if j["t1"] == j["t1"]
            and any(s["kind"] in OP_KINDS for s in chain(spans, j["span"]))]
    table_of = {}
    for q in tr["queries"]:
        w = q.get("writes")
        if w and "/wh/" in w:
            parts = [p for p in w.split("/wh/", 1)[1].split("/") if p != "_work"]
            table_of[q["exec"]] = parts[0] if parts else w
    site_of = job_sites(tr["jobs"])
    by_site, by_table = defaultdict(list), defaultdict(list)
    for j in jobs:
        by_site[site_of[j["id"]] or "?"].append((j["t0"], j["t1"]))
        if j["exec"] in table_of:
            by_table[table_of[j["exec"]]].append((j["t0"], j["t1"]))
    return {"busy_s_by_site": {k: union_length(v) / 1000.0 for k, v in sorted(by_site.items())},
            "busy_s_by_table": {k: union_length(v) / 1000.0 for k, v in sorted(by_table.items())}}
