"""Turn one run's record into the metrics its result line reports.

`end_to_end` picks the untraced end-to-end metrics. `per_layer` reads the
spans a traced run wrote (name, start, end, parent, request id), nests
Spark jobs under the span whose job tag they carried and Catalyst phases
under the span that covers them in time, and derives the per-layer
metrics and each module's self time (span time not covered by its child
spans). A layer a workload does not exercise reads 0. An end-to-end
metric the run did not produce (the workload aborted) reads null, never
a best-possible 0.
"""
import json
import os
import statistics

E2E = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_ms", "ms")]

MODULES = ["server", "ast", "exec", "catalyst", "spark", "model", "search", "pipeline"]
PER_LAYER = [
    ("server.http_overhead_ms", "ms"), ("server.render_ms", "ms"),
    ("server.response_bytes", "bytes"), ("ast.parse_ms", "ms"),
    ("exec.compile_ms", "ms"), ("exec.eager_jobs_per_req", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.scheduler_delay_ms", "ms"),
    ("spark.task_busy_ratio", "ratio"), ("spark.gc_ms", "ms"),
    ("spark.storage_mb", "MB"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("wal.commit_ms", "ms"), ("wal.bytes_per_write", "bytes"),
    ("wal.catchup_ms", "ms"), ("wal.segments_replayed", "count"),
    ("model.scan_partitions", "count"), ("search.index_artifacts", "count"),
    ("search.text_first_after_write_ms", "ms"),
    ("pipeline.cache_builds_cold", "count"), ("pipeline.cache_builds_warm", "count"),
] + [(f"{m}.self_ms", "ms") for m in MODULES] + [
    # the workload figures, measured with tracing on
    ("read_rps", "1/s"), ("read_p50_ms", "ms"), ("read_p95_ms", "ms"),
    ("lookup_p50_ms", "ms"), ("hop_p50_ms", "ms"), ("agg_p50_ms", "ms"),
    ("vector_p50_ms", "ms"), ("text_p50_ms", "ms"), ("write_p50_ms", "ms"),
    ("fresh_read_p50_ms", "ms"), ("analytics_cold_s", "s"), ("analytics_warm_s", "s"),
    ("heap_retained_mb", "MB"), ("trace.op_p50_ms", "ms"),
]


def _out(values, names):
    return {n: {"value": float(values.get(n) or 0.0), "unit": u} for n, u in names}


def end_to_end(res):
    m = res["metrics"]
    return {n: {"value": None if m.get(n) is None else float(m[n]), "unit": u}
            for n, u in E2E}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _module(name):
    head = name.split(".")[0]
    if head == "wal":
        return "model"
    return head if head in MODULES else None


class Tree:
    """Spans of one run, nested."""

    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.kids = {}
        timed = [s for s in spans if s["parent"] >= 0]
        for s in timed:
            self.kids.setdefault(s["parent"], []).append(s)
        # Catalyst phases carry no tag: nest each under the innermost span
        # of a replayed request or query that covers it (those run one at
        # a time, so time decides the owner)
        owners = [s for s in timed if self.root_name(s) in ("request", "pipeline.query")
                  and s["name"] != "spark.job"]
        tol = 1000000  # phase times have millisecond resolution
        for c in (s for s in spans if s["parent"] < 0):
            inside = [o for o in owners
                      if o["start"] - tol <= c["start"] and c["end"] <= o["end"] + tol]
            if inside:
                o = min(inside, key=lambda o: o["end"] - o["start"])
                c["parent"] = o["id"]
                self.kids.setdefault(o["id"], []).append(c)

    def root_name(self, s):
        seen = 0
        while s["parent"] > 0 and s["parent"] in self.by_id and seen < 64:
            s = self.by_id[s["parent"]]
            seen += 1
        return s["name"]

    def children(self, s):
        return self.kids.get(s["id"], [])

    def descendants(self, s):
        out, todo = [], list(self.children(s))
        while todo:
            x = todo.pop()
            out.append(x)
            todo += self.children(x)
        return out

    def self_ns(self, s):
        """Span time minus the union of its children's intervals."""
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in self.children(s))
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(0, s["end"] - s["start"] - covered)


def _dur_ms(s):
    return (s["end"] - s["start"]) / 1e6


def per_layer(out, res):
    spans = []
    path = os.path.join(out, "spans.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            spans = [json.loads(l) for l in f if l.strip()]
    jobstats = {}
    path = os.path.join(out, "jobstats.json")
    if os.path.exists(path):
        with open(path) as f:
            jobstats = {int(k): v for k, v in json.load(f).items()}
    t = Tree(spans)
    checks, samples, m = res["checks"], res.get("samples", {}), dict(res["metrics"])
    v = {k: m.get(k) for k, _ in PER_LAYER}
    v["trace.op_p50_ms"] = m.get("op_p50_ms")

    def child(s, name):
        return next((c for c in t.children(s) if c["name"] == name), None)

    def catalyst_ms(s, phase):
        return sum(_dur_ms(c) for c in t.descendants(s) if c["name"] == f"catalyst.{phase}")

    def jobs_under(s):
        ids = [s["id"]] + [d["id"] for d in t.descendants(s)]
        return [jobstats[i] for i in ids if i in jobstats]

    roots = [s for s in spans if s["parent"] == 0 and s["name"] in ("request", "pipeline.query")]
    reads = [r for r in roots if child(r, "server.handle")]
    writes = [r for r in roots if child(r, "wal.commit")]
    queries = [r for r in roots if r["name"] == "pipeline.query"]
    # one op = a replayed read or a timed query run
    ops = [(r, child(r, "server.handle")) for r in reads] + [(q, q) for q in queries]

    if reads:
        parts = []
        for r in reads:
            rep = child(r, "server.replay")
            d = {n: _dur_ms(child(rep, n)) for n in ("ast.parse", "exec.compile", "server.collect")}
            parts.append(d)
            d["http"], d["handle"] = _dur_ms(child(r, "server.http")), _dur_ms(child(r, "server.handle"))
            comp = child(rep, "exec.compile")
            d["eager_jobs"] = sum(j["jobs"] for j in jobs_under(comp))
        v["server.http_overhead_ms"] = _median([d["http"] - d["handle"] for d in parts])
        v["server.render_ms"] = _median([d["handle"] - d["ast.parse"] - d["exec.compile"]
                                         - d["server.collect"] for d in parts])
        v["ast.parse_ms"] = _median([d["ast.parse"] for d in parts])
        v["exec.compile_ms"] = _median([d["exec.compile"] for d in parts])
        v["exec.eager_jobs_per_req"] = _mean([d["eager_jobs"] for d in parts])
        v["server.response_bytes"] = _median(samples.get("server.response_bytes", []))
    if ops:
        for phase in ("analysis", "optimization", "planning"):
            v[f"catalyst.{phase}_ms"] = _median([catalyst_ms(s, phase) for _, s in ops])
        per_op = [jobs_under(s) for _, s in ops]
        for key, name in (("jobs", "jobs_per_op"), ("stages", "stages_per_op"),
                          ("tasks", "tasks_per_op"), ("shuffle_read", "shuffle_read_bytes"),
                          ("shuffle_write", "shuffle_write_bytes"), ("spill", "spill_bytes")):
            v[f"spark.{name}"] = _mean([sum(j[key] for j in js) for js in per_op])
        all_jobs = [j for js in per_op for j in js]
        n_jobs = sum(j["jobs"] for j in all_jobs)
        v["spark.scheduler_delay_ms"] = (sum(j["sched_delay_ms"] for j in all_jobs) / n_jobs
                                         if n_jobs else 0.0)
    win = checks.get("trace_window", {})
    wall = win.get("wall_s") or (sum(_dur_ms(q) for q in queries) / 1000.0)
    if wall:
        v["spark.task_busy_ratio"] = win.get("task_s", 0.0) / wall
    v["spark.gc_ms"] = win.get("gc_ms", 0.0)
    v["spark.storage_mb"] = checks.get("storage_mb", 0.0)
    if writes:
        def durs(name):
            return [_dur_ms(c) for w in writes for c in t.children(w) if c["name"] == name]
        v["wal.commit_ms"] = _median(durs("wal.commit"))
        v["wal.catchup_ms"] = _median(durs("wal.catchup"))
        v["search.text_first_after_write_ms"] = _median(durs("search.text_first_after_write"))
        v["wal.bytes_per_write"] = _median(samples.get("wal.bytes_per_write", []))
        v["wal.segments_replayed"] = _mean(samples.get("wal.segments_replayed", []))
        v["model.scan_partitions"] = max(samples.get("model.scan_partitions", [0]))
        v["search.index_artifacts"] = max(samples.get("search.index_artifacts", [0]))
        if not m.get("write_p50_ms"):
            v["write_p50_ms"] = _median(samples.get("write_ms", []))
    ledger = checks.get("cache_ledger", {})
    for p in ("cold", "warm"):
        if p in ledger:
            v[f"pipeline.cache_builds_{p}"] = len(json.loads(ledger[p]))
    # self time per module over the replayed reads and writes and the
    # query runs; a replayed read's HTTP and handle spans repeat the work
    # its split spans time, so they count as server time net of the split
    self_ns = {mod: 0 for mod in MODULES}
    trees = reads + writes + queries
    for r in trees:
        for s in t.descendants(r) + ([r] if r["name"] == "pipeline.query" else []):
            if s["name"] in ("server.http", "server.handle"):
                continue
            if any(a["name"] in ("server.http", "server.handle") for a in _ancestors(t, s)):
                continue
            mod = _module(s["name"])
            if mod:
                self_ns[mod] += t.self_ns(s)
    if reads:
        self_ns["server"] += 1e6 * len(reads) * (v["server.http_overhead_ms"] + v["server.render_ms"])
    for mod in MODULES:
        v[f"{mod}.self_ms"] = self_ns[mod] / 1e6 / len(trees) if trees else 0.0
    return _out(v, PER_LAYER)


def _ancestors(t, s):
    out = []
    while s["parent"] > 0 and s["parent"] in t.by_id:
        s = t.by_id[s["parent"]]
        out.append(s)
    return out
