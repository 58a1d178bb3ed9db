"""Per-layer metrics from a traced run's `trace.jsonl`.

The trace holds spans recorded around the engine's public entry points
(harness `Agent`), Spark job/stage/task records from `JobProbe`, Catalyst
phase intervals from `PlanProbe`, and counters. A Spark job belongs to the
innermost span of its call whose interval contains it; a layer's self time
is its span's duration minus the child spans and jobs inside it.

Unless a name says otherwise, every value is a mean per root operation: per
`tools/call` on `vault_edit`, per catalog row (traced warm passes) on
`catalog`. Ratios and `cache.storage_bytes` are whole-run values.
"""
import json
import statistics

UNITS = {
    # end to end
    "setup_s": "s", "query_ms": "ms", "calls_per_s": "1/s",
    "heap_live_mb": "MB",
    # per layer
    "scan.glob_ms": "ms", "scan.files_listed": "count", "scan.fingerprint_ms": "ms",
    "ingest.parse_ms": "ms", "ingest.jobs": "count", "ingest.files_parsed": "count",
    "ingest.reparse_ratio": "ratio",
    "dialect.rewrite_ms": "ms",
    "engine.query_self_ms": "ms", "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.collect_ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_wall_ms": "ms", "exec.sched_delay_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.result_rows": "count",
    "inspect.infer_ms": "ms", "inspect.jobs": "count",
    "mutate.call_ms": "ms", "mutate.files_matched": "count", "mutate.files_written": "count",
    "semantic.index_ms": "ms", "semantic.files_embedded": "count", "semantic.embed_ratio": "ratio",
    "mcp.wire_ms": "ms", "mcp.response_bytes": "bytes",
    "cache.corpus_hits": "count", "cache.corpus_misses": "count", "cache.storage_bytes": "bytes",
    "catalog.row_cold_s_p50": "s", "catalog.row_warm_s_p50": "s", "catalog.build_s": "s",
    "catalog.jobs": "count",
    "trace.overhead_ms": "ms", "trace.overhead_pct": "%",
}
PER_LAYER = [k for k in UNITS if "." in k]

# the layer a Spark job is charged to: first match walking up its spans
JOB_LAYERS = [("Corpus.", "ingest"), ("EmbeddingIndexer.", "semantic"), ("Mutations.", "mutate"),
              ("QueryEngine.inspect", "inspect"), ("SchemaInfer.", "inspect")]


class Trace:
    def __init__(self, path):
        self.spans, self.jobs, self.stages, self.plans = {}, {}, {}, []
        self.delay, self.counts, self.storage = {}, [], []
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                t = r["type"]
                if t == "span" and r["end"] >= 0:
                    self.spans[r["id"]] = r
                elif t == "job":
                    self.jobs[r["job"]] = r
                elif t == "job_end" and r["job"] in self.jobs:
                    self.jobs[r["job"]]["end"] = r["end"]
                elif t == "stage":
                    self.stages[r["stage"]] = r
                elif t == "task":
                    self.delay[r["stage"]] = self.delay.get(r["stage"], 0) + r["sched_delay_ms"]
                elif t == "plan":
                    self.plans.append(r["phases"])
                elif t == "count":
                    self.counts.append(r)
                elif t == "storage":
                    self.storage.append(r["bytes"])
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        by_call = {}
        for s in self.spans.values():
            by_call.setdefault(s["call"], []).append(s)
        # charge each finished job to the innermost span of its call around it
        for j in self.jobs.values():
            if "end" not in j:
                continue
            around = [s for s in by_call.get(j["call"], [])
                      if s["start"] <= j["start"] + 1000 and s["end"] >= j["end"] - 1000]
            j["span"] = max(around, key=lambda s: s["start"])["id"] if around else None

    def dur(self, s):
        return (s["end"] - s["start"]) / 1000.0

    def ancestors(self, sid):
        while sid is not None and sid in self.spans:
            yield self.spans[sid]
            sid = self.spans[sid]["parent"]

    def descendants(self, sid):
        for c in self.children.get(sid, []):
            yield c
            yield from self.descendants(c["id"])

    def job_layer(self, j):
        for s in self.ancestors(j.get("span")):
            for prefix, layer in JOB_LAYERS:
                if s["name"].startswith(prefix):
                    return layer
        return "exec"


def analyse(tr, roots, files_written, refreshed=0):
    """Layer metrics over the root spans `roots` (one per operation).
    `files_written`: notes the traced writes changed; `refreshed`: notes
    changed by the writes each traced index refresh picked up."""
    n = max(1, len(roots))
    calls = {r["call"] for r in roots}
    inside = [s for s in tr.spans.values() if s["call"] in calls]
    jobs = [j for j in tr.jobs.values() if j["call"] in calls and "end" in j]

    def named(prefix):
        return [s for s in inside if s["name"].startswith(prefix)]

    def total(spans):
        return sum(tr.dur(s) for s in spans)

    m = {k: 0.0 for k in PER_LAYER}
    m["scan.glob_ms"] = total(named("FileScan.collectWithMtime")) / n
    m["scan.files_listed"] = sum(s["ret_n"] for s in named("FileScan.collectWithMtime")) / n
    m["scan.fingerprint_ms"] = total(named("Corpus.fingerprint")) / n
    m["ingest.parse_ms"] = (total(named("Corpus.parse")) + total(named("Corpus.filesDF"))) / n
    parsed = sum(max(0, s["arg_n"]) for s in named("Corpus.parse"))
    m["ingest.files_parsed"] = parsed / n
    m["ingest.reparse_ratio"] = parsed / files_written if files_written else float(parsed)
    m["dialect.rewrite_ms"] = total(s for s in named("Dialect.rewrite")
                                    if tr.spans.get(s["parent"], {}).get("name") != "Dialect.rewrite") / n

    # Catalyst phases, charged to the operation whose interval holds them
    intervals = [(r["start"], r["end"]) for r in roots]
    phase = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    analysis_at = []
    for p in tr.plans:
        for name, (a, b) in p.items():
            if name in phase and any(lo <= a <= hi for lo, hi in intervals):
                phase[name] += (b - a) / 1000.0
                if name == "analysis":
                    analysis_at.append((a, b))
    for name, v in phase.items():
        m[f"plan.{name}_ms"] = v / n

    self_ms = 0.0
    for q in named("QueryEngine.query"):
        kids = tr.children.get(q["id"], [])
        own_jobs = [j for j in jobs if j.get("span") == q["id"]]
        analysis = sum((b - a) / 1000.0 for a, b in analysis_at if q["start"] <= a <= q["end"]
                       and not any(k["start"] <= a <= k["end"] for k in kids))
        self_ms += tr.dur(q) - total(kids) - sum((j["end"] - j["start"]) / 1000.0
                                                 for j in own_jobs) - analysis
    m["engine.query_self_ms"] = self_ms / n
    m["exec.collect_ms"] = total(named("QueryResult.response")) / n
    m["exec.result_rows"] = sum(max(0, s["ret_n"]) for s in named("QueryResult.response")) / n

    layer_jobs = {}
    for j in jobs:
        layer_jobs.setdefault(tr.job_layer(j), []).append(j)
    seen = set()
    ex = layer_jobs.get("exec", [])
    m["exec.jobs"] = len(ex) / n
    m["exec.job_wall_ms"] = sum((j["end"] - j["start"]) / 1000.0 for j in ex) / n
    for j in ex:
        for sid in j["stages"]:
            st = tr.stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            m["exec.stages"] += 1
            m["exec.tasks"] += st["tasks"]
            m["exec.sched_delay_ms"] += tr.delay.get(sid, 0)
            m["exec.cpu_ms"] += st["cpu_ns"] / 1e6
            m["exec.gc_ms"] += st["gc_ms"]
            m["exec.shuffle_read_bytes"] += st["shuffle_read_bytes"]
            m["exec.shuffle_write_bytes"] += st["shuffle_write_bytes"]
            m["exec.spill_bytes"] += st["spill_bytes"]
    for k in ("exec.stages", "exec.tasks", "exec.sched_delay_ms", "exec.cpu_ms", "exec.gc_ms",
              "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes"):
        m[k] /= n
    m["ingest.jobs"] = len(layer_jobs.get("ingest", [])) / n
    m["inspect.jobs"] = len(layer_jobs.get("inspect", [])) / n

    infer = 0.0
    for s in named("QueryEngine.inspect"):
        ingest = [d for d in tr.descendants(s["id"]) if d["name"].startswith(("FileScan.", "Corpus."))
                  and not tr.spans[d["parent"]]["name"].startswith(("FileScan.", "Corpus."))]
        infer += tr.dur(s) - total(ingest)
    m["inspect.infer_ms"] = infer / n

    muts = named("Mutations.")
    m["mutate.call_ms"] = total(muts) / n
    m["mutate.files_written"] = sum(max(0, s["ret_n"]) for s in muts) / n
    m["mutate.files_matched"] = sum(max(0, d["ret_n"]) for s in muts for d in tr.descendants(s["id"])
                                    if d["name"] == "FileScan.collect") / n

    embedded = sum(c["n"] for c in tr.counts
                   if c["name"] == "semantic.files_embedded" and c["call"] in calls)
    m["semantic.index_ms"] = total(named("EmbeddingIndexer.indexFiles")) / n
    m["semantic.files_embedded"] = embedded / n
    m["semantic.embed_ratio"] = embedded / refreshed if refreshed else 0.0

    handles = [r for r in roots if r["name"] == "McpServer.handle"]
    m["mcp.wire_ms"] = sum(tr.dur(h) - total(c for c in tr.children.get(h["id"], [])
                                            if c["name"].startswith("FmTools."))
                           for h in handles) / n
    m["mcp.response_bytes"] = sum(max(0, h["ret_n"]) for h in handles) / n

    last_fp, hits, misses = {}, 0, 0
    for s in sorted(named("QueryEngine."), key=lambda s: s["start"]):
        desc = list(tr.descendants(s["id"]))
        fp = next((d["ret"] for d in desc if d["name"] == "Corpus.fingerprint"), None)
        reparsed = any(d["name"] == "Corpus.parse" for d in desc)
        prev = last_fp.get(s["arg"])
        if (prev is None and reparsed) or (prev is not None and prev != fp):
            misses += 1
        else:
            hits += 1
        last_fp[s["arg"]] = fp
    m["cache.corpus_hits"] = hits / n
    m["cache.corpus_misses"] = misses / n
    m["cache.storage_bytes"] = float(tr.storage[-1]) if tr.storage else 0.0
    return m


def self_times(tr, roots):
    """Mean self time per operation of every span name: its duration minus
    the child spans and the Spark jobs directly inside it."""
    n = max(1, len(roots))
    calls = {r["call"] for r in roots}
    own_jobs = {}
    for j in tr.jobs.values():
        if j.get("span") is not None:
            own_jobs[j["span"]] = own_jobs.get(j["span"], 0.0) + (j["end"] - j["start"]) / 1000.0
    out = {}
    for s in tr.spans.values():
        if s["call"] in calls:
            kids = sum(tr.dur(c) for c in tr.children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + tr.dur(s) - kids - own_jobs.get(s["id"], 0.0)
    out["spark jobs"] = sum(own_jobs.get(s["id"], 0.0) for s in tr.spans.values() if s["call"] in calls)
    return {k: v / n for k, v in sorted(out.items())}


def mcp_layers(path, files_written, refreshed, untraced, traced):
    """`untraced`, `traced`: (calls, seconds) of the interleaved iterations."""
    tr = Trace(path)
    roots = [s for s in tr.spans.values()
             if s["name"] == "McpServer.handle" and '"tools/call"' in (s["arg"] or "")]
    m = analyse(tr, roots, files_written, refreshed)
    untraced = untraced[1] / max(1, untraced[0]) * 1000
    traced = traced[1] / max(1, traced[0]) * 1000
    m["trace.overhead_ms"] = traced - untraced
    m["trace.overhead_pct"] = (traced / untraced - 1) * 100
    return m, self_times(tr, roots)


def catalog_layers(path, res):
    tr = Trace(path)
    rows = [s for s in tr.spans.values() if s["name"].startswith("catalog.")
            and s["name"] not in ("catalog.lambda", "catalog.Tables.warm")]
    first = {}
    warm = []
    for s in sorted(rows, key=lambda s: s["start"]):
        if s["name"] in first:
            warm.append(s)
        else:
            first[s["name"]] = s
    m = analyse(tr, warm, 0)
    n = max(1, len(warm))
    lambdas = [s for s in tr.spans.values() if s["name"] == "catalog.lambda"
               and s["call"] in {w["call"] for w in warm}]
    m["exec.collect_ms"] = (sum(tr.dur(s) for s in warm) - sum(tr.dur(s) for s in lambdas)) / n
    m["exec.result_rows"] = sum(res["rows"].values()) / max(1, len(res["rows"]))
    warm_rows = [statistics.median(v) for v in res["warm"].values() if v]
    m["catalog.row_cold_s_p50"] = statistics.median(res["cold"].values())
    m["catalog.row_warm_s_p50"] = statistics.median(warm_rows)
    m["catalog.build_s"] = res["tables_warm_s"] + sum(res["cold"].values()) - sum(warm_rows)
    m["catalog.jobs"] = len([j for j in tr.jobs.values()
                             if j["call"] in {w["call"] for w in warm}]) / n
    untraced = statistics.mean(res["warm_passes"])
    traced = statistics.mean(res["traced_passes"])
    m["trace.overhead_ms"] = (traced - untraced) / len(res["rows"]) * 1000
    m["trace.overhead_pct"] = (traced / untraced - 1) * 100
    return m, self_times(tr, warm)
