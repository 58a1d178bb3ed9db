#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (`perfbench/harness`, sbt, offline); later runs reuse
the build while the sources are unchanged.

Workloads:
  vault_edit  the real `graft.fm.McpServer` over stdio with semantic search
              on, one closed-loop client on a generated vault; every
              iteration writes about 1% of the notes, then queries, inspects,
              refreshes the index and searches it; two server launches
  catalog     `SparkEntry.queries` rows over `perfbench/data/sf0.01`: one
              cold pass, then warm passes

Every answer is checked: MCP results against the benchmark's own model of
the vault with its writes applied, catalog results against DuckDB oracle
digests (`golden/catalog.json`). The last stdout line is the result
object; the line before it is the full record of the run (config stamp,
every detail metric, failures). With `--trace 1` the run measures per-layer
metrics instead (see `layers.py`) and writes its spans to
`.perfbench_run/agent/trace.jsonl`.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".perfbench_run")
sys.path.insert(0, HERE)

import layers  # noqa: E402
import mcp  # noqa: E402
import oracle  # noqa: E402
import vault  # noqa: E402

NOTES = 2000          # vault size
XMX = "4g"            # heap limit of every JVM the benchmark starts
RUN_LIMIT_S = 170     # a run that takes longer is stopped and fails
LAUNCHES = 2          # vault_edit server launches per untraced run
EDIT_ITERS = 3        # iterations after set-up that vault_edit's gated figures cover
EDIT_WARMUP = 3       # untimed iterations before the traced vault_edit loop
CATALOG_WARMUP_S = 5  # untimed catalog passes after the cold pass
CPUS = len(os.sched_getaffinity(0))
SPARK_MASTER = f"local[{CPUS}]"
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-XX:-UsePerfData", f"-Xmx{XMX}", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                 os.path.join(HARNESS, "project")):
        for dirpath, dirs, files in os.walk(base):
            dirs[:] = sorted(d for d in dirs if d != "target")
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HARNESS, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Build engine + harness unless the sources are unchanged; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from the repository root")
    target = os.path.join(HARNESS, "target")
    cp_file, stamp = os.path.join(target, "run-classpath.txt"), os.path.join(target, "source-digest.txt")
    digest = _source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                     open(os.path.join(ROOT, "build.sbt")).read())
    if jars is None:
        fail("no unmanagedBase jar directory in build.sbt", 1)
    opts.append(f"-Dperfbench.jars={jars.group(1)}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, stdout=out,
                           stderr=subprocess.STDOUT, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 1)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


# ------------------------------------------------------------ processes

def reset_work():
    """One fixed on-disk state before every run: vault, Spark local dirs,
    warehouse, semantic cache and results all live under WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "agent"):
        os.makedirs(os.path.join(WORK, d))


def java_argv(cp, main, args=(), trace=False):
    """A JVM command line; traced runs load the span agent and the Spark probes."""
    argv = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={WORK}/tmp"]
    if trace:
        jar = cp.split(os.pathsep)[0]
        argv += [f"-javaagent:{jar}={WORK}/agent",
                 "-Dspark.extraListeners=graftbench.JobProbe",
                 "-Dspark.sql.queryExecutionListeners=graftbench.PlanProbe"]
    return argv + ["-cp", cp, main, *args]


def java_env(extra=None):
    env = {k: v for k, v in os.environ.items() if not k.startswith(("FRONTMATTER_", "SPARK_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env.update(extra or {})
    return env


def config_stamp(cp, args, **extra):
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.split("\n")[0]
    spark = next((os.path.basename(p)[len("spark-core_2.13-"):-len(".jar")]
                  for p in cp.split(os.pathsep) if os.path.basename(p).startswith("spark-core_")), "?")
    top = subprocess.run(["git", "rev-parse", "--show-toplevel", "--short", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True).stdout.split()
    rev = top[1] if len(top) == 2 and os.path.samefile(top[0], ROOT) else None
    stamp = {"nproc": CPUS, "spark_master": SPARK_MASTER, "driver_xmx": XMX, "jdk": jdk,
             "spark": spark, "git_rev": rev, "source_sha256": _source_digest()[:16],
             "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace}
    stamp.update(extra)
    return stamp


# ------------------------------------------------------------- checking

class Tally:
    """Attempted and failed operations, plus latency samples by kind."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures = []
        self.lat = {}

    def absorb(self, other):
        """Add the operations of `other`; latencies stay where they are."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.failures = (self.failures + other.failures)[:10]

    def outcome(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 10:
                self.failures.append(what)

    def call(self, client, kind, tool, arguments, expect):
        """Time one tools/call; `expect(result)` returns None or a mismatch."""
        t = time.perf_counter()
        try:
            result, err = client.call(tool, arguments), None
        except mcp.McpError as e:
            result, err = None, str(e)
        self.lat.setdefault(kind, []).append(time.perf_counter() - t)
        if err is None:
            err = expect(result)
        self.outcome(err is None, f"{tool}: {err}")
        return result


def tail(samples):
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return None
    for pct in (99.9, 99, 95, 90, 75, 50):
        beyond = n - int(n * pct / 100.0)
        if beyond >= 10:
            k = min(n - 1, int(n * pct / 100.0))
            return {"value_ms": xs[k] * 1000, "percentile": pct, "samples": n}
    return None


def p50_ms(xs):
    return statistics.median(xs) * 1000 if xs else None


def geomean_ms(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs)) * 1000


# ---------------------------------------------------------- MCP queries

TAGS_SQL = ("SELECT tag, count(*) AS n FROM files, "
            "UNNEST(from_json(tags, '[\"VARCHAR\"]')) AS t(tag) GROUP BY tag ORDER BY tag")


def tag_counts(recs):
    """Expected rows of TAGS_SQL."""
    counts = {}
    for r in recs:
        for t in json.loads(r["tags"]) if r.get("tags") else []:
            counts[t] = counts.get(t, 0) + 1
    return [{"tag": t, "n": counts[t]} for t in sorted(counts)]


def expect_query(model, glob, fn, inject):
    def check(result):
        want = fn(model.records(glob))
        if inject[0] == "answer":
            inject[0] = None
            want = want + [{"injected": True}]
        if result.get("results") != want:
            return f"{glob}: got {str(result.get('results'))[:200]} want {str(want)[:200]}"
        if len(result.get("warnings", [])) != len(model.warnings(glob)):
            return f"{glob}: {len(result.get('warnings', []))} warnings, want {len(model.warnings(glob))}"
        return None
    return check


def expect_count(model, glob):
    return lambda r: None if r.get("results") == [{"n": len(model.records(glob))}] else f"count {r}"


def expect_inspect(model, glob):
    def check(result):
        recs = model.records(glob)
        if result.get("file_count") != len(recs):
            return f"file_count {result.get('file_count')} want {len(recs)}"
        schema = result.get("schema", {})
        want_cols = set(model.columns(glob))
        got_cols = set(schema) - {"embedding"}
        if got_cols != want_cols:
            return f"schema columns {sorted(got_cols)} want {sorted(want_cols)}"
        for col in want_cols:
            vals = [r.get(col) for r in recs]
            examples = list(dict.fromkeys(v for v in vals if v is not None))[:5]
            want = {"type": "array" if col == "tags" else "string",
                    "nullable": col != "path" and any(v is None for v in vals),
                    "examples": json.dumps(examples)}
            got = {k: schema[col].get(k) for k in want}
            if got != want:
                return f"schema[{col}] {got} want {want}"
        return None
    return check


def expect_write(model, tool, args):
    def check(result):
        updated = model.apply_write(tool, args)
        group = [n.path for n in model.match(args["glob"]) if n.kind == "fm"]
        if not group or updated != group:
            raise AssertionError(f"benchmark bug: {tool} would leave files unchanged")
        if result.get("updated_count") != len(updated) or result.get("updated_files") != updated:
            return f"{tool} updated {result.get('updated_count')} want {len(updated)}"
        return None
    return check


def expect_similar(target):
    def check(result):
        rows = result.get("results", [])
        sims = [r.get("s") for r in rows]
        if len(rows) != 10 or rows[0].get("path") != target or sims[0] is None or sims[0] < 0.9999:
            return f"top hit {rows[:1]} want {target}"
        if any(b is not None and (a is None or a < b) for a, b in zip(sims, sims[1:])):
            return "similarities not in descending order"
        return None
    return check


# ------------------------------------------------------------ workloads

def write_steps(k, group):
    """Batch writes on one group; every step changes the bytes of every
    note in it. Two self-contained cycles so short runs cover all tools."""
    glob = f"**/g{group:02d}_*.md"
    a = [("batch_array_add", {"glob": glob, "property": "tags", "value": f"0e{k}"}),
         ("batch_array_sort", {"glob": glob, "property": "tags"}),
         ("batch_array_replace", {"glob": glob, "property": "tags",
                                  "old_value": f"0e{k}", "new_value": f"1f{k}"}),
         ("batch_array_remove", {"glob": glob, "property": "tags", "value": f"1f{k}"})]
    b = [("batch_update", {"glob": glob, "set": {"rev": f"r{k}"}}),
         ("batch_array_add", {"glob": glob, "property": "tags", "value": f"2g{k}"}),
         ("batch_array_add", {"glob": glob, "property": "tags", "value": f"2g{k}",
                              "allow_duplicates": True}),
         ("batch_array_unique", {"glob": glob, "property": "tags"})]
    return a if k % 2 == 0 else b


# latency buckets that are not loop calls
UNTIMED = ("setup", "warmup", "refresh_total")


def edit_launch(args, cp, n, inject):
    """One server launch on a freshly generated vault: set-up, then
    iterations. Untraced, it runs at least EDIT_ITERS iterations and at
    least `seconds / LAUNCHES`; traced, it warms up and then alternates
    traced and untraced iterations for `2 * seconds`."""
    root = os.path.join(WORK, f"launch{n}")
    model = vault.generate(os.path.join(root, "vault"), args.notes, args.seed)
    rng = random.Random(f"vault_edit:{args.seed}")
    tally = Tally()
    env = {"SPARK_MASTER": SPARK_MASTER, "FRONTMATTER_BASE_DIR": os.path.join(root, "vault"),
           "FRONTMATTER_ENABLE_SEMANTIC": "1",
           "FRONTMATTER_CACHE_DIR": os.path.join(root, "semantic-cache")}
    stderr = open(os.path.join(WORK, "server.log"), "ab")
    heap_file = os.path.join(root, "heap.txt")
    client = mcp.McpClient(java_argv(cp, "graftbench.Serve", [heap_file], trace=args.trace),
                           java_env(env), WORK, stderr)
    client.initialize()
    tally.call(client, "setup", "index_wait", {"timeout": 120},
               lambda r: None if r.get("success") else f"index not ready: {r}")
    t = time.perf_counter()
    tally.call(client, "setup", "query", {"glob": "**/*.md", "sql": "SELECT count(*) AS n FROM files"},
               expect_count(model, "**/*.md"))
    done = time.perf_counter()
    setup_s, cold_s = done - client.t_launch, done - t

    fm_notes = [n for n in model.notes if n.kind == "fm"]
    groups = [g for g in rng.sample(range(vault.GROUPS), vault.GROUPS)
              if any(n.kind == "fm" for n in model.match(f"**/g{g:02d}_*.md"))]
    # notes written by traced writes, and by the writes before traced refreshes
    state = {"i": 0, "on": False, "written": 0, "refreshed": 0}

    def iteration():
        """Write, read it back, refresh the index and search it. The query
        counts tags, which every write changes."""
        i = state["i"]
        k, step = divmod(i, 4)
        tool, wargs = write_steps(k, groups[k % len(groups)])[step]
        result = tally.call(client, "write", tool, wargs, expect_write(model, tool, wargs))
        if state["on"]:
            state["written"] += (result or {}).get("updated_count", 0)
        sql = TAGS_SQL
        if inject[0] == "throw":
            inject[0] = None
            sql = TAGS_SQL.replace("FROM files", "FROM no_such_table")
        tally.call(client, "query", "query", {"glob": "**/*.md", "sql": sql},
                   expect_query(model, "**/*.md", tag_counts, inject))
        tally.call(client, "inspect", "query_inspect", {"glob": "**/*.md"},
                   expect_inspect(model, "**/*.md"))
        t = time.perf_counter()
        tally.call(client, "refresh", "index_refresh", {}, lambda r: None)
        tally.call(client, "refresh", "index_wait", {"timeout": 120},
                   lambda r: None if r.get("success") else f"index not ready: {r}")
        tally.lat.setdefault("refresh_total", []).append(time.perf_counter() - t)
        if state["on"]:
            state["refreshed"] += (result or {}).get("updated_count", 0)
        target = rng.choice(fm_notes)
        sql = ("SELECT path, array_cosine_similarity(embedding, embed('%s')) AS s FROM files "
               "ORDER BY s DESC, path LIMIT 10" % target.content.replace("'", "''"))
        tally.call(client, "similar", "query", {"glob": "**/*.md", "sql": sql},
                   expect_similar(target.path))
        state["i"] += 1

    def traced_now(i):
        # Untraced and traced iterations alternate A B B A, which cancels a
        # steady warm-up drift, flipped every four so that each write step
        # is seen both ways.
        return ((i + 1) // 2 + i // 4) % 2 == 1

    def loop(seconds, min_iters=1, trace=False):
        """Whole iterations until `seconds` have passed and at least
        `min_iters` ran. With `trace`, tracing alternates between
        iterations. Returns (traced, calls, seconds) per iteration."""
        its = []
        t0 = time.perf_counter()
        while True:
            on = state["on"] = trace and traced_now(state["i"])
            if trace:
                client.notify("perfbench/trace_on" if on else "perfbench/trace_off")
            calls0 = sum(len(v) for k, v in tally.lat.items() if k not in UNTIMED)
            t = time.perf_counter()
            iteration()
            its.append((on, sum(len(v) for k, v in tally.lat.items() if k not in UNTIMED) - calls0,
                        time.perf_counter() - t))
            both = not trace or len({on for on, _, _ in its}) == 2
            if time.perf_counter() - t0 >= seconds and len(its) >= min_iters and both:
                return its

    if args.trace:
        # The first iterations after start-up run cold code paths; the
        # overhead comparison starts after them.
        for _ in range(EDIT_WARMUP):
            iteration()
        for k in [k for k in tally.lat if k not in UNTIMED]:
            tally.lat.setdefault("warmup", []).extend(tally.lat.pop(k))
        its = loop(2 * args.seconds, trace=True)
        client.notify("perfbench/trace_off")
    else:
        its = loop(args.seconds / LAUNCHES, min_iters=EDIT_ITERS)
    client.close()
    stderr.close()
    fixed = its[:EDIT_ITERS]
    out = {
        "tally": tally, "setup_s": setup_s, "cold_query_s": cold_s,
        "heap_live_mb": int(open(heap_file).read()) / 2**20,
        "query_ms": geomean_ms(tally.lat["query"][:EDIT_ITERS]),
        "calls_per_s": sum(c for _, c, _ in fixed) / sum(s for _, _, s in fixed),
    }
    if args.trace:
        spent = {on: (sum(c for o, c, _ in its if o == on), sum(s for o, _, s in its if o == on))
                 for on in (False, True)}
        out["layers"] = layers.mcp_layers(os.path.join(WORK, "agent", "trace.jsonl"),
                                          state["written"], state["refreshed"],
                                          spent[False], spent[True])
    return out


def vault_edit(args, cp):
    """Untraced, the gated figures are medians over LAUNCHES server
    launches of the same fixed work: set-up, then the first EDIT_ITERS
    iterations. Between otherwise identical launches the server's speed
    differs by about a tenth for the whole launch, and the loop is still
    speeding up when a run ends, so only fixed work over several launches
    repeats from run to run. The record adds the p50s of every iteration."""
    inject = [args.inject_error]
    launches = [edit_launch(args, cp, n, inject) for n in range(1 if args.trace else LAUNCHES)]
    tally, lat = Tally(), {}
    for s in launches:
        tally.absorb(s["tally"])
        for k, v in s["tally"].lat.items():
            lat.setdefault(k, []).extend(v)
    if args.trace:
        metrics, self_ms = launches[0]["layers"]
    else:
        metrics = {k: statistics.median(s[k] for s in launches)
                   for k in ("setup_s", "query_ms", "calls_per_s", "heap_live_mb")}
    record = {
        "launches": [{k: v for k, v in s.items() if k not in ("tally", "layers")}
                     for s in launches],
        "cold_query_s": statistics.median(s["cold_query_s"] for s in launches),
        "query_p50_ms": p50_ms(lat.get("query", [])), "query_tail": tail(lat.get("query", [])),
        "inspect_p50_ms": p50_ms(lat.get("inspect", [])),
        "write_p50_ms": p50_ms(lat.get("write", [])),
        "refresh_p50_ms": p50_ms(lat.get("refresh_total", [])),
        "similar_p50_ms": p50_ms(lat.get("similar", [])),
        "calls": {k: len(v) for k, v in lat.items()},
        "latency_ms": [{k: [x * 1000 for x in v] for k, v in s["tally"].lat.items()}
                       for s in launches],
        "heap_live_mb": statistics.median(s["heap_live_mb"] for s in launches),
    }
    if args.trace:
        record["self_ms_per_call"] = self_ms
    return metrics, record, tally, {"vault_notes": args.notes, "launches": len(launches)}


def catalog_workload(args, cp):
    golden = json.load(open(os.path.join(HERE, "golden", "catalog.json")))["rows"]
    # The cold pass runs in one fixed order, so each shared frame is built by
    # the same row in every run; the seed orders the warm passes.
    rows = sorted(golden)[:args.rows] if args.rows else sorted(golden)
    if args.inject_error == "throw":
        rows.append(NO_SUCH_ROW)
    warm_rows = list(rows)
    random.Random(f"catalog:{args.seed}").shuffle(warm_rows)
    cold_file, warm_file = os.path.join(WORK, "cold_rows.txt"), os.path.join(WORK, "warm_rows.txt")
    for path, names in ((cold_file, rows), (warm_file, warm_rows)):
        with open(path, "w") as f:
            f.write("\n".join(names) + "\n")
    out = os.path.join(WORK, "catalog")
    os.makedirs(out)
    tally = Tally()
    with open(os.path.join(WORK, "catalog.log"), "ab") as stderr:
        t0 = time.perf_counter()
        proc = mcp.start(
            java_argv(cp, "graftbench.Catalog",
                      ["run", DATA_DIR, cold_file, warm_file, out, str(CATALOG_WARMUP_S),
                       str(args.seconds), str(args.trace)],
                      trace=args.trace),
            env=java_env(), cwd=WORK, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=stderr, text=True)
        ready = proc.stdout.readline().strip() == "READY"
        setup_s = time.perf_counter() - t0
        proc.stdout.read()
        if not ready or proc.wait() != 0:
            fail("catalog run failed; see .perfbench_run/catalog.log", 1)

    res = json.load(open(os.path.join(out, "catalog.json")))
    for name in rows:
        err = res["errors"].get(name)
        if err is None:
            try:
                got = oracle.digest_parquet(os.path.join(out, "results", name))
            except (OSError, ValueError) as e:
                got = {"error": str(e)}
            want = golden[name]
            if args.inject_error == "answer" and name == rows[0]:
                want = dict(want, rows=want["rows"] + 1)
            if got != want:
                err = f"result {got} != oracle {want}"
        tally.outcome(err is None, f"{name}: {err}")
        for _ in res["warm"][name]:
            tally.outcome(err is None, f"{name} (warm): {err}")
    if not res["cold"]:
        fail(f"every catalog row failed: {tally.failures}", 1)
    # Rows that failed have no times (catalog.json); the timings cover the rest.
    cold = res["tables_warm_s"] + sum(res["cold"].values())
    warm_medians = {n: statistics.median(v) for n, v in res["warm"].items() if v}
    warm_total = sum(sum(v) for v in res["warm"].values())
    warm_n = sum(len(v) for v in res["warm"].values())
    if args.trace:
        metrics, self_ms = layers.catalog_layers(os.path.join(WORK, "agent", "trace.jsonl"), res)
    else:
        # Gated on the cold pass: warm-pass speed on this class of machine
        # swings by a quarter between otherwise identical runs. query_ms is
        # the typical row; calls_per_s is the whole pass, table loads
        # included, so it weighs the large rows and the loads by their cost.
        metrics = {
            "setup_s": setup_s,
            "query_ms": geomean_ms(res["cold"].values()),
            "calls_per_s": len(res["cold"]) / cold,
            "heap_live_mb": res["heap_live_bytes"] / 2**20,
        }
    record = {
        "catalog_cold_s": cold,
        "catalog_warm_s": statistics.median(res["warm_passes"]) if res["warm_passes"] else None,
        "warm_passes_s": res["warm_passes"], "tables_warm_s": res["tables_warm_s"],
        "row_cold_s": res["cold"], "row_warm_s": warm_medians,
        "warm_query_p50_ms": statistics.median(warm_medians.values()) * 1000 if warm_medians else None,
        "warm_calls_per_s": warm_n / warm_total if warm_total else None,
        "query_tail": tail([x for v in res["warm"].values() for x in v]),
        "heap_live_mb": res["heap_live_bytes"] / 2**20,
    }
    if args.trace:
        record["self_ms_per_row"] = self_ms
    return metrics, record, tally, {"sf": "0.01", "rows": len(rows), "aqe": False,
                                    "shuffle_partitions": res["shuffle_partitions"]}


WORKLOADS = {"vault_edit": vault_edit, "catalog": catalog_workload}
# a catalog row name no engine has: `--inject-error throw` adds it
NO_SUCH_ROW = "perfbench_no_such_row"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Self-test knobs (test_bench.py): a smaller input, and a deliberately
    # wrong expected answer or a failing operation, each of which must
    # show up as a failed operation.
    ap.add_argument("--notes", type=int, default=NOTES, help=argparse.SUPPRESS)
    ap.add_argument("--rows", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--inject-error", choices=("answer", "throw"), help=argparse.SUPPRESS)
    args = ap.parse_args()

    cp = build()
    reset_work()

    def overdue(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")
    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(RUN_LIMIT_S)
    try:
        metrics, record, tally, extra = WORKLOADS[args.workload](args, cp)
    finally:
        signal.alarm(0)
        # a failed run must not leave a JVM behind
        for proc in mcp.PROCESSES:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    stamp = config_stamp(cp, args, **extra)
    error_rate = tally.failed / max(1, tally.attempted)
    units = layers.UNITS
    record.update({"config": stamp, "attempted": tally.attempted, "failed": tally.failed,
                   "error_rate": error_rate, "failures": tally.failures})
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
