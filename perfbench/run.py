#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 16 --trace 0

Builds graft and the harness from source (sbt, only when the sources
changed), generates the seeded inputs, times the workload in a plain
`java -cp` JVM, checks every output against its oracle, and prints one
JSON line last: the end-to-end metrics when --trace 0, the per-layer
metrics (from a traced run) when --trace 1. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
CACHE = os.path.join(HERE, ".cache")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")


def spark_home():
    """The Spark install graft compiles and runs against: $SPARK_HOME, else
    the first bin/ on PATH holding spark-submit beside a jars/ directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    sys.exit("no Spark install found: set SPARK_HOME")


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

# ---- workloads (README.md says why each was chosen)

# adhoc: every registry query, ranked by cost (adhoc_rank.txt, one
# sf0.01 run on a 4-core box) and cut into bands of ADHOC_BAND
# neighbours; the middle query of each band runs, cheapest first, on data
# the seed draws. The seed picks neither the queries nor their order:
# picking within each band moved op_p50_s by a third between seeds, and
# whichever query runs first pays 1-3 s of JIT warm-up.
ADHOC_BAND = 30

# corpus_batch: the dedup / curation mechanisms ROADMAP targets, one
# query per mechanism, on the sf0.1 corpus
CORPUS = [
    "q52_lsh_pairs",  # LSH candidate pairing
    "q155_pagerank",  # iterative GraphOps
    "q51_minhash_sig",  # native kernel: md5_prefix64
    "q121_semdedup",  # native kernel: dot_product
]

# stream_ingest: the sf0.1 corpus replayed as time-ordered files, one
# file per micro-batch, through three keyed-state operators (two of them
# read the events feed): 19 batches per pass
FEED_FILES = {"docs": 7, "events": 6}

# a pass is one run of the workload's fixed work (~16-25 s on 4 cores);
# --seconds buys round(seconds / PASS_S) passes, at least one
PASS_S = 16.0

JAVA_OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles graft + the harness unless the classes match the sources;
    returns the source digest (recorded as the code identity, since the
    checkout need not be a git repository)."""
    if not os.path.isdir(GRAFT_SRC):
        sys.exit(f"graft sources not found under {GRAFT_SRC}")
    srcs = (glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True)
            + glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                        recursive=True)
            + [os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")])
    digest = tree_digest(srcs)
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return digest
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    sbt_opts = [
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(CACHE, "tmp")]
    env = dict(os.environ, SPARK_HOME=SPARK_HOME, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(sbt_opts))
    log("[perfbench] compiling graft + harness")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "clean", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        sys.exit("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def java(args, out_dir, timeout):
    cmd = (["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(CACHE, "tmp"),
            "-Dspark.local.dir=" + os.path.join(CACHE, "tmp"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(CACHE, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JAVA_OPENS
           + ["-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
              "perfbench.Main"] + args)
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    with open(os.path.join(out_dir, "jvm.log"), "wb") as logf:
        subprocess.run(cmd, cwd=ROOT, stdout=logf, stderr=logf,
                       timeout=timeout, check=True)


def adhoc_queries():
    rank = open(os.path.join(HERE, "adhoc_rank.txt")).read().split()
    n = len(rank) // ADHOC_BAND
    bands = [rank[i * ADHOC_BAND:(i + 1) * ADHOC_BAND] for i in range(n - 1)]
    bands.append(rank[(n - 1) * ADHOC_BAND:])  # the remainder joins the top
    return [b[len(b) // 2] for b in bands]


# ---- inputs, cached per (workload, seed) outside git

def prune(kind, keep):
    dirs = sorted(glob.glob(os.path.join(CACHE, kind, "*")),
                  key=os.path.getmtime)
    for d in dirs[:-keep] if len(dirs) > keep else []:
        shutil.rmtree(d, ignore_errors=True)


def inputs(workload, seed):
    # keyed by everything that shapes them, so a changed generator or
    # scale never reuses stale files
    sig = hashlib.sha256((open(gen.__file__).read() + repr(
        FEED_FILES)).encode()).hexdigest()[:8]
    key = f"{workload}-s{seed}-{sig}"
    d = os.path.join(CACHE, "inputs", key)
    if os.path.isfile(os.path.join(d, "done")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    prune("inputs", 4)
    t = os.path.join(d, "tables")
    if workload == "adhoc":
        gen.tables(t, 0.01, seed)
    else:  # the corpus at sf0.1; the relational tables only feed set-up
        gen.tables(t, 0.1, seed, rel_sf=0.01)
    if workload == "stream_ingest":
        gen.feed(t, os.path.join(d, "feed"), FEED_FILES, seed)
    open(os.path.join(d, "done"), "w").close()
    return d


def input_sizes(d):
    con = duckdb.connect()
    sizes = {}
    for p in sorted(glob.glob(os.path.join(d, "tables", "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        sizes[name] = {"rows": con.sql(f"SELECT count(*) FROM '{p}'")
                       .fetchone()[0], "bytes": os.path.getsize(p)}
    return sizes


def oracle_sql(digest, out_dir):
    p = os.path.join(CACHE, f"oracle-sql-{digest}.json")
    if not os.path.isfile(p):
        java(["--mode", "oracles", "--out", p], out_dir, 120)
    return json.load(open(p))


def oracles(d, names, sqls):
    """DuckDB oracle result per query, as parquet under <inputs>/oracle."""
    od = os.path.join(d, "oracle")
    os.makedirs(od, exist_ok=True)
    con = None
    for name in names:
        p = os.path.join(od, f"{name}.parquet")
        if os.path.isfile(p):
            continue
        if con is None:
            con = duckdb.connect()
            con.sql("SET threads TO 4")
            con.sql("SET enable_progress_bar = false")
            con.sql("SET TimeZone = 'UTC'")
            for t in glob.glob(os.path.join(d, "tables", "*.parquet")):
                v = os.path.basename(t)[:-len(".parquet")]
                con.sql(f"CREATE VIEW {v} AS SELECT * FROM '{t}'")
        rel = con.sql(sqls[name])
        # parquet has no 128-bit integer: keep wide sums exact as decimals
        cols = ", ".join(
            f'CAST("{c}" AS DECIMAL(38, 0)) AS "{c}"'
            if str(t) in ("HUGEINT", "UHUGEINT", "UBIGINT") else f'"{c}"'
            for c, t in zip(rel.columns, rel.types))
        con.sql(f"COPY (SELECT {cols} FROM ({sqls[name]})) "
                f"TO '{p}.tmp' (FORMAT PARQUET)")
        os.replace(p + ".tmp", p)
    return od


def stream_twin(d):
    """What the stream's state and sink must hold, from the feed files."""
    p = os.path.join(d, "twin.json")
    if os.path.isfile(p):
        return json.load(open(p))
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET enable_progress_bar = false")
    docs = f"'{d}/feed/docs/*.parquet'"
    evs = f"'{d}/feed/events/*.parquet'"
    one = lambda q: con.sql(q).fetchone()[0]
    quant = con.sql(f"""
        WITH v AS (SELECT epoch_us(ts) // 604800000000 AS wk,
                          CAST(floor(value * 100) AS BIGINT) AS c FROM {evs}),
        h AS (SELECT wk, c, count(*) AS k FROM v GROUP BY ALL),
        cum AS (SELECT wk, c, sum(k) OVER (PARTITION BY wk ORDER BY c) AS cc,
                       sum(k) OVER (PARTITION BY wk) AS n FROM h)
        SELECT wk, any_value(n),
               min(c) FILTER (WHERE cc * 100 >= 25 * n),
               min(c) FILTER (WHERE cc * 100 >= 50 * n),
               min(c) FILTER (WHERE cc * 100 >= 75 * n)
        FROM cum GROUP BY wk ORDER BY wk""").fetchall()
    twin = {
        "docs": one(f"SELECT count(*) FROM {docs}"),
        "buckets": one(f"SELECT count(DISTINCT bucket) FROM {docs}"),
        "users": one(f"SELECT count(DISTINCT user_id) FROM {evs}"),
        "weeks": len(quant),
        "quantiles": [[int(x) for x in r] for r in quant],
        "files": {"docs": len(glob.glob(f"{d}/feed/docs/*.parquet")),
                  "events": len(glob.glob(f"{d}/feed/events/*.parquet"))},
    }
    json.dump(twin, open(p, "w"))
    return twin


# ---- checks: an operation that throws or whose output is wrong fails

def check_queries(res):
    ok_lat, failures = [], []
    orc = res.get("oracles", {})
    for q in res.get("queries", []):
        o = orc.get(q["name"])
        if not q["ok"]:
            failures.append(f"{q['name']}: {q['error']}")
        elif o is None:
            failures.append(f"{q['name']}: no oracle result")
        elif (q["rows"], q["hash"], q["columns"]) != (
                o["rows"], o["hash"], o["columns"]):
            failures.append(f"{q['name']}: {q['rows']} rows digest "
                            f"{q['hash']} vs oracle {o['rows']} rows "
                            f"digest {o['hash']}")
        else:
            ok_lat.append(q["construct_s"] + q["plan_s"] + q["exec_s"])
    return len(res.get("queries", [])), failures, ok_lat


def check_streams(res, twin):
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    attempted, failures, ok_lat = 0, [], []
    for s in res.get("streams", []):
        op, feed = s["op"], ("docs" if s["op"] == "dedupNearStream"
                             else "events")
        expected = twin["files"][feed]
        attempted += expected
        done = s["batches"]
        why = []
        if not s["ok"]:
            why.append(s.get("error", "failed"))
        if len(done) != expected:
            why.append(f"{len(done)} of {expected} batches")
        bound = {"dedupNearStream": twin["buckets"],
                 "contextPackStream": twin["users"],
                 "quantileDriftStream": twin["weeks"]}[op]
        if s["state_rows"] != bound:
            why.append(f"state rows {s['state_rows']} != bound {bound}")
        sink = f"read_parquet('{s['sink']}/**/*.parquet', hive_partitioning=1)"
        try:
            if op == "dedupNearStream":
                got = con.sql(f"SELECT count(*), count(DISTINCT doc_id), "
                              f"count(*) FILTER (WHERE kept) FROM {sink}"
                              ).fetchone()
                want = (twin["docs"], twin["docs"], twin["buckets"])
            elif op == "contextPackStream":
                got = con.sql(f"SELECT count(DISTINCT user_id) FROM {sink}"
                              ).fetchone()
                want = (twin["users"],)
            else:
                got = [list(r) for r in con.sql(f"""
                    SELECT wk, n, q25, q50, q75 FROM {sink}
                    QUALIFY row_number() OVER (PARTITION BY wk
                        ORDER BY CAST(__batch_id AS BIGINT) DESC) = 1
                    ORDER BY wk""").fetchall()]
                want = twin["quantiles"]
            if tuple(got) != tuple(want):
                why.append(f"sink {str(got)[:120]} != batch twin "
                           f"{str(want)[:120]}")
        except Exception as e:  # no sink written at all
            why.append(f"sink unreadable: {e}")
        if why:
            # a failed stream run fails all its batches; none is a sample
            failures += [f"{op} pass {s['pass']}: " + "; ".join(why)] * expected
        else:
            ok_lat += [b["trigger_ms"] / 1000 for b in done]
    return attempted, failures, ok_lat


# ---- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:  # every operation failed; the run is already incorrect
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (k - lo)


def layer_metrics(res, spans, cores):
    """Per-layer metrics from the traced run's spans (README.md lists
    which end-to-end metric each should move)."""
    by_id = {s["id"]: s for s in spans}
    jobs = [s for s in spans if s["kind"] == "job"]

    def phase(j):
        # the nearest construct/plan/exec/stream/setup span above the job
        p = by_id.get(j["parent"])
        while p is not None and p["kind"] not in (
                "construct", "plan", "exec", "stream", "setup"):
            p = by_id.get(p["parent"])
        return p["kind"] if p else "other"

    def in_pass(j):
        p = by_id.get(j["parent"])
        while p is not None and p["kind"] != "pass":
            p = by_id.get(p["parent"])
        return p is not None

    ph = {j["id"]: phase(j) for j in jobs}
    in_ = lambda k: [j for j in jobs if ph[j["id"]] == k]
    cons, exe = in_("construct"), in_("exec") + in_("stream")
    measured = [j for j in jobs if in_pass(j)]
    mb = lambda xs, k: sum(j[k] for j in xs) / 2 ** 20
    dur = lambda k: sum(s["dur_s"] for s in spans if s["kind"] == k)
    queries = [s for s in spans if s["kind"] == "query"]
    job_s = lambda xs: sum(j["end_ms"] - j["start_ms"] for j in xs) / 1e3
    exec_s = dur("exec") + dur("stream")
    cons_s = dur("construct")
    task_run = sum(j["run_ms"] for j in exe) / 1e3
    graph = [j for j in measured if j["graph"]]
    schema = [j for j in measured if j["schema"]]
    streams = res.get("streams", [])
    batches = [b for s in streams for b in s["batches"]]
    setup = res["setup"]
    m = {
        "session.start_s": setup["session_start_s"],
        "session.warmup_s": setup["warmup_s"],
        "sources.schema_jobs": len(schema),
        "sources.schema_s": job_s(schema),
        "sources.scan_mb": mb(measured, "input_b"),
        "sources.write_mb": mb(measured, "output_b"),
        "queries.construct_s": cons_s,
        # construction time not covered by its Spark jobs: graft's own
        # driver-side work plus analysis
        "queries.construct_self_s": cons_s - job_s(cons),
        "queries.construct_jobs": len(cons),
        "queries.checkpoint_jobs": sum(1 for j in cons if j["checkpoint"]),
        "queries.collect_jobs": sum(1 for j in cons
                                    if not j["checkpoint"] and not j["schema"]),
        "plans.plan_s": dur("plan"),
        "plans.analysis_s": sum(q.get("phase_analysis_ms", 0)
                                for q in queries) / 1e3,
        "plans.optimization_s": sum(q.get("phase_optimization_ms", 0)
                                    for q in queries) / 1e3,
        "plans.physical_s": sum(q.get("phase_planning_ms", 0)
                                for q in queries) / 1e3,
        "plans.graft_rules_s": sum(q.get("graft_rules_ns", 0)
                                   for q in queries) / 1e9,
        "plans.exchanges": sum(q.get("exchanges", 0) for q in queries),
        "exec.exec_s": exec_s,
        "exec.jobs": len(exe),
        "exec.tasks": sum(j["tasks"] for j in exe),
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": sum(j["cpu_ns"] for j in exe) / 1e9,
        "exec.busy_frac": task_run / (exec_s * cores) if exec_s else 0.0,
        "exec.shuffle_read_mb": mb(exe, "shuffle_read_b"),
        "exec.shuffle_write_mb": mb(exe, "shuffle_write_b"),
        "exec.spill_mb": mb(exe, "spill_b"),
        "exec.peak_exec_mem_mb": max([j["peak_mem_b"] for j in exe] or [0])
        / 2 ** 20,
        "exec.gc_s": sum(q.get("gc_ms", 0) for q in queries) / 1e3,
        "functions.graph_jobs": len(graph),
        "functions.graph_s": job_s(graph),
        "streaming.batches": len(batches),
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
        "streaming.query_planning_s": sum(b["query_planning_ms"]
                                          for b in batches) / 1e3,
        "streaming.commit_s": sum(b["commit_ms"] for b in batches) / 1e3,
        "streaming.state_rows": sum(s["state_rows"] for s in streams),
        "streaming.state_mem_mb": sum(s["state_mem_b"] for s in streams)
        / 2 ** 20,
        "jvm.peak_rss_mb": res["peak_rss_kb"] / 1024,
        "host.steal_core_s": res["steal_jiffies"] / 100,
        "trace.wall_s": statistics.median(res["pass_s"]),
    }
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["adhoc", "corpus_batch", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--fail", default=None,
                    help="self-test: make this query throw")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    t = time.time()
    phases = {}

    def lap(name):
        nonlocal t
        phases[name] = round(time.time() - t, 2)
        t = time.time()

    digest = build()
    cores = len(os.sched_getaffinity(0))
    lap("build")
    d = inputs(a.workload, a.seed)
    out = os.path.join(CACHE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    prune("runs", 6)
    passes = max(1, round(a.seconds / PASS_S))
    args = ["--mode", "run", "--workload", a.workload, "--cores", str(cores),
            "--inputs", os.path.join(d, "tables"), "--passes", str(passes),
            "--trace", str(a.trace), "--out", out]
    if a.workload == "stream_ingest":
        twin = stream_twin(d)
        args += ["--feed", os.path.join(d, "feed")]
    else:
        names = adhoc_queries() if a.workload == "adhoc" else CORPUS
        od = oracles(d, names, oracle_sql(digest, out))
        args += ["--queries", ",".join(names), "--oracles", od]
    if a.fail:
        args += ["--fail", a.fail]
    lap("inputs")

    launched = time.time()
    java(args, out, 150)  # the whole command must end within 180 s
    res = json.load(open(os.path.join(out, "result.json")))
    setup_s = res["setup"]["ready_epoch_ms"] / 1e3 - launched
    lap("jvm")
    if a.workload == "stream_ingest":
        attempted, failures, lat = check_streams(res, twin)
    else:
        attempted, failures, lat = check_queries(res)
    for f in sorted(set(failures)):
        log("[perfbench] FAILED", f)
    lap("check")

    env = {"nproc": cores, "source_digest": digest, "passes": passes,
           "phases_s": phases, "jvm": res["env"],
           "inputs": input_sizes(d), "samples": len(lat),
           "steal_core_s": res["steal_jiffies"] / 100}
    print("# env " + json.dumps(env, sort_keys=True))
    if a.trace:
        spans = [json.loads(l) for l in open(os.path.join(out, "spans.jsonl"))]
        m = layer_metrics(res, spans, cores)
        want = spec["per_layer"]
    else:
        m = {"setup_s": setup_s,
             "wall_s": statistics.median(res["pass_s"]),
             "op_p50_s": quantile(lat, 0.50),
             "op_p75_s": quantile(lat, 0.75),
             "ok_frac": (attempted - len(failures)) / attempted}
        want = spec["end_to_end"]
    metrics = {w["name"]: {"value": m[w["name"]], "unit": w["unit"]}
               for w in want}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
