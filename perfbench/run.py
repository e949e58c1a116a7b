#!/usr/bin/env python3
"""graft's benchmark: cold `graft.Main` extracts on seeded XBRL seasons and
a warm analytics-query suite, each in fresh JVMs, plus a traced run that
splits the wall time by layer. See perfbench/README.md.

  python3 perfbench/run.py --workload xbrl_small|xbrl_large|query_suite|all \
      --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
with sbt into the checkout; later runs reuse the build while the sources
are unchanged. Every metric is printed as `metric <name> = <value> <unit>
(n=<samples>)`; the last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import xbrl_gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(BENCH, "harness")
DATA = os.path.join(BENCH, "data", "sf0.01")
DRIVER_MEM = "4g"
# a run (after the build) ends within this many seconds or fails
RUN_LIMIT_S = 170

XBRL_SIZES = {"xbrl_small": "small", "xbrl_large": "large"}
# one query per operator module: the costliest relational query of the
# sf0.1 bench, the line-dedup operator, an ANN index, BM25 ranking, and
# the frame sampler whose generated code once fell back to interpretation
QUERIES = ["q57_corr_matrix", "d14_line_dedup", "s03_ann_ivf", "t23_bm25", "m02_frame_sample"]
FAMILIES = {"q": "Relational", "d": "Dedup", "s": "Similarity", "t": "Text", "m": "Multimodal"}

# build.sbt's javaOptions, so each JVM runs as `sbt run` would fork it
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s")]


# Per-layer metrics of BENCHMARK.json: the ones an optimisation is most
# likely to move, few enough that the result line stays under 2000
# characters. The traced run prints every other layer metric as well.
PER_LAYER = [
    ("session.create_s", "s"), ("sources.taxonomy_parse_s", "s"),
    ("sources.filing_parse_s", "s"), ("plans.schema_derive_s", "s"),
    ("plans.store_build_s", "s"), ("sinks.write_s", "s"), ("sinks.write_jobs", "count"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.codegen_classes", "count"), ("catalyst.codegen_fallbacks", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.stage_wait_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_disk_bytes", "bytes"), ("jvm.jit_compile_s", "s"), ("jvm.gc_s", "s"),
    ("jvm.code_cache_used_mb", "MB"),
] + [(f"operators.{f}_s", "s") for f in FAMILIES.values()] + [("trace.overhead_frac", "ratio")]

PRINTED_ONLY = [
    ("sources.filings", "count"), ("sources.facts", "count"), ("sources.contexts", "count"),
    ("sources.skipped_filings", "count"), ("plans.store_rows", "count"), ("plans.tables", "count"),
    ("plans.persisted_mem_bytes", "bytes"), ("plans.persisted_disk_bytes", "bytes"),
    ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes"),
    ("sinks.rows_written", "count"), ("sinks.out_bytes_per_in_byte", "ratio"),
    ("catalyst.analysis_s", "s"), ("spark.stages", "count"), ("spark.task_run_s", "s"),
    ("spark.task_deser_s", "s"), ("spark.task_gc_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.peak_exec_mem_bytes", "bytes"), ("jvm.heap_used_peak_mb", "MB"),
] + [(f"query.{q}_s", "s") for q in QUERIES] + [
    ("trace.wall_s", "s"), ("trace.untraced_wall_s", "s"), ("trace.sources_plans_share", "ratio"),
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    paths += [os.path.join(HARNESS, "project", "build.properties")]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """sbt-compile graft plus the harness once per source state; returns
    the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read() == stamp, g.read()
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    # sbt resolves offline, from the toolchain's own caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("perfbench: building graft and the harness with sbt ...")
    log_file = os.path.join(BUILD, "build.log")
    with open(log_file, "w") as out:
        p = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                   "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}/tmp",
                   "compile", "export Runtime/fullClasspath"],
                  cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT)
        code = finish(p, 850)
    with open(log_file) as f:
        lines = [ln for ln in f.read().splitlines() if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log_file}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---- JVM launches -------------------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0))


def jvm_env(data_dir):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")}
    env.update(SPARK_GRAFT_CPUS=str(cpus()), SPARK_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    if data_dir:
        env["SPARK_GRAFT_SF_DIR"] = data_dir
    return env


DEADLINE = [float("inf")]
CHILDREN = set()


def stop_children(signum=None, frame=None):
    """Kill every process group this run started and wait for each."""
    for p in list(CHILDREN):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        CHILDREN.discard(p)
    if signum is not None:
        sys.exit(128 + signum)


def start(cmd, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.add(p)
    return p


def finish(p, timeout):
    """Wait for a started process; on timeout kill it and return None."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            stop_children()
        CHILDREN.discard(p)


def run_jvm(cp, mode, tag, data_dir=None, **opts):
    """Launch one harness JVM; returns its result dict plus `setup_s`,
    the wall from launch until GraftSession.create returned."""
    for d in ("tmp", "work", "logs", "results", "spark-local"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    result = os.path.join(BUILD, "results", f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    args = ["--result", result, "--cpus", str(cpus())]
    if data_dir:
        args += ["--data-dir", data_dir]
    for k, v in opts.items():
        args += [f"--{k.replace('_', '-')}", str(v)]
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{DRIVER_MEM}", "-Xss64m", "-XX:ReservedCodeCacheSize=1g",
              # keep every file the JVM writes inside the checkout
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}/tmp",
              f"-Dspark.sql.warehouse.dir={BUILD}/work/spark-warehouse",
              f"-Dderby.system.home={BUILD}/work",
              "-cp", cp, "graftbench.Harness", mode] + args)
    with open(os.path.join(BUILD, "logs", f"{tag}.log"), "w") as out:
        launched = time.time_ns()
        p = start(cmd, cwd=os.path.join(BUILD, "work"), env=jvm_env(data_dir),
                  stdout=out, stderr=subprocess.STDOUT)
        code = finish(p, max(1.0, DEADLINE[0] - time.time()))
    if code is None:
        fail(f"{mode} JVM timed out; see {BUILD}/logs/{tag}.log")
    if code != 0 or not os.path.exists(result):
        fail(f"{mode} JVM exited {code}; see {BUILD}/logs/{tag}.log")
    with open(result) as f:
        r = json.load(f)
    r["setup_s"] = (r["created_at_ns"] - launched) / 1e9
    return r


# ---- inputs -------------------------------------------------------------------

def xbrl_inputs(workload, seed):
    """Seeded season, generated once per (seed, size) and cached: its
    manifest and the graft.Main input paths."""
    size = XBRL_SIZES[workload]
    d = os.path.join(BUILD, "inputs", f"xbrl-{size}-seed{seed}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        xbrl_gen.generate(tmp, seed, size)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "manifest.json")) as f:
        manifest = json.load(f)
    return manifest, dict(filings=os.path.join(d, xbrl_gen.FILINGS_ZIP),
                          taxonomy=os.path.join(d, xbrl_gen.TAXONOMY_ZIP))


def expected_query_results(oracle_sql):
    """Row count and content hash per oracled query, derived once per
    dataset and oracle text from DuckDB; pinned row counts for the rest."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(DATA)):
        with open(os.path.join(DATA, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    cache_file = os.path.join(BUILD, f"oracle-{h.hexdigest()[:16]}.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    todo = {q: sql for q, sql in oracle_sql.items()
            if cache.get(q, {}).get("sql") != hashlib.sha256(sql.encode()).hexdigest()}
    if todo:
        import duckdb
        con = duckdb.connect()
        for name in sorted(os.listdir(DATA)):
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(DATA, name)}')")
        for q, sql in sorted(todo.items()):
            n, digest = checks.content_hash(*checks.oracle_result(con, sql))
            cache[q] = {"sql": hashlib.sha256(sql.encode()).hexdigest(), "rows": n, "hash": digest}
        con.close()
        with open(cache_file, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
    with open(os.path.join(BENCH, "expected_rows.json")) as f:
        pinned = json.load(f)
    return {q: cache[q] if q in oracle_sql else {"rows": pinned.get(q)} for q in QUERIES}


# ---- workloads ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tally:
    def __init__(self):
        self.attempted, self.failures = 0, []

    def add(self, attempted, failures):
        self.attempted += attempted
        self.failures += failures


def check_extract(out_dir, manifest, tally):
    attempted, fails, summary = checks.check_xbrl(out_dir, manifest)
    tally.add(attempted, fails)
    return summary


def xbrl_timed(cp, workload, seed, seconds, tally):
    manifest, files = xbrl_inputs(workload, seed)
    start, jvms, summaries = time.time(), [], []
    while True:
        t = time.time()
        out = os.path.join(BUILD, "work", f"out-{workload}-{len(jvms)}")
        # a cold graft.Main, then a warm one in the same JVM
        r = run_jvm(cp, "extract", f"{workload}-extract{len(jvms)}", out=out, **files)
        for run in r["runs"]:
            summaries.append(check_extract(run["out"], manifest, tally))
            if run["error"]:
                log(f"perfbench: graft.Main failed: {run['error'][:500]}")
        shutil.rmtree(out, ignore_errors=True)
        jvms.append((r, time.time() - t))
        # closed loop: start another JVM only if it can finish in time
        if time.time() + median([d for _, d in jvms]) > start + seconds:
            break
    setups = [r["setup_s"] for r, _ in jvms]
    cold = [r["runs"][0]["s"] for r, _ in jvms]
    warm = [x["s"] for r, _ in jvms for x in r["runs"][1:]]
    e2e = {"setup_s": (median(setups), len(setups)), "cold_s": (median(cold), len(cold)),
           "warm_s": (median(warm), len(warm))}
    extra = {
        "peak_rss_mb": (median([r["peak_rss_mb"] for r, _ in jvms]), len(jvms), "MB"),
        "extract_s": (median(cold), len(cold), "s"),
        "facts_per_s": (manifest["facts"] / median(cold), len(cold), "facts/s"),
        "out_bytes_per_in_byte": (median([s["bytes"] for s in summaries]) / manifest["filings_zip_bytes"],
                                  len(summaries), "ratio"),
    }
    return e2e, extra


def queries_timed(cp, seconds, tally):
    verify = os.path.join(BUILD, "work", "verify")
    shutil.rmtree(verify, ignore_errors=True)
    r = run_jvm(cp, "queries", "query_suite", data_dir=DATA, queries=",".join(QUERIES),
                seconds=seconds, verify_out=verify)
    check_queries(r, verify, tally)
    cold = sum(r["cold"].values())
    suite = sum(median(v) for v in r["timed"].values())
    e2e = {"setup_s": (r["setup_s"], 1), "cold_s": (cold, 1), "warm_s": (suite, r["passes"])}
    extra = {"cold_suite_s": (cold, 1, "s"), "suite_s": (suite, r["passes"], "s"),
             "peak_rss_mb": (r["peak_rss_mb"], 1, "MB")}
    return e2e, extra


def check_queries(r, verify, tally):
    expected = expected_query_results(r["oracle_sql"])
    fails = [f"{q}: {e}" for q, e in r["errors"].items()]
    for q in QUERIES:
        if q in r["errors"]:
            continue
        n, digest = checks.content_hash(*checks.spark_result(os.path.join(verify, q)))
        exp = expected[q]
        if exp["rows"] is None:
            fails.append(f"{q}: {n} rows, no pinned row count")
        elif n != exp["rows"]:
            fails.append(f"{q}: rows {n} != {exp['rows']}")
        elif "hash" in exp and digest != exp["hash"]:
            fails.append(f"{q}: content hash differs from the oracle")
    tally.add(len(QUERIES), fails)
    shutil.rmtree(verify, ignore_errors=True)


def spark_totals(trace, spans):
    keys = ["jobs", "stages", "tasks", "stage_wait_s", "task_run_s", "task_cpu_s", "task_deser_s",
            "task_gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes"]
    picked = [v for k, v in trace["spark"].items() if spans(k)]
    # millisecond-resolution times keep three decimals; CPU time is in ns
    out = {f"spark.{k}": round(sum(v[k] for v in picked), 9 if k == "task_cpu_s" else 3)
           for k in keys}
    out["spark.peak_exec_mem_bytes"] = max([v["peak_exec_mem_bytes"] for v in picked], default=0)
    return out


def common_trace(trace):
    # phase, JIT and GC times are kept in milliseconds
    m = {f"catalyst.{k}": round(v, 3) for k, v in trace["catalyst"].items()}
    m.update({f"jvm.{k}": round(v, 3) if k.endswith("_s") else v for k, v in trace["jvm"].items()})
    return m


def xbrl_traced(cp, workload, seed, tally):
    manifest, files = xbrl_inputs(workload, seed)
    walls = []
    for listen in (0, 1):
        out = os.path.join(BUILD, "work", f"out-{workload}-pipeline{listen}")
        r = run_jvm(cp, "pipeline", f"{workload}-pipeline{listen}", out=out, listen=listen, **files)
        summary = check_extract(r["out"], manifest, tally)
        shutil.rmtree(out, ignore_errors=True)
        walls.append(sum(v for k, v in r.items() if k.endswith(".s")))
    layers = {k[:-2] + "_s": v for k, v in r.items() if k.endswith(".s") and k != "main.s"}
    counts = {k: v for k, v in r.items() if k.startswith(("sources.", "plans.")) and not k.endswith(".s")}
    trace = r["trace"]
    main = trace["spark"].get("main", {})
    m = {"session.create_s": r["create_s"], **layers, **counts,
         "sinks.write_s": main.get("result_stage_s", 0.0), "sinks.write_jobs": main.get("jobs", 0),
         "sinks.files_written": summary["files"], "sinks.bytes_written": summary["bytes"],
         "sinks.rows_written": summary["rows"],
         "sinks.out_bytes_per_in_byte": summary["bytes"] / manifest["filings_zip_bytes"]}
    m.update(spark_totals(trace, lambda span: True))
    m.update(common_trace(trace))
    sp = sum(layers.values())
    m.update({"trace.wall_s": walls[1], "trace.untraced_wall_s": walls[0],
              "trace.overhead_frac": walls[1] / walls[0] - 1,
              "trace.sources_plans_share": sp / (sp + m["sinks.write_s"])})
    return m


def suite_work_s(r):
    """The cold pass plus one timed pass (each query's median): the work
    of the suite, whatever number of passes the time budget allowed."""
    return sum(r["cold"].values()) + sum(median(v) for v in r["timed"].values())


def queries_traced(cp, seconds, tally):
    """The plain and the traced JVM, each timing half of `seconds`."""
    walls = []
    for listen in (0, 1):
        verify = os.path.join(BUILD, "work", "verify")
        shutil.rmtree(verify, ignore_errors=True)
        r = run_jvm(cp, "queries", f"query_suite-traced{listen}", data_dir=DATA,
                    queries=",".join(QUERIES), seconds=seconds / 2, verify_out=verify, listen=listen)
        check_queries(r, verify, tally)
        walls.append(suite_work_s(r))
    trace = r["trace"]
    m = {"session.create_s": r["create_s"]}
    m.update({f"query.{q}_s": median(v) for q, v in r["timed"].items()})
    for prefix, family in FAMILIES.items():
        m[f"operators.{family}_s"] = sum(median(v) for q, v in r["timed"].items() if q.startswith(prefix))
    m.update(spark_totals(trace, lambda span: span.startswith(("cold:", "timed:"))))
    m.update(common_trace(trace))
    m.update({"trace.wall_s": walls[1], "trace.untraced_wall_s": walls[0],
              "trace.overhead_frac": walls[1] / walls[0] - 1})
    return m


# ---- reporting ------------------------------------------------------------------

def emit(name, value, unit, n):
    print(f"metric {name} = {value:.6g} {unit} (n={n})")


def number(x):
    """Counts as integers; everything else as measured."""
    return int(x) if float(x).is_integer() and abs(x) < 2**53 else float(x)


def result_line(result):
    return json.dumps(result, separators=(",", ":"))


def summary(results):
    """The last line of `--workload all`: every run's outcome and each
    workload's end-to-end metrics. Each run's own line precedes it."""
    return {"correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for (w, trace), r in results.items() if not trace
                        for k, v in r["metrics"].items()}}


def run_workload(cp, workload, seed, seconds, trace):
    DEADLINE[0] = time.time() + RUN_LIMIT_S
    tally = Tally()
    if not trace:
        if workload == "query_suite":
            e2e, extra = queries_timed(cp, seconds, tally)
        else:
            e2e, extra = xbrl_timed(cp, workload, seed, seconds, tally)
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END}
        for k, u in END_TO_END:
            emit(f"{workload}.{k}", e2e[k][0], u, e2e[k][1])
        for k, (v, n, u) in extra.items():
            emit(f"{workload}.{k}", v, u, n)
    else:
        m = queries_traced(cp, seconds, tally) if workload == "query_suite" \
            else xbrl_traced(cp, workload, seed, tally)
        metrics = {k: {"value": number(m.get(k, 0)), "unit": u} for k, u in PER_LAYER}
        for k, u in PER_LAYER + PRINTED_ONLY:
            emit(f"{workload}.{k}", m.get(k, 0), u, 1)
    failed = len(tally.failures)
    for msg in tally.failures[:20]:
        log(f"perfbench: FAILED {workload}: {msg}")
    print(f"metric {workload}.failed_frac = {failed}/{tally.attempted} = "
          f"{failed / max(1, tally.attempted):.6g} ratio (failed/attempted)")
    return {"correct": failed == 0, "attempted": tally.attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["xbrl_small", "xbrl_large", "query_suite", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources here ({need} missing); run from the repository root")
    if not os.path.isdir(DATA):
        fail(f"query dataset {DATA} missing")
    cp = build()
    print(f"env cpus={cpus()} SPARK_GRAFT_CPUS={cpus()} SPARK_DRIVER_MEM={DRIVER_MEM} "
          f"SPARK_LOCAL_DIRS=.bench_build/spark-local SPARK_GRAFT_SF_DIR=(unset for xbrl; "
          f"perfbench/data/sf0.01 for query_suite) seed={a.seed} seconds={a.seconds:g}")
    if a.workload != "all":
        print(result_line(run_workload(cp, a.workload, a.seed, a.seconds, a.trace)), flush=True)
        return
    results = {}
    for w in ["xbrl_small", "xbrl_large", "query_suite"]:
        for t in (0, 1):
            results[(w, t)] = run_workload(cp, w, a.seed, a.seconds, t)
            print(result_line(results[(w, t)]), flush=True)
    print(result_line(summary(results)), flush=True)


if __name__ == "__main__":
    main()
