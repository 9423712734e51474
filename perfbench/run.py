#!/usr/bin/env python3
"""The repo's benchmark: one run of one workload.

    python3 perfbench/run.py --workload corpus_mix --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the harness (perfbench/build.sbt) with sbt; later runs reuse the build
while the sources are unchanged. The run starts one JVM with
`local[<nproc>]`, measures for --seconds, checks every output, and prints
as its last stdout line one JSON object: `correct`, `attempted`, `failed`
and `metrics`, the end-to-end metrics with --trace 0 and the per-layer
metrics with --trace 1. Settings, load average, sample counts and check
details go to stderr and to perfbench/work/<workload>-t<trace>/summary.json;
a traced run also leaves its spans in trace.json there. README.md defines
every workload and metric.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEADLINE_S = 170  # a run must end within 180 s
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
STREAM_PHASES = [("latestOffset", "trigger.latest_offset_ms"),
                 ("getBatch", "trigger.get_batch_ms"),
                 ("queryPlanning", "trigger.query_planning_ms"),
                 ("addBatch", "trigger.add_batch_ms"),
                 ("walCommit", "trigger.wal_commit_ms"),
                 ("commitOffsets", "trigger.commit_offsets_ms")]
def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# --------------------------------------------------------------------- build

def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found: run from a source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the engine")
    cp_file = os.path.join(HERE, "target", "cp.txt")
    stamp_file = os.path.join(HERE, "target", "sources.sha256")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read()
    # the sbt launcher starts more than one JVM; keep their perf data out of
    # the system temp directory
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(HERE, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(HERE, "work", "build.log")
    log("building (sbt compile)")
    t0 = time.time()
    with open(log_path, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "exportCp"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"build failed, see {log_path}")
    log(f"built in {time.time() - t0:.0f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


# ------------------------------------------------------------------- machine

def machine():
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    # a quarter of the machine's memory, 1 to 4 GiB: the container shares
    # the host, and sf0.01 needs far less
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return {"nproc": cores, "mem_total_mb": mem_kb // 1024, "heap_mb": heap_mb}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---------------------------------------------------------------------- runs

def kill_group(p):
    if p and p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def run_jvm(args, cp, m, work, started):
    jvm = ["java", f"-Xmx{m['heap_mb']}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += ["-cp", cp, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), DATA, work, str(m["nproc"]),
            str(benchlib.min_samples(benchlib.TAIL_Q))]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{work}/scratch",
               SPARK_LOCAL_DIRS=f"{work}/local")
    os.makedirs(f"{work}/tmp")
    publisher = None
    if args.workload == "sign_stream":
        publisher = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), work, str(args.seed),
             str(args.seconds)], start_new_session=True)
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(jvm, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            kill_group(p)
            kill_group(publisher)
            die(f"run exceeded {DEADLINE_S}s, see {work}/jvm.log")
    if publisher:
        try:
            publisher.wait(timeout=10)
        except subprocess.TimeoutExpired:
            kill_group(publisher)
    if p.returncode != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"engine run failed (exit {p.returncode}), see {work}/jvm.log")
    with open(f"{work}/result.json") as f:
        return json.load(f)


# ------------------------------------------------------------------- mixes

def oracle_digests(sqls):
    """DuckDB oracle digest of each query (SparkEntry.oracleSql) over the
    fixture parquet files, as tools/compare.py runs it. The oracle depends
    only on the SQL and the fixtures, so digests are kept in
    perfbench/work/oracle.json keyed by both, and DuckDB runs once per
    checkout: two of the oracles take 5 s each."""
    import duckdb
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{DATA}/{t}.parquet", "rb") as f:
            h.update(f.read())
    data_key = h.hexdigest()
    cache_path = os.path.join(HERE, "work", "oracle.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    key = {n: hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest() for n, sql in sqls.items()}
    todo = [n for n in sqls if key[n] not in cache]
    if todo:
        con = duckdb.connect(config={"threads": os.cpu_count() or 1})
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        for n in todo:
            cache[key[n]] = benchlib.frame_digest(con.sql(sqls[n]).df())
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return {n: cache[key[n]] for n in sqls}


def oracle_check(res, work):
    """Digest of each query's warm-pass output against its DuckDB oracle.
    Returns name -> None when they match, else the reason."""
    import pyarrow.parquet as pq
    duck = oracle_digests({n: sql for n, sql in res["oracle_sql"].items() if sql is not None})
    out = {}
    for name, sql in sorted(res["oracle_sql"].items()):
        if name in res["warm_errors"]:
            out[name] = "spark error: " + res["warm_errors"][name]
        elif sql is None:
            out[name] = "no oracle"
        else:
            files = glob.glob(f"{work}/out/{name}/*.parquet")
            spark = benchlib.frame_digest(pq.ParquetDataset(files).read().to_pandas())
            out[name] = None if spark == duck[name] else f"digest spark={spark} duckdb={duck[name]}"
    return out


def mix_metrics(res, work, trace):
    execs = res["executions"]
    checks = oracle_check(res, work)
    wrong = {n for n, why in checks.items() if why}
    for n in sorted(wrong):
        log(f"CHECK FAILED {n}: {checks[n]}")
    failed = sum(1 for e in execs if not e["ok"] or e["q"] in wrong)

    def side(traced):
        # executions per second of the median pass: one slow pass (a
        # neighbour's load spike, a full GC) does not move it
        es = [e["ms"] for e in execs if e["traced"] == traced]
        ps = [p for p in res["passes"] if p["traced"] == traced]
        return es, ps[0]["n"] / (benchlib.percentile([p["ms"] for p in ps], 0.5) / 1000.0)

    lat, ops = side(False)
    s = benchlib.latency_summary(lat)
    metrics = {"setup_s": res["setup_s"], "latency_p50_ms": s["p50"],
               "latency_p75_ms": s["tail"], "ops_per_s": ops}
    info = {"samples": s["n"], "beyond_p75": s["beyond_tail"], "passes": len(res["passes"]),
            "measured_s": res["measured_s"], "oracle": checks}
    if trace:
        tlat, tops = side(True)
        layers = dict(res["layers"])
        layers["overhead.latency_p50_ms"] = benchlib.quantile(tlat, 0.5) - s["p50"]
        layers["overhead.ops_per_s"] = tops - ops
        metrics = layers
    return metrics, len(execs), failed, not wrong, info


# ------------------------------------------------------------- sign stream

def sign_metrics(res, work, trace):
    with open(f"{work}/gen.json") as f:
        genlog = json.load(f)
    progress = [dict(p["p"], query=p["query"], traced=p["traced"]) for p in res["progress"]]
    live = [p for p in progress if p["query"] == "live"]
    file_batch = benchlib.source_log(f"{work}/ckpt_live")
    commits = benchlib.commit_times(live)
    lat, missing = benchlib.file_latencies(genlog["due_ms"], file_batch, commits)
    # files per trigger among the triggers that started while publishing
    gen_end = max(genlog["due_ms"].values())
    per_batch = collections.Counter(file_batch.values())
    starts = {p["batchId"]: benchlib.parse_ts_ms(p["timestamp"]) for p in live}
    pending = [per_batch[b] for b in sorted(per_batch) if starts.get(b, gen_end + 1) <= gen_end]
    growing = benchlib.backlog_growing(pending)
    drain = res["drains"][0]
    c = res["checks"]
    n_open = genlog["records"]
    per_file = n_open / len(genlog["due_ms"])
    attempted = n_open + drain["records"]
    failed = round(len(missing) * per_file)
    if growing or not res["caught_up"]:
        failed = n_open
    if not drain["done"]:
        failed += drain["records"]
    bad_rows = c["missing"] + c["unexpected"] + c["wrong_signature"]
    failed = min(attempted, failed + bad_rows)
    correct = (bad_rows == 0 and c["sink_rows"] == c["distinct_payloads"]
               and c["distinct_pks"] == c["sink_rows"] and drain["done"])
    if not correct:
        log(f"CHECK FAILED sink: {c}")
    s = benchlib.latency_summary(lat)
    ops = drain["records"] / drain["secs"]
    metrics = {"setup_s": res["setup_s"], "latency_p50_ms": s["p50"],
               "latency_p75_ms": s["tail"], "ops_per_s": ops}
    info = {"samples": s["n"], "beyond_p75": s["beyond_tail"], "checks": c,
            "backlog_growing": growing, "caught_up": res["caught_up"],
            "files_per_trigger": pending, "missing_files": len(missing),
            "gen_late_ms_max": max(genlog["late_ms"]), "drain": res["drains"]}
    if trace:
        toggle = res["toggle_ms"]
        traced = [p for p in progress if p["traced"] and p["numInputRows"] > 0]
        n = max(1, len(traced))
        layers = dict(res["layers"])
        for phase, key in STREAM_PHASES:
            layers[key] = sum(p["durationMs"].get(phase, 0) for p in traced) / n
        layers["trigger.count"] = len(traced)
        layers["trigger.rows"] = sum(p["numInputRows"] for p in traced) / n
        last = [p for p in traced if p["query"] == "live"][-1:] or traced[-1:]
        ops_state = last[0]["stateOperators"] if last else []
        layers["state.rows"] = sum(o["numRowsTotal"] for o in ops_state)
        layers["state.memory_bytes"] = sum(o["memoryUsedBytes"] for o in ops_state)
        files = layers.get("sink.files_written", 0.0)
        layers["sink.rows_per_file"] = layers.get("sink.rows_written", 0.0) / files if files else 0.0
        layers["source.backlog_files"] = sum(pending) / max(1, len(pending))
        layers["gen.late_ms"] = max(genlog["late_ms"])
        early, _ = benchlib.file_latencies(
            {n: d for n, d in genlog["due_ms"].items() if d < toggle}, file_batch, commits)
        late, _ = benchlib.file_latencies(
            {n: d for n, d in genlog["due_ms"].items() if d >= toggle}, file_batch, commits)
        layers["overhead.latency_p50_ms"] = (benchlib.quantile(late, 0.5)
                                             - benchlib.quantile(early, 0.5))
        d1 = res["drains"][1]
        layers["overhead.ops_per_s"] = d1["records"] / d1["secs"] - ops
        metrics = layers
    return metrics, attempted, failed, correct, info


# ---------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("corpus_mix", "sign_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    started = time.time()
    m = machine()
    load_start = loadavg()
    work = os.path.join(HERE, "work", f"{args.workload}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "sign_stream":
        gen.stage(work, args.seed, args.seconds, drains=2 if args.trace else 1)
    res = run_jvm(args, cp, m, work, started)
    if args.workload == "sign_stream":
        metrics, attempted, failed, correct, info = sign_metrics(res, work, args.trace)
    else:
        metrics, attempted, failed, correct, info = mix_metrics(res, work, args.trace)
    # Metrics not exercised by a workload (the trigger figures of the
    # query mix, say) read 0.
    out_metrics = {x["name"]: {"value": float(metrics.get(x["name"], 0.0)), "unit": x["unit"]}
                   for x in spec["per_layer" if args.trace else "end_to_end"]}
    settings = dict(m, cores=res["cores"], heap_bytes=res["heap_bytes"],
                    shuffle_partitions=res["shuffle_partitions"], aqe=res["aqe"],
                    loadavg_start=load_start, loadavg_end=loadavg())
    summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "settings": settings, "attempted": attempted,
               "failed": failed, "failed_share": failed / attempted, "correct": correct,
               "metrics": out_metrics, "info": info, "wall_s": time.time() - started}
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    log(f"settings {json.dumps(settings)}")
    if not args.trace and info["beyond_p75"] < benchlib.MIN_BEYOND:
        log(f"WARNING: p75 rests on {info['beyond_p75']} samples, fewer than {benchlib.MIN_BEYOND}")
    log(f"failed_share {failed}/{attempted}; " + ", ".join(
        f"{k}={v}" for k, v in info.items() if k not in ("oracle", "checks", "drain")))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
