#!/usr/bin/env python3
"""Full-result query benchmark of the graft engine.

Usage (from the repository root; session settings as in BENCHMARK.json):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 \\
        --trace 0 --cores nproc --heap roadmap --conf k=v ...

Builds the engine and the harness from source with the Scala compiler that
ships in the Spark jars, runs one workload on the sf0.1 fixture in a fresh
JVM, checks every timed output against the DuckDB oracle and prints one
JSON object as the last line of standard output. Everything it writes goes
under `$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import bench_lib as lib  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench").resolve()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# pipeline families: their results are written through Sources.writeParquet
PIPELINE_MODULES = {"Text", "TextPipeline", "Vectors", "Ann", "Retrieval", "MLDeterministic"}
FIXTURE = HERE / "fixture/sf0.1"
JVM_TIMEOUT_S = 150
# a window still running after LIMIT x --seconds issues no more queries and
# fails the run; otherwise every run times the workload's whole panel
LIMIT = 3
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# client threads; "cores" = one per core. Both workloads time the panel in
# panel.tsv.
WORKLOADS = {"interactive": 1, "concurrent": "cores"}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sh(cmd, **kw):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, **kw)
    if r.returncode != 0:
        raise BenchError(f"{cmd[0]} failed ({r.returncode}):\n{r.stdout[-3000:]}")
    return r.stdout


def files_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def stamped(target, stamp, make):
    """Run `make()` unless `target` was made from the same `stamp`."""
    mark = Path(str(target) + ".stamp")
    if mark.exists() and mark.read_text() == stamp and target.exists():
        return
    shutil.rmtree(target, ignore_errors=True)
    make()
    mark.write_text(stamp)


# ---- preparation (cached across runs of one checkout) ---------------------

def spark_jars():
    """The Spark jars directory the sbt build compiles against."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BenchError("no unmanagedBase in build.sbt")
    return m.group(1)


def build():
    srcs = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    if not srcs:
        raise BenchError("no engine sources under src/main/scala")
    srcs += sorted((HERE / "scala").glob("*.scala"))
    classes = WORK / "classes"

    def compile_all():
        t0 = time.time()
        classes.mkdir(parents=True)
        sh(["java", "-Xmx3g", "-Xss8m", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
            "-usejavacp", "-classpath", str(classes), "-nowarn", "-Ybackend-parallelism", "4",
            "-d", str(classes)] + [str(s) for s in srcs])
        log(f"compiled {len(srcs)} sources in {time.time() - t0:.1f} s")
    stamped(classes, files_hash(srcs), compile_all)
    return classes


def load_fixture():
    """The sf0.1 fixture and a hash of its files, which keys the oracle cache."""
    files = sorted(FIXTURE.glob("*.parquet"))
    if [f.stem for f in files] != sorted(TABLES):
        raise BenchError(f"{FIXTURE} must hold one parquet file per table: {TABLES}")
    return FIXTURE, files_hash(files)


def oracle_sql(classes):
    path = WORK / "oracle_sql.json"
    stamp = Path(str(classes) + ".stamp").read_text()
    mark = Path(str(path) + ".stamp")
    if not (mark.exists() and mark.read_text() == stamp):
        sh(["java", "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Harness", "oracle", str(path)])
        mark.write_text(stamp)
    return json.loads(path.read_text())


def expected(fixture, fixture_hash, sql, names):
    """Oracle digests of `names` on `fixture`, computed once per fixture and
    oracle statement and cached on disk."""
    import duckdb
    cache_path = WORK / f"expected-{fixture.name}.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    key = {n: hashlib.sha256((fixture_hash + sql[n]).encode()).hexdigest()
           for n in names if n in sql}
    todo = [n for n in key if cache.get(n, {}).get("key") != key[n]]
    if todo:
        t0 = time.time()
        con = duckdb.connect(config={"threads": 4, "memory_limit": "3GB",
                                     "temp_directory": str(WORK / "duckdb-tmp")})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
        for n in todo:
            rows, dig = lib.frame_digest(con.execute(sql[n]).fetchdf())
            cache[n] = {"key": key[n], "rows": rows, "digest": dig}
        con.close()
        cache_path.write_text(json.dumps(cache))
        log(f"oracle digests for {len(todo)} queries on {fixture.name} in {time.time() - t0:.1f} s")
    return {n: cache[n] for n in key}


def prepare():
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "prepare.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = build()
        sql = oracle_sql(classes)
    return classes, sql


# ---- one run --------------------------------------------------------------

def session_settings(args):
    cores = len(os.sched_getaffinity(0)) if args.cores == "nproc" else int(args.cores)
    if args.heap == "roadmap":  # half the RAM in GiB, clamped to 2..8
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        heap = f"{min(8, max(2, kb // 2097152))}g"
    else:
        heap = args.heap
    confs = {}
    for kv in args.conf:
        k, v = kv.split("=", 1)
        confs[k] = str(cores) if v == "nproc" else v
    return cores, heap, confs


def launch(classes, plan_path, heap, confs, run_dir):
    props = {**confs,
             "spark.local.dir": str(run_dir / "spark-local"),
             "spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir / 'tmp'}"] + ADD_OPENS +
           [f"-D{k}={v}" for k, v in sorted(props.items())] +
           ["-cp", f"{classes}:{spark_jars()}/*", "perfbench.Harness", "run", str(plan_path)])
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(run_dir / "jvm.log", "w") as out:
        t_launch = time.time()
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise BenchError(f"harness JVM exited with {code}:\n{tail}")
    return t_launch, json.loads((run_dir / "result.json").read_text())


def check_outputs(result, exp, run_dir):
    """Failure reason per qid (None when the output matches the oracle)."""
    import pyarrow.parquet as pq
    verdict = {}
    for q in result["queries"]:
        qid, name = q["qid"], q["name"]
        if q["error"]:
            verdict[qid] = q["error"]
            continue
        if name not in exp:
            verdict[qid] = "no oracle statement"
            continue
        parts = sorted(glob.glob(str(run_dir / "res" / qid / "*.parquet")))
        want = exp[name]
        if not parts:
            verdict[qid] = None if want["rows"] == 0 else "no output written"
            continue
        rows, dig = lib.frame_digest(pq.read_table(parts).to_pandas())
        if dig != want["digest"]:
            verdict[qid] = f"output differs from oracle: {rows} rows vs {want['rows']} expected"
        else:
            verdict[qid] = None
    return verdict


def window_stats(queries, verdict, clients):
    """Latency figures of the queries that succeeded, and throughput: queries
    completed per second of the window's wall time, taken as the time each
    client was busy (the closed loop's idle drain at the end, when fewer
    queries than clients are left, is not part of it)."""
    every = [q["end_s"] - q["start_s"] for q in queries]
    lat = [d for q, d in zip(queries, every) if verdict[q["qid"]] is None] or every
    tail_v, tail_pct, n = lib.tail(lat)
    return {"p50": statistics.median(lat), "tail": tail_v, "tail_pct": tail_pct,
            "n": n, "qps": len(queries) * clients / sum(every)}


def layer_metrics(layers, spans, queries):
    """Per-layer figures of the traced window, per query where they sum."""
    per_q = max(1, len(queries))
    collected = [q["rows"] for q in queries if q["rows"] >= 0]

    def mean_span(name):
        ds = [s["end_ns"] - s["start_ns"] for s in spans if s["name"] == name]
        return sum(ds) / 1e9 / per_q

    mb = 1024.0 * 1024.0
    m = {
        "ops.construct_s": mean_span("ops.construct"),
        "ops.construct_jobs": layers["construct_jobs"] / per_q,
        "ops.construct_job_share": layers["construct_jobs"] / max(1.0, layers["jobs"]),
        "catalyst.plan_s": layers["plan_s"] / per_q,
        "catalyst.analysis_s": layers["analysis_s"] / per_q,
        "catalyst.optimization_s": layers["optimization_s"] / per_q,
        "catalyst.planning_s": layers["planning_s"] / per_q,
        "catalyst.exchanges": layers["exchanges"] / per_q,
        "scheduler.jobs": layers["jobs"] / per_q,
        "scheduler.stages": layers["stages"] / per_q,
        "scheduler.tasks": layers["tasks"] / per_q,
        "scheduler.tasks_per_stage": layers["tasks"] / max(1.0, layers["stages"]),
        "scheduler.task_wait_s": layers["task_wait_s"] / per_q,
        "scheduler.core_busy_ratio":
            layers["task_busy_s"] / (layers["cores"] * layers["window_wall_s"]),
        "scheduler.failed_tasks": layers["failed_tasks"],
        "core.scan_rows": layers["scan_rows"] / per_q,
        "core.scan_mb": layers["scan_bytes"] / mb / per_q,
        "shuffle.write_mb": layers["shuffle_write_bytes"] / mb / per_q,
        "shuffle.read_mb": layers["shuffle_read_bytes"] / mb / per_q,
        "shuffle.fetch_wait_s": layers["fetch_wait_s"] / per_q,
        "shuffle.spill_mb": layers["spill_bytes"] / mb / per_q,
        "codegen.compiles": layers["codegen_compiles"] / per_q,
        "codegen.compile_s": layers["codegen_compile_s"] / per_q,
        "exec.task_busy_s": layers["task_busy_s"] / per_q,
        "exec.task_cpu_s": layers["task_cpu_s"] / per_q,
        "exec.gc_s": layers["task_gc_s"] / per_q,
        "sources.write_s": mean_span("sources.write"),
        "sources.rows_written": layers["rows_written"] / per_q,
        "sources.mb_written": layers["bytes_written"] / mb / per_q,
        "driver.collect_s": mean_span("driver.collect"),
        "driver.result_rows": sum(collected) / max(1, len(collected)),
        "jvm.heap_used_peak_mb": layers["jvm_heap_used_peak_bytes"] / mb,
        "jvm.gc_s": layers["jvm_gc_s"] / per_q,
    }
    return m


def metric_table(names_units, values):
    return {k: {"value": values[k], "unit": u} for k, u in names_units}


def bench_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def run(args):
    t_start = time.time()
    fixture, fixture_hash = load_fixture()
    classes, sql = prepare()
    log(f"prepared in {time.time() - t_start:.1f} s")
    cores, heap, confs = session_settings(args)
    clients = cores if WORKLOADS[args.workload] == "cores" else WORKLOADS[args.workload]
    panel, _ = lib.load_panel(HERE / "panel.tsv")
    warm, order = lib.sample_run(panel, args.seed)
    missing = sorted(set(warm + order) - set(sql))
    if missing:
        raise BenchError(f"panel queries without an oracle statement: {missing}")
    writers = sorted(n for g in panel.values() for b in g for n, m in b if m in PIPELINE_MODULES)
    # a traced run times an untraced and a traced window back to back on
    # alternate blocks of the panel, so tracing overhead is measured in one
    # JVM; the JVM is still warming, so odd seeds trace the first window
    if args.trace:
        sizes = [len(b) for b in panel["timed"]]
        blocks = [order[sum(sizes[:k]):sum(sizes[:k + 1])] for k in range(len(sizes))]
        modes = ("traced", "untraced") if args.seed % 2 else ("untraced", "traced")
        windows = [(mode, [n for b in blocks[k::2] for n in b]) for k, mode in enumerate(modes)]
    else:
        windows = [("untraced", order)]
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    plan = [f"fixture={fixture}", f"cores={cores}", f"clients={clients}",
            f"writers={','.join(writers)}", f"limit={LIMIT * args.seconds}", f"out={run_dir}",
            f"warmup={','.join(warm)}"]
    plan += [f"window={m}:{','.join(q)}" for m, q in windows]
    (run_dir / "plan.txt").write_text("\n".join(plan) + "\n")
    try:
        t_launch, result = launch(classes, run_dir / "plan.txt", heap, confs, run_dir)
        t_jvm = time.time() - t_launch
        if result["warmup_errors"]:
            log(f"warm-up failures: {result['warmup_errors']}")
        exp = expected(fixture, fixture_hash, sql, sorted({q["name"] for q in result["queries"]}))
        verdict = check_outputs(result, exp, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for i, (_, names) in enumerate(windows):
        issued = sum(q["window"] == i for q in result["queries"])
        if issued < len(names):
            raise BenchError(f"window {i} passed its limit of {LIMIT * args.seconds:.0f} s "
                             f"after issuing {issued} of its {len(names)} queries")
    failures = {q["name"]: verdict[q["qid"]] for q in result["queries"] if verdict[q["qid"]]}
    for name, why in sorted(failures.items()):
        log(f"FAILED {name}: {why}")
    log("latency (s) in issue order: " + ", ".join(
        f"{q['name']} {q['end_s'] - q['start_s']:.2f}" for q in result["queries"]))
    by_win = [[q for q in result["queries"] if q["window"] == i] for i in range(len(windows))]
    stats = [window_stats(qs, verdict, clients) for qs in by_win]
    attempted = len(result["queries"])
    n_failed = len(failures)
    e2e_units, layer_units = bench_units()
    setup_s = result["ready_ms"] / 1000.0 - t_launch
    modes = [m for m, _ in windows]
    s0 = stats[modes.index("untraced")]
    log(f"{args.workload}: {s0['n']} timed queries, {clients} client(s), fixture {fixture.name}; "
        f"tail = p{s0['tail_pct']:.1f}; failed_ratio = {n_failed / attempted:.4f}; "
        f"set-up {setup_s:.2f} s (JVM and session {result['session_ms'] / 1000.0 - t_launch:.2f} s, "
        f"{len(warm)} warm-up queries); "
        f"JVM {t_jvm:.1f} s, run {time.time() - t_start:.1f} s")
    if args.trace:
        t = modes.index("traced")
        s1 = stats[t]
        values = layer_metrics(result["windows"][t]["layers"], result["spans"], by_win[t])
        values.update({
            "jvm.peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
            "check.failed_ratio": n_failed / attempted,
            "trace.overhead_p50": s1["p50"] / s0["p50"] - 1.0,
            "trace.overhead_qps": s0["qps"] / s1["qps"] - 1.0,
        })
        self_ns = {}
        for s, ns in lib.self_times(result["spans"]):
            self_ns[s["name"]] = self_ns.get(s["name"], 0) + ns
        log("span self time (s): " + ", ".join(
            f"{k} {v / 1e9:.2f}" for k, v in sorted(self_ns.items())))
        metrics = metric_table(layer_units, values)
    else:
        values = {"setup_s": setup_s, "query_p50_s": s0["p50"], "query_tail_s": s0["tail"],
                  "queries_per_s": s0["qps"]}
        metrics = metric_table(e2e_units, values)
    return {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
            "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", required=True, help="local[N] cores and client count; 'nproc'")
    p.add_argument("--heap", required=True, help="driver heap, or 'roadmap'")
    p.add_argument("--conf", action="append", default=[], help="spark conf k=v ('nproc' ok)")
    args = p.parse_args()
    try:
        out = run(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
