#!/usr/bin/env python3
"""Benchmark of the graft loader and query engine. Run from the repository root:

    python3 perfbench/run.py --workload load_clean --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):
  load_clean        sf0.1 orders through Loader.loadPostgres into PostgreSQL 15
  load_poison       the same feed with a seeded 1% of rows the server rejects
  query_relational  the 18 Bench.baselineSubset gates through the noop sink

Each operation runs closed-loop (one at a time) for --seconds. --trace 0 prints
the end-to-end metrics, --trace 1 the per-layer metrics from a traced run. The
last line of stdout is one JSON object: correct, attempted, failed, metrics.
The first run in a checkout compiles the program into .bench_build.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("load_clean", "load_poison", "query_relational")
SETUP_REPEATS = 3
JVM_HEAP = "3g"
RUN_LIMIT_S = 150

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "live_heap_peak_mb": "MiB",
}
GATES = sorted("""q1_pricing_summary q3_top_unshipped q5_region_revenue q6_revenue_change
q_case_buckets q_conform_cast q_derived_subquery q_distinct q_filter_predicates q_merge_upsert
q_orderby_limit q_outer_joins q_scalar_datetime q_scalar_string q_semi_anti_join q_set_ops
q_string_agg q_window_funcs""".split())
PER_LAYER = {
    "trace.op_s": "s", "jvm.cpu_s": "s",
    "sources.read_s": "s", "sources.rows": "count",
    "schema.conform_s": "s", "schema.cast_null_cells": "count",
    "catalog.calls": "count", "catalog.s": "s",
    "sink.upsert_s": "s", "sink.connects": "count", "sink.exec_calls": "count",
    "sink.exec_rows": "count", "sink.exec_failed": "count", "sink.exec_s": "s",
    "sink.savepoints": "count", "sink.rollbacks": "count", "sink.commits": "count",
    "sink.commit_s": "s", "sink.round_trips": "count", "sink.batch_s_p50": "s",
    "sink.batch_s_p99": "s", "sink.loaded": "count", "sink.rejected": "count",
    "sink.useful_ratio": "ratio", "sink.task_s": "s", "sink.spark_side_s": "s",
    "pg.xact_commit": "count", "pg.xact_rollback": "count", "pg.tup_inserted": "count",
    "pg.tup_updated": "count", "pg.wal_bytes_per_row": "bytes/row", "pg.table_bytes": "bytes",
    "pg.floor_rows_per_s": "rows/s",
    **{f"gate.{g}_s": "s" for g in GATES},
    "ckpt.rdds_alive_start": "count", "ckpt.rdds_alive_end": "count",
    "ckpt.bytes_alive_end": "bytes", "ckpt.foreign_unpersists": "count",
    "engine.jobs": "count", "engine.tasks": "count", "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s", "engine.gc_s": "s", "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes", "engine.spill_bytes": "bytes", "engine.result_bytes": "bytes",
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(root):
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/scala", "perfbench/build.sh"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    log("compiling the program and the benchmark")
    t0 = time.time()
    res = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, spark_jars()], cwd=root,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build failed with code {res.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def spark_jars():
    """The Spark distribution's jars, which the program builds and runs against."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        raise SystemExit("SPARK_HOME must name a Spark distribution with a jars/ directory")
    return jars


def generate(workload, seed, data_dir):
    """Write the workload's inputs; return (median seconds of SETUP_REPEATS
    generations, the checks the load must meet or None)."""
    import gen
    times, expect = [], None
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "query_relational":
            gen.write_star(seed, data_dir)
        else:
            expect = gen.write_feed(seed, workload == "load_poison", data_dir)
        times.append(time.perf_counter() - t0)
    if expect is not None:
        with open(os.path.join(data_dir, "poison_keys.txt"), "w") as f:
            f.writelines(f"{k}\n" for k in expect["poison_keys"])
    return statistics.median(times), expect


def run_jvm(args, classes, run_dir, data_dir, port, cpus, budget_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Xss4m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
           "-Dderby.system.home=" + tmp, *ADD_OPENS,
           "-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Main",
           "--workload", args.workload, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data_dir, "--out", out,
           "--cpus", str(cpus), "--port", str(port)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {budget_s:.0f} s")
        finally:
            if proc.poll() is None:  # timed out or interrupted: take its psql children too
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"JVM exited with code {rc}")
    with open(out) as f:
        return json.load(f)


def check_load(record, expect):
    """None when a load's result and final table match what gen expects."""
    if "error" in record:
        return record["error"]
    want = (expect["loaded"], expect["rejected"], expect["digest"])
    got = (record["loaded"], record["rejected"], record["digest"])
    return None if got == want else f"loaded/rejected/digest {got} != {want}"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # A terminated run still stops its JVM and its PostgreSQL cluster.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.perf_counter()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("run from the repository root: src/main/scala not found")
    build_dir = os.path.join(root, ".bench_build")
    classes = build(root, build_dir)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(run_dir)

    t_setup = time.perf_counter()
    gen_s, expect = generate(args.workload, args.seed, data_dir)
    cluster, pg_s = None, 0.0
    try:
        if expect is not None:
            import gen
            import pg
            t0 = time.perf_counter()
            cluster = pg.Cluster(os.path.join(build_dir, "pg"))
            cluster.start()
            if cluster.psql(gen.TABLE_DDL).returncode != 0:
                raise RuntimeError("could not create the target table")
            pg_s = time.perf_counter() - t0
        budget = RUN_LIMIT_S - (time.perf_counter() - t_setup)
        res = run_jvm(args, classes, run_dir, data_dir, cluster.port if cluster else 0, cpus, budget)
    finally:
        if cluster is not None:
            cluster.stop()
    setup_s = gen_s + pg_s + res["setup_jvm_s"]

    problems = list(res.get("errors", []))
    if expect is not None:
        records = res["loads"]
        attempted = len(records)
        bad = [r for r in (check_load(rec, expect["feed"]) for rec in records) if r]
        failed = len(bad)
        warm = check_load(res["warmup"], expect["warmup"])
        problems += bad + ([f"warm-up load: {warm}"] if warm else [])
        split = res.get("split_check")
        if split and not split.get("pass"):
            problems.append(f"split self-check failed: {split}")
    else:
        import oracle
        verdicts = oracle.check(data_dir, res["gates_dir"], cpus)
        wrong = {g: v for g, v in verdicts.items() if v}
        missing = sorted(set(GATES) - set(verdicts))
        problems += [f"{g}: {v}" for g, v in sorted(wrong.items())] + [f"{g}: no oracle" for g in missing]
        attempted = res["gate_runs"]
        per_gate_runs = res["passes"]
        failed = min(attempted, len(res.get("errors", [])) +
                     per_gate_runs * len((set(wrong) | set(missing)) - set(res["failed_gates"])))
    correct = not problems and failed == 0 and attempted > 0

    if args.trace:
        layers = dict(res.get("layers", {}))
        layers["trace.op_s"] = res["op_s"]
        layers["jvm.cpu_s"] = res["cpu_s"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "op_s": res["op_s"], "live_heap_peak_mb": res["live_heap_peak_mb"]}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}

    for msg in problems:
        log(f"CHECK FAILED: {msg}")
    summary = {
        "workload": args.workload, "seed": args.seed, "cpus": res["cpus"], "trace": args.trace,
        "setup_s": round(setup_s, 3), "setup_parts_s": {"generate": round(gen_s, 3),
                                                        "pg_cluster": round(pg_s, 3),
                                                        "jvm_session_warmup": round(res["setup_jvm_s"], 3)},
        "ops": attempted, "op_s": round(res["op_s"], 4),
        "load_rows_per_s": round(res["load_rows_per_s"], 1) if "load_rows_per_s" in res else None,
        "queries_s": round(res["queries_s"], 4) if "queries_s" in res else None,
        "cpu_s": round(res["cpu_s"], 4), "live_heap_peak_mb": round(res["live_heap_peak_mb"], 1),
        "ops_failed_frac": failed / max(attempted, 1),
        "wall_s": round(time.perf_counter() - t_start, 1),
    }
    if args.trace and "pg.floor_rows_per_s" in res.get("layers", {}):
        summary["pg_floor_rows_per_s"] = round(res["layers"]["pg.floor_rows_per_s"], 1)
    if res.get("split_check"):
        summary["split_check"] = res["split_check"]
    print("summary " + json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
