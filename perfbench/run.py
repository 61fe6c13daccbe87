#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source into .bench_build/ (perfbench/build.sh); later runs
reuse the build while the sources are unchanged. Each run starts a
fresh JVM with a fresh lake root under .bench_build/runs/, checks every
output, prints readable notes, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (END_TO_END), with
--trace 1 the per-layer ones (PER_LAYER; 0 where the workload does not
exercise the layer). perfbench/METRICS.md defines every metric.
"""
import argparse
import contextlib
import fcntl
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # imports below must leave no files in the checkout

WORKLOADS = ("lake_read", "lake_write", "extract_scan", "analytic_mix")
END_TO_END = ("setup_s", "ops_per_s", "latency_ms", "live_heap_mb")
QUERIES = ("q21_waiting_suppliers", "text_tfidf", "dedup_minhash_lsh", "graph_kcore",
           "ann_ivfpq_topk", "cid_ingest", "bucketed_join", "asof_join_native",
           "qast_group_having")
PER_LAYER = {
    "api.find_overhead_ms": "ms", "api.extract_overhead_ms": "ms", "api.bytes_per_find": "bytes",
    "engine.add_file_ms": "ms", "engine.extract_plan_ms": "ms", "engine.extract_drain_ms": "ms",
    "engine.schema_wait_ms": "ms", "engine.background_jobs": "count",
    "store.cid_ms": "ms", "store.add_ms": "ms", "store.fetch_ms": "ms",
    "store.dedup_ratio": "ratio", "store.bytes_per_user_byte": "ratio",
    "catalog.insert_file_ms": "ms", "catalog.insert_dataset_ms": "ms",
    "catalog.update_dataset_ms": "ms", "catalog.search_local_ms": "ms",
    "catalog.snapshot_hit_ratio": "ratio", "catalog.snapshot_rebuild_ms": "ms",
    "catalog.compactions": "count", "catalog.compaction_ms": "ms",
    "catalog.bytes_per_user_byte": "ratio",
    "qast.parse_us": "us", "qast.eval_us_per_row": "us", "qast.rows_examined_per_result": "ratio",
    "qast.compile_us": "us",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.execution_ms": "ms", "spark.executions": "count", "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count", "spark.task_ms": "ms",
    "spark.scheduler_delay_ms": "ms", "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.peak_exec_memory_bytes": "bytes",
    "query.total_s": "s", "query.cold_total_s": "s",
    **{f"query.{q}_s": "s" for q in QUERIES}, **{f"query.{q}_cold_s": "s" for q in QUERIES},
    "trace.overhead_pct": "%",
}

HEAP = "3g"
TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
HERE = Path(__file__).resolve().parent
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def source_digest(root):
    h = hashlib.sha256()
    files = [p for d in ("src/main", "perfbench/src") for p in sorted((root / d).rglob("*"))
             if p.is_file()]
    for p in files + [HERE / "build.sh"]:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, build_dir):
    """Compile once per source digest; concurrent runs wait on a lock."""
    if not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"perfbench: no engine sources under {root}/src/main/scala")
    build_dir.mkdir(parents=True, exist_ok=True)
    classes, stamp = build_dir / "classes", build_dir / "classes.digest"
    with open(build_dir / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest(root)
        if classes.is_dir() and stamp.exists() and stamp.read_text() == digest:
            return classes
        log("building engine and harness (perfbench/build.sh)")
        t0 = time.time()
        tmp = build_dir / "classes.tmp"
        proc = subprocess.run(["bash", str(HERE / "build.sh"), str(tmp)], cwd=root,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
            raise SystemExit("perfbench: build failed")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(digest)
        log(f"built in {time.time() - t0:.1f} s")
        return classes


def run_jvm(cmd, log_path):
    """Run the harness JVM in its own process group; kill it on timeout."""
    with open(log_path, "wb") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def oracle_check(root, tables_dir, check_dir):
    """Replay each query's DuckDB oracle over the same tables, with the
    repository's own canonical compare (tools/verify_local.py)."""
    sys.path.insert(0, str(root / "tools"))
    import verify_local
    con = verify_local.connect(str(tables_dir))
    oracles = json.loads((check_dir / "oracle_sql.json").read_text())
    failures = []
    for name, sql in sorted(oracles.items()):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            ok = verify_local.compare_one(con, str(check_dir), name, sql)
        if not ok:
            failures.append(buf.getvalue().strip().splitlines()[0])
    return len(oracles), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    build_dir = root / ".bench_build"
    classes = build(root, build_dir)
    run_dir = build_dir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    traces = build_dir / "traces"
    traces.mkdir(exist_ok=True)
    try:
        extra = []
        if args.workload == "analytic_mix":
            sys.path.insert(0, str(HERE))
            import gen_tables
            t0 = time.time()
            gen_tables.write(args.seed, run_dir / "tables")
            extra = ["--tables", str(run_dir / "tables"), "--gen-seconds", str(time.time() - t0)]
        result_path = run_dir / "result.json"
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
               + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--dir", str(run_dir), "--result", str(result_path),
                  "--trace-file", str(traces / f"{args.workload}-seed{args.seed}.jsonl")]
               + extra)
        t0 = time.time()
        code = run_jvm(cmd, run_dir / "jvm.log")
        log(f"harness ran {time.time() - t0:.1f} s")
        if code != 0 or not result_path.exists():
            sys.stderr.write((run_dir / "jvm.log").read_text(errors="replace")[-6000:])
            raise SystemExit(f"perfbench: harness {'timed out' if code is None else f'exited {code}'}")
        res = json.loads(result_path.read_text())
        attempted, failed, failures = res["attempted"], res["failed"], res["failures"]
        if args.workload == "analytic_mix":
            t0 = time.time()
            n, bad = oracle_check(root, run_dir / "tables", run_dir / "check")
            log(f"oracle check {time.time() - t0:.1f} s")
            attempted += n
            failed += len(bad)
            failures += bad
            res["notes"].append(f"oracle check: {n - len(bad)} of {n} queries match DuckDB")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in res["inputs"].items():
        print(f"input {k} = {v}")
    for line in res["notes"]:
        print(line)
    for f in failures:
        print(f"FAILED {f}")
    if args.trace:
        metrics = {n: {"value": res["layer"].get(n, {"value": 0.0})["value"], "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: res["e2e"][n] for n in END_TO_END}
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {failed / max(1, attempted):.6g} ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
