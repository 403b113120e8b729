#!/usr/bin/env python3
"""graft benchmark: runs one workload by name and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload search|ingest --seed N \
      --seconds S --trace 0|1

Builds the program and the benchmark from source on first use (see
perfbench/build.py), then runs the workload in one JVM on a local[nproc]
Spark session. Every index root, GRAFT_WORK_DIR, SPARK_LOCAL_DIRS and the
JVM temp dir live under a fresh per-run directory that is deleted at the
end. The last stdout line is one JSON object: correct, attempted, failed
and metrics (end-to-end metrics untraced, per-layer metrics with
--trace 1). Lines before it carry the workload's own named metrics
(PERFBENCH_DETAIL) and, traced, the span file and per-span self times.

Traced ingest runs also make one pass over every SparkEntry.queries
operator on seeded tables (perfbench/tables.py) and compare each result
with its DuckDB oracle (tools/verify_local.py); those operators count
into attempted and failed.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources
import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("search", "ingest")
# Whole-run limit; the first run of a checkout also compiles.
DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src/main/scala")):
        sys.exit("perfbench: run from the root of a graft checkout (no build.sbt or src/main/scala here)")
    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build_t0 = time.monotonic()
    classes = build.build(root, target)
    build_s = time.monotonic() - build_t0

    run_dir = os.path.join(target, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("work", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    ops_pass = a.workload == "ingest" and a.trace == "1"
    tables_dir = os.path.join(run_dir, "tables")
    ops_out = os.path.join(run_dir, "ops-out")
    if ops_pass:
        tables.main(tables_dir, a.seed)
    env = dict(os.environ,
               GRAFT_WORK_DIR=os.path.join(run_dir, "work"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # fixed heap and young generation: adaptive sizing would make the peak
    # resident set vary from run to run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(build.jar_dir(root), "*")]),
            "graftbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--run-dir", os.path.join(run_dir, "data"),
            "--spans", os.path.join(target, "spans", f"{a.workload}-seed{a.seed}.jsonl")]
    if ops_pass:
        cmd += ["--tables", tables_dir, "--ops-out", ops_out]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(30.0, DEADLINE_S - (time.monotonic() - build_t0)))
        oracle = None
        if ops_pass and proc.returncode == 0:
            oracle = check_operators(root, tables_dir, ops_out)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {a.workload} run exceeded {DEADLINE_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    tagged = {}
    for line in out.splitlines():
        tag, _, rest = line.partition(" ")
        if tag.startswith("PERFBENCH_"):
            tagged[tag] = rest
    if proc.returncode != 0 or "PERFBENCH_RESULT" not in tagged:
        sys.stderr.write(out)
        sys.exit(f"perfbench: {a.workload} run failed (exit {proc.returncode})")
    result = json.loads(tagged["PERFBENCH_RESULT"])
    if oracle is not None:
        passed, failed, self_test_ok = oracle
        result["attempted"] += passed + failed
        result["failed"] += failed
        result["correct"] = result["correct"] and failed == 0 and self_test_ok
    detail = json.loads(tagged["PERFBENCH_DETAIL"])
    print("detail " + json.dumps({"workload": a.workload, "seed": a.seed, "build_s": build_s,
                                  **{k: v for k, v in detail.items()}}))
    if "PERFBENCH_SPANS" in tagged:
        print("spans " + tagged["PERFBENCH_SPANS"])
        print("self_times " + tagged["PERFBENCH_SELF"])
    print(json.dumps(result))


def verify_local(root, tables_dir, out_dir, report=True):
    """Runs the repository's DuckDB comparison; returns the counts of
    operators that matched and that did not."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "verify_local.py"),
                        tables_dir, out_dir], capture_output=True, text=True, timeout=60)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("q")]
    bad = [ln for ln in lines if ": ok" not in ln]
    if report:
        for ln in bad:
            sys.stderr.write(f"perfbench: operator check failed: {ln}\n")
    return len(lines) - len(bad), len(bad)


def check_operators(root, tables_dir, ops_out):
    """Compares every operator result with its DuckDB oracle, then shows
    that the comparison rejects a result with one altered value. Returns
    (passed, failed, self-test ok)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    passed, failed = verify_local(root, tables_dir, ops_out)
    with open(os.path.join(ops_out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    # self-test: the first operator result with rows and an integer column
    for name in sorted(oracles):
        files = sorted(glob.glob(os.path.join(ops_out, name, "*.parquet")))
        t = pa.concat_tables([pq.read_table(p) for p in files]) if files else None
        ints = [c for c in (t.column_names if t is not None and t.num_rows else [])
                if pa.types.is_integer(t.schema.field(c).type)]
        if ints:
            break
    else:
        return passed, failed, False
    col = ints[0]
    vals = t.column(col).to_pylist()
    vals[0] = (vals[0] or 0) + 1
    t = t.set_column(t.column_names.index(col), col, pa.array(vals, t.schema.field(col).type))
    altered = ops_out + "-altered"
    os.makedirs(os.path.join(altered, name))
    pq.write_table(t, os.path.join(altered, name, "part-0.parquet"))
    with open(os.path.join(altered, "oracle_sql.json"), "w") as f:
        json.dump({name: oracles[name]}, f)
    caught = verify_local(root, tables_dir, altered, report=False)[1] == 1
    return passed, failed, caught


if __name__ == "__main__":
    main()
