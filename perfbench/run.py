#!/usr/bin/env python3
"""Benchmark of the graft interval library: seeded inputs, a closed loop of
library calls in one local Spark JVM, every result checked against DuckDB.

Usage (from the repository root):

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
      [--scale full|tiny] [--corrupt OP:cold|OP:warm]

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it records
the machine, heap, Spark confs and seed. The exit code is non-zero when any
operation failed or was wrong. --scale tiny and --corrupt exist for the
self-test (perfbench/selftest.py).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(HERE, "..", "BENCHMARK.json")) else None

# Input sizes per workload and scale: fixture scale factor (see gen.py) or
# rows per span table. Every seed gets the same sizes.
SCALES = {
    "full": {"sweep_large": 10_000, "pipeline_replay": 0.01},
    "tiny": {"sweep_large": 5_000, "pipeline_replay": 0.001},
}
FIXTURE_TABLES = {
    "pipeline_replay": ["documents", "embeddings"],
}
SPAN_KEYS = 64
JVM_TIMEOUT_S = 165

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb() -> int:
    """Half of MemTotal in GiB, clamped to 2..8 (the project's verify rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return min(max(g, 2), 8)
    except OSError:
        pass
    return 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_inputs(workload: str, scale: str, seed: int, data: str) -> dict:
    size = SCALES[scale][workload]
    if workload == "sweep_large":
        gen.write_span_tables(data, seed, size, SPAN_KEYS)
        return {"spans": size}
    gen.write_fixture_tables(data, seed, size, FIXTURE_TABLES[workload])
    return gen.fixture_rows(size)


def run_jvm(jar: str, args, data: str, work: str, sizes: dict) -> int:
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = heap_gb()
    # a fixed heap and young generation: peak RSS then follows live data
    # and native memory instead of the collector's run-to-run resizing
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{jar}{os.pathsep}{jars}", "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--cores", str(cores()),
              "--sizes", ",".join(f"{k}={v}" for k, v in sizes.items())]
           + (["--corrupt", args.corrupt] if args.corrupt else []))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def check_outputs(rec: dict, data: str, work: str):
    """Compare each operation's reference output with its DuckDB oracle.
    Returns ({op: reason} for mismatches, {op: oracle frame})."""
    import duckdb
    import pandas as pd
    import oracle

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    bad, frames = {}, {}
    for op, sql in rec["oracle"].items():
        path = os.path.join(work, "out", op)
        if not os.path.isdir(path):
            continue  # the cold run of this op failed; already counted
        try:
            exp = con.execute(sql).fetchdf()
            got = pd.read_parquet(path)
        except Exception as e:  # noqa: BLE001 - any failure is a wrong result
            bad[op] = f"oracle/read error: {e}"[:300]
            continue
        frames[op] = exp
        why = oracle.compare(got, exp)
        if why:
            bad[op] = why
    con.close()
    return bad, frames


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--corrupt", default=None)
    args = ap.parse_args()
    if args.workload not in SCALES["full"]:
        raise SystemExit(f"unknown workload {args.workload}")
    if BENCH is None:
        raise SystemExit("BENCHMARK.json not found next to the benchmark directory")

    jar = build.build()
    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        sizes = make_inputs(args.workload, args.scale, args.seed, data)
        code = run_jvm(jar, args, data, work, sizes)
        result = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result):
            tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
            sys.stderr.write(tail)
            raise SystemExit(f"benchmark JVM exited with {code}")
        rec = json.load(open(result))
        bad, frames = check_outputs(rec, data, work)
        ops = rec["ops"]
        failed_ops = [o for o in ops if not o["ok"] or o["op"] in bad]
        for o in ops:
            if not o["ok"]:
                sys.stderr.write(f"FAILED {o['op']} pass {o['pass']}: {o.get('error', '')}\n")
        for op, why in sorted(bad.items()):
            sys.stderr.write(f"WRONG {op}: {why}\n")

        if args.trace:
            layer = dict(rec["per_layer"])
            joins = layer.pop("operators.join_shuffle_records", 0.0)
            pairs = (float(frames["join_auto_agg"]["pairs"].sum())
                     if "join_auto_agg" in frames else 0.0)
            layer["operators.pairs_per_shuffled_row"] = pairs / joins if joins else 0.0
            spec = BENCH["per_layer"]
        else:
            layer = rec["end_to_end"]
            spec = BENCH["end_to_end"]
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec}

        info = {k: rec[k] for k in ("workload", "seed", "trace", "cores", "heap_max_mb",
                                    "spark_conf", "stated_rows", "setup_s", "passes",
                                    "warm_samples")}
        info["scale"] = args.scale
        info["failed_ops_frac"] = len(failed_ops) / max(len(ops), 1)
        os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
        keep = os.path.join(build.BUILD, "results",
                            f"{args.workload}-{args.seed}-t{args.trace}-{int(time.time())}")
        shutil.copy(result, keep + ".json")
        if os.path.exists(os.path.join(work, "trace.json")):
            shutil.copy(os.path.join(work, "trace.json"), keep + ".trace.json")
        print(json.dumps({"info": info}))
        print(json.dumps({"correct": not failed_ops, "attempted": len(ops),
                          "failed": len(failed_ops), "metrics": metrics}))
        return 0 if not failed_ops else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
