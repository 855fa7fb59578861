#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (about a minute per workload).

Checks, for every workload in BENCHMARK.json:
  * an untraced and a traced run exit 0, and their last output line parses
    as the result object with every end-to-end / per-layer metric;
  * a deliberately wrong result is reported as a failed operation with a
    non-zero exit, both when the reference (cold) result is wrong (caught by
    the DuckDB comparison) and when a timed (warm) result is wrong (caught by
    the row-count/checksum comparison);
and that the benchmark exits non-zero without a result in a directory that
holds only BENCHMARK.json and the benchmark's own files.

Usage: python3 perfbench/selftest.py      (from the repository root)
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = json.load(open("BENCHMARK.json"))
# one operation per workload whose result is never empty
CORRUPT_OP = {"sweep_large": "join_auto_agg",
              "pipeline_replay": "q195_stream_cms"}


def run(workload, trace, corrupt=None, cwd="."):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main() -> int:
    failures = []

    def check(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in [x["name"] for x in BENCH["workloads"]]:
        for trace, spec in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
            code, res, err = run(w, trace)
            check(code == 0 and res is not None, f"{w} trace={trace}: exit 0 with a result")
            if res is None:
                sys.stderr.write(err[-2000:])
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace}: result keys")
            check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace}: correct, nothing failed")
            names = {m["name"]: m["unit"] for m in spec}
            got = res["metrics"]
            check(set(got) == set(names) and all(
                isinstance(v["value"], (int, float)) and v["unit"] == names[k]
                for k, v in got.items()), f"{w} trace={trace}: every metric, with its unit")
        for when in ("cold", "warm"):
            code, res, _ = run(w, 0, corrupt=f"{CORRUPT_OP[w]}:{when}")
            check(code != 0 and res is not None and res["correct"] is False
                  and res["failed"] >= 1,
                  f"{w}: a wrong {when} result is a failed operation")

    bare = os.path.join(".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy("BENCHMARK.json", bare)
        for p in BENCH["paths"]:
            shutil.copytree(p, os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res, _ = run(BENCH["workloads"][0]["name"], 0, cwd=bare)
        check(code != 0 and res is None, "bare directory: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print("SELFTEST:", "PASS" if not failures else f"{len(failures)} FAILED")
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
