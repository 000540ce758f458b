#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py

Runs every workload at smoke size (tiny inputs, every output check on),
untraced and traced, and checks the result on the last line: exactly the
keys correct/attempted/failed/metrics, a correct run, and every metric
BENCHMARK.json lists for that mode, with its unit. Then checks that the
runner refuses to run, exit status non-zero and no result line, in a
directory that holds only BENCHMARK.json and the benchmark's files.
Exit status 0 when all of it holds.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def last_line(cmd, cwd):
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (lines[-1] if lines else ""), p.stderr


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            rc, line, err = last_line([sys.executable, "perfbench/run.py", "--workload", w,
                                       "--seed", "7", "--seconds", "1", "--trace", str(trace),
                                       "--smoke"], ROOT)
            tag = f"{w} trace={trace}"
            try:
                res = json.loads(line)
            except ValueError:
                problems.append(f"{tag}: exit {rc}, last line is not JSON: {line[:200]} {err[-500:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(res)}")
            if rc != 0 or not res.get("correct") or res.get("failed") != 0:
                problems.append(f"{tag}: exit {rc}, result {line[:300]}")
            for m in bench["per_layer" if trace else "end_to_end"]:
                got = res.get("metrics", {}).get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or malformed: {got}")
            print(f"{tag}: exit {rc}, {len(res.get('metrics', {}))} metrics", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__", "target"))
    rc, line, _ = last_line(bench["command"] + ["--workload", bench["workloads"][0]["name"],
                                                "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or line.startswith("{"):
        problems.append(f"bare directory: exit {rc}, output {line[:200]}")
    print(f"bare directory: exit {rc}")

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
