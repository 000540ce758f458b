#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
runner from source (`perfbench/build.sbt`, output in `.bench_build/`).
The runner JVM writes a full record; this script adds the reference
floor, saves the record under `.bench_build/results/`, prints a detail
line with every workload metric, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the `end_to_end` metrics of BENCHMARK.json (`--trace 0`) or its
`per_layer` metrics (`--trace 1`). Exit status is 0 only when every
operation succeeded and every output check passed.

Extra flags: `--smoke` runs tiny inputs with every check on (the
benchmark's self-test uses it); `--pin` re-takes the query-floor pins.
"""
import argparse
import contextlib
import fcntl
import hashlib
import io
import json
import os
import re
import runpy
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
PINS = os.path.join(HERE, "query_floor_pins.tsv")
WORKLOADS = ("dblp-etl", "llm-corpus", "query-floor")
# per-layer metric prefixes each workload produces itself
LAYERS = {"dblp-etl": ("xml.", "sink.", "relational.", "etl_floor_ratio", "trace."),
          "llm-corpus": ("dedup.", "text.", "similarity.", "trace."),
          "query-floor": ("entry.", "streaming.", "trace.")}
# fixed heap (initial = maximum), so the collector's heap-growth
# decisions do not vary from run to run
DRIVER_MEM = "2g"
# seconds a run may take after the build; llm-corpus is not listed in
# BENCHMARK.json and runs longer
RUN_LIMIT_S = {"dblp-etl": 170, "query-floor": 170, "llm-corpus": 900}
BUILD_LIMIT_S = 850
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + runner unless the classes match the sources."""
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = digest(sources())
        stamp = os.path.join(BUILD, "build.stamp")
        if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == want:
            return want
        env = dict(os.environ, COURSIER_MODE="offline")
        flags = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
                 "-Dsbt.log.noformat=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            flags += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        log = os.path.join(BUILD, "logs", "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(["sbt", "--batch", *flags, "compile"], cwd=HERE, env=env,
                                 stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        if rc != 0:
            die(f"build failed (sbt exit {rc}); see {log}", 1)
        with open(stamp, "w") as f:
            f.write(want)
        return want


def floor_data():
    """The query-floor tables, generated once per checkout."""
    gen = os.path.join(HERE, "floor_data.py")
    out = os.path.join(BUILD, "data", "floor-" + digest([gen])[:12])
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.check_call([sys.executable, gen, out])
        open(os.path.join(out, ".done"), "w").close()
    return out


def run_jvm(args, work, out_json, extra, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{CLASSES}:{os.path.join(os.environ['SPARK_HOME'], 'jars', '*')}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out_json, *extra]
    log = os.path.join(BUILD, "logs", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            rc = "timeout"
    return rc, log


def expat_floor(path):
    """Seconds of the repository's single-thread expat parse floor.

    The script runs unmodified, in this interpreter, so the time is its
    parse and not an interpreter start; its own printed figure, rounded
    to 0.1 s, is returned beside it as a cross-check.
    """
    import xml.sax  # noqa: F401  (imported before the clock starts)
    script = os.path.join(ROOT, "dev", "expat_floor.py")
    printed, argv = io.StringIO(), sys.argv
    sys.argv = [script, path]
    try:
        with contextlib.redirect_stdout(printed):
            t0 = time.perf_counter()
            runpy.run_path(script, run_name="__main__")
            wall = time.perf_counter() - t0
    finally:
        sys.argv = argv
    m = re.search(r"RESULT expat_floor: ([0-9.]+)s", printed.getvalue())
    if not m:
        raise RuntimeError(f"expat floor printed no result: {printed.getvalue()[-500:]}")
    return wall, float(m.group(1))


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found; run from the repository root")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json not found")
    bench = json.load(open(bench_json))
    if not os.environ.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME or put spark-submit on the PATH")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    source_digest = build()
    started = time.time()

    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_json = os.path.join(work, "record.json")
    extra = ["--smoke"] if args.smoke else []
    if args.workload == "query-floor":
        pins = PINS
        if args.pin:
            names = subprocess.check_output(
                [sys.executable, os.path.join(HERE, "tools", "select_queries.py")], cwd=ROOT,
                text=True).split()
            pins = os.path.join(work, "names.tsv")
            with open(pins, "w") as f:
                f.writelines(f"{n}\t-1\t-\n" for n in names)
            extra += ["--pin-out", PINS]
        extra += ["--data", floor_data(), "--pins", pins]
    try:
        rc, log = run_jvm(args, work, out_json, extra, started + RUN_LIMIT_S[args.workload])
        if not os.path.exists(out_json):
            with open(log) as f:
                tail = f.read()[-3000:]
            die(f"runner exited {rc} without a record; log {log}:\n{tail}", 1)
        rec = json.load(open(out_json))
        if args.pin:
            print(f"pinned {rec['attempted']} queries, {rec['failed']} failed -> {PINS}")
            sys.exit(0 if rec["failed"] == 0 else 1)
        if args.workload == "dblp-etl" and args.trace == 1:
            floor_s, printed = expat_floor(rec["labels"]["input_path"])
            rec["labels"]["expat_floor_printed_s"] = printed
            rec["per_layer"]["xml.expat_floor_s"] = {"value": floor_s, "unit": "s"}
            rec["per_layer"]["etl_floor_ratio"] = {
                "value": rec["metrics"]["etl_s"]["value"] / (2 * floor_s), "unit": "ratio"}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["labels"].pop("input_path", None)
    rec["labels"].update({"git_commit": commit(), "source_digest": source_digest,
                          "driver_mem": DRIVER_MEM})
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = rec["per_layer"] if args.trace else rec["metrics"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in source:
            metrics[m["name"]] = source[m["name"]]
        elif args.trace and not m["name"].startswith(LAYERS[args.workload]):
            # a layer this workload never enters did no work in it
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        rec["failed"] += 1
        rec["correct"] = False
        rec["failures"].append(f"metrics not produced: {missing}")

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = "smoke-" if args.smoke else ""
    with open(os.path.join(results, f"{tag}{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(rec, f)
    detail = {k: rec[k] for k in ("workload", "seed", "error_rate", "failures", "labels")}
    detail["metrics"] = rec["metrics"]
    print(json.dumps(detail))
    correct = rec["failed"] == 0 and rec["correct"]
    print(json.dumps({"correct": correct, "attempted": max(1, rec["attempted"]),
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
