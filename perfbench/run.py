#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, a correctness gate.

    python3 perfbench/run.py --workload <protect_parquet|service_pages|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), runs the JVM side
(perfbench.Main) over the reference tables in perfbench/data and, for query
outputs, the DuckDB oracle compare (perfbench/oracle.py). Progress goes
to stderr; the last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics of BENCHMARK.json, --trace 1 the per-layer ones. Exits non-zero when
any op failed, any output was wrong, or a metric is missing; a JVM side that
dies or times out still gets a result line, with correct false.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the oracle imports tools/check.py; leave tools/ as it is

import build  # noqa: E402

WORKLOADS = ("protect_parquet", "service_pages", "query_mix")
# the engine's reference tables: sf0.1 lineitem (600,000 rows, one row group)
# for protect_parquet, all ten sf0.01 tables for query_mix
PROTECT_DATA = os.path.join(HERE, "data", "sf0.1")
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


T0 = time.perf_counter()


def log(msg):
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s, killing it")
        return -1
    finally:  # also on SIGTERM or an exception: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classes = build.build()

    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result_file = os.path.join(run_dir, "result.json")
        code = run_jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus()), "--work", run_dir,
            "--protect-data", PROTECT_DATA, "--query-data", QUERY_DATA,
            "--result", result_file], run_dir)
        if code != 0 or not os.path.exists(result_file):
            log(f"JVM side failed (exit {code})")
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        log("JVM side done")
        res = json.load(open(result_file))
        for n in res["notes"]:
            log(n)
        attempted, failed = res["attempted"], res["failed"]

        if res.get("query_out"):
            import oracle
            verdicts = oracle.check_outputs(res["query_out"], QUERY_DATA, res["queries"])
            for q, why in verdicts.items():
                log(f"oracle {q}: {'PASS' if why is None else 'FAIL ' + why}")
            attempted += len(verdicts)
            failed += sum(1 for why in verdicts.values() if why is not None)

        if a.trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            traces = os.path.join(build.build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))

        got = res["metrics"]
        missing = [m["name"] for m in wanted if m["name"] not in got]
        if missing:
            log(f"missing metrics: {missing}")
        if a.trace:
            for k in sorted(set(got) - {m["name"] for m in wanted}):
                log(f"traced {k} = {got[k]}")
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                   for m in wanted if m["name"] in got}
        correct = failed == 0 and not missing
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
