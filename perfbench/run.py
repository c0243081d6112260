#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the engine from src/ and the
harness from perfbench/scala (see build.py), makes the workload's inputs
from the seed, runs one JVM, and prints one JSON object: `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. A
traced run also keeps its full per-layer table in
.bench_work/layers/<workload>-seed<N>.json.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 4 --record

rewrites perfbench/expected/registry.tsv, the row counts and digests that
every run checks the registry queries' results against.
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import olist_gen  # noqa: E402

WORKLOADS = ("registry", "olist_etl", "stream_dedup")
# olist_etl input size: 5k orders, 5,550 order items, 50k geolocation rows.
OLIST_ORDERS = 5000
# A run ends within this many seconds, a run that also builds within BUILD_LIMIT_S.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def stop(signum, _frame):
    # Unwinds through the `finally` blocks below, which stop the JVM.
    sys.exit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite the expected results of the registry workload")
    a = ap.parse_args()
    started = time.monotonic()

    classpath = build.build()
    limit = BUILD_LIMIT_S if time.monotonic() - started > 60 else RUN_LIMIT_S

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    layers = os.path.join(ROOT, ".bench_work", "layers", f"{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(layers), exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--layers", layers]
        if a.workload == "registry":
            expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
            args += ["--data", os.path.join(HERE, "data", "sf0.01")]
            if a.record:
                open(expected, "w").close()
                args += ["--record", expected]
            else:
                args += ["--expected", expected]
        elif a.workload == "olist_etl":
            src = os.path.join(work, "olist_src")
            items = olist_gen.generate(src, a.seed, OLIST_ORDERS)
            args += ["--input", src, "--items", str(items)]

        cmd = [build.java()]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                "-cp", classpath, "perfbench.Bench"] + args
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=max(10.0, limit - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: {a.workload} did not finish within {limit} s")
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if proc.returncode != 0:
            sys.exit(f"perfbench: the JVM exited with {proc.returncode}")
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        differ = expected_metrics(a.trace) ^ set(result["metrics"])
        if differ:
            sys.exit(f"perfbench: metrics differ from BENCHMARK.json: {sorted(differ)}")
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
