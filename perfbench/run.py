#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 10 --trace 0

One run: build the engine and the harness if their sources changed
(perfbench/build.py), generate the seeded fixture (perfbench/fixture.py),
run one JVM that times setup, a first pass, warm passes and a session
pass over the workload's operators (perfbench/harness), then check every
operator's output against DuckDB (perfbench/oracle.py). The last line of
stdout is one JSON object: correct, attempted, failed and the metrics —
end-to-end ones with --trace 0, per-layer ones with --trace 1.

--fixture DIR runs on an existing fixture directory instead of a
generated one (e.g. an sf0.1 set from tools/gen_sf.py); --seed then only
labels the run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import fixture  # noqa: E402

WORK = ".bench_work"
FIXTURE = os.path.join(WORK, "fixture")
OUT = os.path.join(WORK, "run")
DUMP = os.path.join(OUT, "dump")
SF = 0.01
HEAP = "2g"
JVM_TIMEOUT_S = 150

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_jvm(args, timeout):
    """The measured JVM: fixed heap, temp files inside the work dir, no
    sbt. Its log goes to stderr."""
    tmp = os.path.abspath(os.path.join(OUT, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", build.classpath(), "perfbench.Main"] + args)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                   timeout=timeout, check=True)


def warm_passes(seconds):
    """The warm-pass count --seconds stands for: one pass per two seconds,
    at least three (a llm_corpus warm pass takes about two seconds). A
    count, not a time budget, so every run medians the same passes."""
    return max(3, int(seconds) // 2)


def run_workload(workload, seed, seconds, trace, fixture_dir=None):
    """Run one workload in a fresh JVM; returns (result, Oracle)."""
    from oracle import Oracle
    fx = fixture_dir or fixture.generate(seed, FIXTURE, SF)
    build.build()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    run_jvm([workload, os.path.abspath(fx), os.path.abspath(OUT),
             str(warm_passes(seconds)), "1" if trace else "0"], JVM_TIMEOUT_S)
    with open(os.path.join(OUT, "result.json")) as f:
        res = json.load(f)
    return res, Oracle(fx, fixture.footprint(fx))


def main():
    # BENCHMARK.json names the workloads, the metrics and their units
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the warm phase: one warm pass per 2 s, at least 3")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", help="existing fixture dir (default: generated)")
    a = ap.parse_args()
    if not (os.path.isdir("src/main/scala") and os.path.isfile(fixture.GENERATOR)):
        raise SystemExit("perfbench: run from the repository root "
                         f"(src/main/scala and {fixture.GENERATOR} not found)")
    t0 = time.time()
    res, oracle = run_workload(a.workload, a.seed, a.seconds, a.trace == 1,
                               a.fixture)

    # untimed output check: one operation per key
    from oracle import self_test
    keys = [(k["key"], k["oracle"]) for k in res["keys"]]
    check_failed = []
    for key, sql in keys:
        problem = oracle.compare(os.path.join(DUMP, key), sql)
        if problem:
            check_failed.append(key)
            print(f"[perfbench] CHECK FAIL {key}: {problem}", file=sys.stderr)
    for k in res["keys"]:
        for p, e in k["pass_errors"].items():
            print(f"[perfbench] {p} {k['key']} failed: {e}", file=sys.stderr)
        if k["dump_error"]:
            print(f"[perfbench] dump {k['key']} failed: {k['dump_error']}",
                  file=sys.stderr)
    probe, caught = self_test(oracle, DUMP, keys)
    if not caught:
        print(f"[perfbench] self-test: a corrupted row of {probe} was not "
              "rejected", file=sys.stderr)

    attempted = res["executions"] + len(keys)
    failed = res["failed_executions"] + len(check_failed)
    spec = bench["per_layer" if a.trace else "end_to_end"]
    measured = res["per_layer" if a.trace else "end_to_end"]
    print(f"[perfbench] {a.workload} seed={a.seed} keys={len(keys)} "
          f"passes={[(p['name'], round(p['wall_s'], 2)) for p in res['passes']]} "
          f"oracle cache hits={oracle.hits} misses={oracle.misses} "
          f"host_start={res['host_start']} host_end={res['host_end']} "
          f"wall={time.time() - t0:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": caught,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }))


if __name__ == "__main__":
    main()
