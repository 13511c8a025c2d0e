#!/usr/bin/env python3
"""The repo benchmark: one command per workload, run from the root of a
checkout.

    python3 perfbench/run.py --workload etl_trickle --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/build.py), runs one workload in a fresh JVM
with a capped driver heap, checks the outputs (analyst_serve's answers
and etl_backfill's query results against DuckDB, see oracle.py) and prints, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. The line before it is the run's context: host-speed
canary, cores, heap, source digest, the checks made, and the
end-to-end figures under the names the workload's users know them by.

--smoke runs a tiny version of the workload; --corrupt damages one input
or response on purpose, so a run must report correct=false. Exit code: 0
when every check passed, 1 on a mismatch or a failed run, 2 when the
checkout holds no program to build.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_trickle", "etl_backfill", "analyst_serve")
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def config(workload, smoke):
    with open(os.path.join(HERE, "workloads.json")) as f:
        w = json.load(f)
    conf = dict(w["defaults"])
    conf.update(w[workload])
    if smoke:
        conf.update(w["smoke"].get("defaults", {}))
        conf.update(w["smoke"].get(workload, {}))
    conf["cores"] = max(1, min(conf["cores"], os.cpu_count() or 1))
    return conf


def declared_metrics(root):
    """End-to-end and per-layer metrics as {name: unit}, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def source_digest(root):
    h = hashlib.sha1()
    for base in ("src/main", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".scala", ".py", ".json")):
                    p = os.path.join(d, f)
                    h.update(p[len(root):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def run_jvm(cmd, log_path, work):
    """Run the harness JVM in its own process group; kill the group on a
    timeout, and wait until it has ended either way."""
    # Spark's scratch space stays inside the run's work directory even
    # when the environment points SPARK_LOCAL_DIRS elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, env=env)
        try:
            return proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.stderr.write("perfbench: run from the root of a checkout of the program\n")
        return 2
    started = time.time()
    sys.path.insert(0, HERE)
    import build
    classpath = build.build(root)
    build_s = time.time() - started

    conf = config(args.workload, args.smoke)
    bench = os.path.join(root, ".bench_build")
    work = os.path.join(bench, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(bench, "traces"), exist_ok=True)
    trace_file = os.path.join(bench, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        conf_path = os.path.join(work, "conf.json")
        with open(conf_path, "w") as f:
            json.dump(conf, f)
        out = os.path.join(work, "result.json")
        cmd = (["java"] + ADD_OPENS + [
            # the heap is capped, not pre-sized, so the peak RSS in the
            # context is not simply the cap
            f"-Xmx{conf['heap_mb']}m", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--conf", conf_path, "--work", work, "--out", out,
            "--trace_file", trace_file, "--corrupt", "1" if args.corrupt else "0"])
        log_path = os.path.join(bench, f"{args.workload}.log")
        rc = run_jvm(cmd, log_path, work)
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as f:
                tail = f.read()[-3000:]
            sys.stderr.write(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}\n{tail}\n")
            return 1
        with open(out) as f:
            res = json.load(f)

        attempted, failed, checks = res["attempted"], res["failed"], list(res["checks"])
        import oracle
        if args.workload == "analyst_serve":
            bad, notes = oracle.check(os.path.join(work, "responses.json"))
            failed += bad
            checks += notes
        if args.workload == "etl_backfill":
            # a wrong query result is wrong in every pass that ran it
            bad, notes = oracle.check_queries(os.path.join(work, "queries.json"))
            failed = min(attempted, failed + bad * attempted)
            checks += notes

        e2e, layers = declared_metrics(root)
        if args.trace:
            got = res["per_layer"]
            # a layer this workload never calls reads 0
            metrics = {n: got.get(n, {"value": 0.0, "unit": u}) for n, u in layers.items()}
        else:
            metrics = {n: res["end_to_end"][n] for n in e2e}
        context = dict(res["context"], workload=args.workload, seed=args.seed,
                       seconds=args.seconds, trace=args.trace, smoke=args.smoke,
                       samples=res["samples"], input_digest=res["input_digest"],
                       source_digest=source_digest(root), build_s=round(build_s, 3),
                       named=res["named"], checks=checks,
                       trace_file=trace_file if args.trace else None)
        print(json.dumps({"context": context}))
        correct = failed == 0 and attempted > 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
