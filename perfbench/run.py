#!/usr/bin/env python3
"""graft's benchmark: the streaming loop (producer → sharded store → DSv2
consumer) at a steady rate and draining a backlog, and a hot set of gated
batch queries. See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (perfbench/build.py), runs the
workload in its own JVM, which makes its inputs from the seed, checks the
outputs and prints one JSON line last: `correct`, `attempted`, `failed` and
the end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`),
each with its unit. A traced invocation runs the workload untraced and then
traced, for the tracing overhead. Exits non-zero when a check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import build
import layers

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
WORKLOADS = ("stream_steady", "stream_backlog", "batch_analytics")
# the module opens spark-submit passes to a JDK 17 JVM (see build.sbt)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def run_jvm(classes, workload, seed, seconds, trace, cores):
    """One workload in a fresh JVM; returns its result.json, with the DuckDB
    oracle comparison folded in for the batch workload. The JVM makes the
    workload's inputs from the seed itself."""
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # set-up, a window of `seconds` and the drain or checks after it: a
    # bound for a JVM that hangs, far above a healthy run
    timeout_s = 150 + 3 * seconds
    launch_us = time.time_ns() // 1000
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", *ADD_OPENS,
           "-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
           "perfbench.Main", "--workload", workload, "--work", str(work),
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--launch-us", str(launch_us),
           "--cores", str(cores)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               cwd=work, env=env, timeout=timeout_s)
        except subprocess.TimeoutExpired:
            die(f"{workload}: JVM did not finish in {timeout_s} s (log: {work / 'jvm.log'})")
    if r.returncode != 0 or not (work / "result.json").exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        die(f"{workload}: JVM exited with {r.returncode}\n{tail}")
    res = json.loads((work / "result.json").read_text())
    if workload == "batch_analytics":
        oracle_check(res, work)
    return res


def oracle_check(res, work):
    """Compares each checked query's output with its DuckDB twin through the
    project's own tools/check_oracle.py."""
    names = json.loads((work / "verify/oracle_sql.json").read_text()).keys()
    r = subprocess.run(
        [sys.executable, "tools/check_oracle.py", str(work / "sf"),
         str(work / "verify"), "--skip-verify", "--only=" + ",".join(names)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=120)
    ok = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("OK ")}
    for n in names:
        good = n in ok and r.returncode == 0
        res["checks"].append({"name": f"{n}.oracle", "ok": good,
                              "detail": "matches its DuckDB twin" if good else
                              next((l for l in r.stdout.splitlines() if n in l), r.stdout[-300:])})
        res["attempted"] += 1
        res["failed"] += 0 if good else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark task threads (default: the CPUs this process may use)")
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "tools/check_oracle.py"):
        if not (ROOT / need).exists():
            die(f"{ROOT / need} is missing: run from a full checkout of graft")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.ensure()

    runs = [run_jvm(classes, a.workload, a.seed, a.seconds, False, a.cores)]
    if a.trace:
        # the tracing overhead is this traced run's end-to-end numbers minus
        # those of the untraced run just before it, with the same arguments
        runs.append(run_jvm(classes, a.workload, a.seed, a.seconds, True, a.cores))
    for res, label in zip(runs, ("", "traced ")):
        for c in res["checks"]:
            print(f"check {'ok  ' if c['ok'] else 'FAIL'} {label}{c['name']}: {c['detail']}")
    if a.trace:
        values = layers.derive(layers.load(WORK / a.workload / "spans.jsonl"))
        untraced, traced = runs[0]["metrics"], runs[1]["metrics"]
        for k, v in traced.items():
            values[f"overhead.{k}"] = v - untraced[k]
        wanted = spec["per_layer"]
    else:
        values = runs[0]["metrics"]
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in wanted}
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']} {v['unit']}")
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    correct = failed == 0 and all(c["ok"] for r in runs for c in r["checks"])
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
