#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM with Spark at local[nproc], checks every output against an
independent computation (perfbench/checks.py) and prints, as its last
stdout line, one JSON object: correct, attempted, failed and metrics
(end-to-end metrics untraced, per-layer metrics traced).  Everything it
writes stays under .bench_build/ in the current directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing beside the sources

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spec():
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run_jvm(classes, args, run_dir, traced, deadline):
    env = dict(os.environ)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env.pop("SPARK_GRAFT_LOCAL_FS_IMPL", None)
    env.pop("SPARK_GRAFT_LOCAL_FS_ABS", None)
    if traced:
        env["SPARK_GRAFT_LOCAL_FS_IMPL"] = "perfbench.CountingLocalFileSystem"
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("run: the workload ran past its time budget; stopping it")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        sys.exit(checks.self_test())
    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        sys.exit(f"run: unknown workload {a.workload!r} (one of {names})")
    start = time.monotonic()
    classes = build.build()
    # the build may take long on a fresh checkout; the run's own budget
    # starts after it
    deadline = time.monotonic() + BUDGET_S - min(20.0, time.monotonic() - start)

    run_dir = build.OUT / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs, out = run_dir / "inputs", run_dir / "out"
        gen.generate(a.workload, a.seed, inputs)
        log(f"run: inputs generated at {time.monotonic() - start:.1f} s")
        rc = run_jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", str(inputs), "--work", str(run_dir / "work"),
            "--out", str(out)], run_dir, a.trace == 1, deadline)
        if rc != 0 or not (out / "result.json").exists():
            sys.exit(f"run: workload JVM failed (exit code {rc})")
        res = json.loads((out / "result.json").read_text())
        log(f"run: workload finished at {time.monotonic() - start:.1f} s")
        problems = checks.check(a.workload, inputs, out)
        log(f"run: checks finished at {time.monotonic() - start:.1f} s")
        for p in problems:
            log("CHECK FAILED:", p)
        if a.trace:
            keep = build.OUT / "last-trace" / a.workload
            shutil.rmtree(keep, ignore_errors=True)
            keep.mkdir(parents=True)
            shutil.copy(out / "spans.jsonl", keep / "spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = bench["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in wanted}
    conf = res["spark_conf"]
    print("spark conf: " + json.dumps(conf, sort_keys=True))
    print("report: " + json.dumps({"workload": a.workload, "seed": a.seed,
                                   "cores": res["cores"],
                                   "retries": res["retries"], **res["report"]}))
    print(f"operations: attempted {res['attempted']} failed {res['failed']} "
          f"retries {res['retries']}; checks: "
          + ("passed" if not problems else f"{len(problems)} failed"))
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
