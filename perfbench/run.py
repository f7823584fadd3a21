#!/usr/bin/env python3
"""Benchmark command: drives the fraud lakehouse through one workload and
prints its metrics as the last line of standard output.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --self-test

With ``--trace 0`` the line carries the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer metrics of a traced run, whose tracing
overhead compares its window with an untraced window the same JVM runs just
before it. ``--self-test`` corrupts one output of every workload and exits 0
only if every output check reports it.

Everything the run writes stays under ``.bench_build`` of the checkout.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("alert_stream", "etl_cycle")
RUN_BUDGET_S = 175  # the run's JVM, build excluded
# matches org.apache.spark.launcher.JavaModuleOptions, as the repo's sbt build does
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, deadline, workload, seed, seconds, trace, corrupt=False):
    """One JVM run, killed at `deadline`; returns the result object it prints last."""
    work = os.path.join(build.BUILD, "run", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap: peak RSS is then heap + what the run adds
    # off-heap, not an artefact of when the collector chose to grow the heap
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--corrupt", "1" if corrupt else "0"]
    log = open(os.path.join(build.BUILD, f"last-{workload}.log"), "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: {workload} did not finish within the run budget")
    finally:
        log.close()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"run: {workload} JVM exited with code {proc.returncode}; see {log.name}")
    for ln in lines[:-1]:
        print(ln)
    return json.loads(lines[-1])


def declared(kind):
    """(name, unit) of every metric of one kind that BENCHMARK.json declares."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def result_line(res, kind, values):
    metrics = {}
    for name, unit in declared(kind):
        if name not in values:
            sys.exit(f"run: the run reported no value for declared metric {name}")
        metrics[name] = {"value": values[name], "unit": unit}
    return json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def self_test(cp):
    ok = True
    for w in WORKLOADS:
        res = run_jvm(cp, time.monotonic() + RUN_BUDGET_S, w, seed=7, seconds=4, trace=False,
                      corrupt=True)
        caught = (not res["correct"]) and res["failed"] >= 1
        print(f"self-test {w}: corrupted output {'reported' if caught else 'NOT reported'}"
              f" ({'; '.join(res.get('check_failures', []))[:300]})")
        ok &= caught
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    cp = build.build()
    deadline = time.monotonic() + RUN_BUDGET_S
    if a.self_test:
        return self_test(cp)
    if not a.workload:
        ap.error("--workload is required")
    res = run_jvm(cp, deadline, a.workload, a.seed, a.seconds, trace=bool(a.trace))
    if a.trace:
        print(result_line(res, "per_layer", res["layer"]))
    else:
        print(result_line(res, "end_to_end", res["e2e"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
