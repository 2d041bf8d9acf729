"""Benchmark entry point: builds the program, makes the workload's
inputs from the seed, runs one fresh JVM over them, checks every
output apart from the program, and prints one JSON line last.

Usage: python3 perfbench/run.py --workload <mr_olap|lakehouse_mixed>
           --seed <n> --seconds <s> --trace <0|1>
With --trace 0 the result holds the end-to-end metrics; with --trace 1
the per-layer metrics of a separate traced run, which also writes its
spans to perfbench/.work/trace-<workload>.json and prints a layer table.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("mr_olap", "lakehouse_mixed")
HEAP = "2g"
# A run must end within 180 s of its start (build excluded); the checks
# after the JVM take a few seconds.
RUN_LIMIT_S, CHECK_MARGIN_S = 180, 20
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, workload, work, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", cp, "perfbench.Harness", workload, os.path.join(work, "in"),
            os.path.join(work, "out"), str(seconds), str(trace)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {code}")
    with open(os.path.join(work, "out", "result.json")) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S - CHECK_MARGIN_S
    work = os.path.join(HERE, ".work", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.monotonic()
        gen.generate(a.seed, os.path.join(work, "in"), a.workload)
        t1 = time.monotonic()
        res = run_jvm(cp, a.workload, work, a.seconds, a.trace, deadline)
        t2 = time.monotonic()
        failures = checks.check_run(a.workload, res, os.path.join(work, "in"),
                                    os.path.join(work, "out"))
        phases = {"gen_s": t1 - t0, "jvm_s": t2 - t1, "checks_s": time.monotonic() - t2}
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if o["failed"])
        if a.trace:
            layers = metrics.per_layer(res)
            out = layers["metrics"]
            with open(os.path.join(HERE, ".work", f"trace-{a.workload}.json"), "w") as fh:
                json.dump({"trace": res["trace"], "ops": res["ops"],
                           "passes": res["passes"]}, fh)
            print(metrics.layer_table(layers["table"]))
        else:
            out = metrics.end_to_end(res)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "cpus": res["cpus"],
                          "host_micro_s": res["host_micro_s"],
                          "loadavg": list(os.getloadavg()), "check_pass_s": res["check_s"],
                          "run_phases_s": {k: round(v, 2) for k, v in phases.items()},
                          "passes": metrics.pass_series(res),
                          "check_failures": failures}))
        for f in failures:
            print(f"CHECK FAILED: {f}", file=sys.stderr)
        print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                          "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
