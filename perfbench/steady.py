"""Steadiness evidence: runs each workload in sets of repeated runs of
the same commit, each run with its own seed, and reports for every
end-to-end metric the median and quartiles per set, the spread
(quartile distance / median) against the bound in BENCHMARK.json, and
how far the last set's median moved from the first's. It also prints
each run's per-pass jvm.jit_ms and codegen-compile series, which show
where warm-up ends, and with --traced the tracing overhead (a traced
run's steady pass minus the untraced median).

Usage: python3 perfbench/steady.py [--runs 5] [--sets 2] [--workloads a,b] [--traced]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=900)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed ({r.returncode}):\n{r.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--traced", action="store_true", help="add one traced run per workload")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    report = {}
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for r in range(a.runs):
                seed = 100 * (s + 1) + r + 1
                t0 = time.time()
                info, res = one_run(w, seed, bench["run_seconds"], 0)
                took = time.time() - t0
                runs.append({"seed": seed, "info": info, "result": res})
                series = " ".join(f"{p['phase'][0]}{p['pass']}:{p['wall_s']:.2f}s/"
                                  f"jit{p['jit_ms']}/cg{p['codegen_compiles']}"
                                  for p in info["passes"])
                print(f"{w} set {s + 1} seed {seed} correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} "
                      f"host_micro_s={info['host_micro_s']:.3f} "
                      f"load={info['loadavg'][0]:.2f} run_wall_s={took:.1f}\n"
                      f"   passes {series}", flush=True)
            sets.append(runs)
        print(f"\n== {w}: median [q1, q3] spread per set; the same over all runs; "
              "bound; last set's median vs first's")
        report[w] = {}
        for m in bounds:
            cells, meds = [], []
            for runs in sets:
                xs = [r["result"]["metrics"][m]["value"] for r in runs]
                q1, q2, q3 = stats.quartiles(xs)
                meds.append(q2)
                cells.append(f"{q2:9.3f} [{q1:.3f}, {q3:.3f}] {stats.spread(xs):6.3f}")
            drift = meds[-1] / meds[0] - 1
            every = [r["result"]["metrics"][m]["value"] for runs in sets for r in runs]
            q1, q2, q3 = stats.quartiles(every)
            report[w][m] = {"values": every, "sets": cells, "drift": drift,
                            "bound": bounds[m], "spread_all": stats.spread(every)}
            print(f"  {m:<14} " + " | ".join(cells) + f" | all {q2:.3f} [{q1:.3f}, {q3:.3f}] "
                  f"{stats.spread(every):.3f} | bound {bounds[m]} | {drift:+.3f}")
        shares = [sum(r["result"]["failed"] for r in runs) /
                  sum(r["result"]["attempted"] for r in runs) for runs in sets]
        print(f"  failed share per set: {shares}")
        if a.traced:
            info, res = one_run(w, 999, bench["run_seconds"], 1)
            untraced = stats.median([r["result"]["metrics"]["steady_pass_s"]["value"]
                                     for runs in sets for r in runs])
            traced = res["metrics"]["trace.steady_pass_s"]["value"]
            print(f"  tracing overhead: traced steady pass {traced:.3f} s - untraced median "
                  f"{untraced:.3f} s = {traced - untraced:+.3f} s")
            report[w]["tracing_overhead_s"] = traced - untraced
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "steady.json"), "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
