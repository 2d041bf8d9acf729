"""Metrics from one run's raw records (`result.json`).

End-to-end metrics come from the untraced run; per-layer metrics from
the traced run's spans, Spark job/stage/planning records and per-pass
JVM counters. Per-pass figures are medians over the timed passes.
"""
import collections

import stats

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "steady_pass_s": "s",
             "steady_cpu_s": "s", "heap_live_mb": "MB"}

# Per-operation names of the two workloads, for the op.<name> metrics.
OPS = ["wordcount", "numbersort", "mr_grep", "mr_histogram", "q1_agg", "q5_multijoin",
       "q6_revenue", "q_topk_per_group",
       "kernel_minhash", "kernel_simhash", "kernel_shingles", "kernel_fingerprint",
       "kernel_cosine", "append", "delete", "delete_mor", "update_mor", "upsert",
       "sql_update", "range_read", "point_read", "time_travel", "mv_refresh"]
SOURCES_CALLS = ["range_read", "point_read", "time_travel", "versions", "snapshot_files",
                 "prune", "append", "delete", "delete_mor", "update_mor", "upsert",
                 "mv_refresh"]
KERNELS = ["minhash", "simhash", "shingles", "fingerprint", "cosine"]
EXEC_SUMS = ["stage_wall_ms", "task_run_ms", "task_cpu_ms", "task_gc_ms", "input_bytes",
             "input_records", "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes"]


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    u = {"operators.build_ms": "ms", "spark.plan.analysis_ms": "ms",
         "spark.plan.optimize_ms": "ms", "spark.plan.physical_ms": "ms",
         "spark.codegen.compiles": "count", "spark.codegen.compile_ms": "ms",
         "spark.exec.jobs": "count", "spark.exec.stages": "count",
         "spark.exec.tasks": "count", "spark.exec.driver_gap_ms": "ms"}
    for k in EXEC_SUMS:
        u["spark.exec." + k] = ("bytes" if k.endswith("bytes") else
                                "count" if k.endswith("records") else "ms")
    u.update({"jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "jvm.gc_count": "count",
              "core.merge_ms": "ms"})
    for c in SOURCES_CALLS:
        u[f"sources.{c}_ms"] = "ms"
    u.update({"sources.compact_ms": "ms", "sources.vacuum_ms": "ms",
              "sources.files_kept_ratio": "ratio", "sources.commits": "count",
              "sources.files_written": "count", "sources.bytes_written": "bytes",
              "sources.live_files": "count", "sources.steady_read_s": "s",
              "sources.steady_write_s": "s", "sources.write_amp": "ratio",
              "sources.space_amp": "ratio", "sql.dml_ms": "ms"})
    for k in KERNELS:
        u[f"functions.{k}_rows_per_s"] = "rows/s"
    for o in OPS:
        u[f"op.{o}.cold_ms"] = "ms"
        u[f"op.{o}.steady_ms"] = "ms"
    u["trace.steady_pass_s"] = "s"
    return u


def _m(values, units):
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def timed(res):
    return [p for p in res["passes"] if p["phase"] == "timed"]


def pass_series(res):
    """Per-pass wall, jvm.jit_ms and codegen compiles, in pass order."""
    return [{"pass": p["pass"], "phase": p["phase"], "wall_s": round(p["wall_s"], 3),
             "jit_ms": p["jit_ms"], "codegen_compiles": p["codegen_compiles"]}
            for p in res["passes"]]


def steady_sum(res, key):
    """Sum over the pass's operations of each one's fastest timed run.
    Host interference only adds time, so an operation's minimum over the
    timed passes is its least-disturbed figure (`graft.Bench`'s rule)."""
    passes = {p["pass"] for p in timed(res)}
    best = {}
    for o in res["ops"]:
        if o["pass"] in passes:
            best[o["name"]] = min(best.get(o["name"], float("inf")), o[key])
    return sum(best.values()) / 1e3


def end_to_end(res):
    cold = [p for p in res["passes"] if p["phase"] == "cold"][0]
    # the session's start once, plus the median of the workload's set-up:
    # the one before the cold pass and its repeats after the timed passes
    setup = res["session_s"] + stats.median(res["workload_setup_s"])
    return _m({"setup_s": setup, "cold_pass_s": cold["wall_s"],
               "steady_pass_s": steady_sum(res, "ms"),
               "steady_cpu_s": steady_sum(res, "cpu_ms"),
               "heap_live_mb": res["heap_live_mb"]}, E2E_UNITS)


def _jobs(trace):
    """Job intervals (start, end) in ms with the op id each belongs to."""
    starts, ends = {}, {}
    for j in trace["jobs"]:
        (starts if j["event"] == "start" else ends)[j["id"]] = j
    out = []
    for jid, j in starts.items():
        if jid in ends:
            out.append({"id": jid, "op": int(j["op"]) if j.get("op") else None,
                        "start": j["time"], "end": ends[jid]["time"]})
    return out


def _by_time(op_spans, t):
    for oid, s in op_spans.items():
        if s["start"] <= t <= s["end"]:
            return oid
    return None


def per_layer(res):
    """Per-layer metrics of a traced run plus a per-operation layer table."""
    tr = res["trace"]
    timed_passes = {p["pass"] for p in timed(res)}
    op_rec = {o["id"]: o for o in res["ops"]}
    spans = tr["spans"]
    op_spans = {s["op"]: s for s in spans if s["name"].startswith("op:")}
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    jobs = _jobs(tr)
    for j in jobs:  # jobs a pool thread started carry no op property
        if j["op"] is None:
            j["op"] = _by_time(op_spans, j["start"])
    stages = tr["stages"]
    for s in stages:
        s["op"] = int(s["op"]) if s.get("op") else _by_time(op_spans, s["submit"])
    plans = []
    for p in tr["plans"]:
        if "analysis" in p:
            plans.append({"op": _by_time(op_spans, p["analysis"]["start"]),
                          **{k: v["end"] - v["start"] for k, v in p.items()}})

    def pass_of(oid):
        return op_rec[oid]["pass"] if oid in op_rec else None

    per_op = collections.defaultdict(lambda: collections.defaultdict(float))
    for s in spans:
        if s["name"].startswith("op:"):
            continue
        per_op[s["op"]]["span." + s["name"]] += s["end"] - s["start"]
    for oid, s in op_spans.items():
        kids = [(c["start"], c["end"]) for c in children[s["id"]]]
        per_op[oid]["self_ms"] = stats.self_time((s["start"], s["end"]), kids)
        ex = [c for c in children[s["id"]] if c["name"] == "exec"] or [s]
        mine = [(j["start"], j["end"]) for j in jobs if j["op"] == oid]
        per_op[oid]["driver_gap_ms"] = sum(
            (e["end"] - e["start"]) - stats.covered((e["start"], e["end"]), mine) for e in ex)
    for j in jobs:
        per_op[j["op"]]["jobs"] += 1
    for s in stages:
        d = per_op[s["op"]]
        d["stages"] += 1
        d["tasks"] += s["tasks"]
        d["stage_wall_ms"] += max(0, s["complete"] - s["submit"])
        for k in EXEC_SUMS[1:]:
            d[k] += s[k]
    for p in plans:
        for k, name in (("analysis", "analysis_ms"), ("optimization", "optimize_ms"),
                        ("planning", "physical_ms")):
            per_op[p["op"]][name] += p.get(k, 0.0)

    def pass_median(key):
        sums = collections.defaultdict(float)
        for oid, d in per_op.items():
            if pass_of(oid) in timed_passes:
                sums[pass_of(oid)] += d.get(key, 0.0)
        return stats.median([sums[p] for p in timed_passes])

    def call_median(span_name):
        xs = [s["end"] - s["start"] for s in spans
              if s["name"] == span_name and pass_of(s["op"]) in timed_passes]
        return stats.median(xs) if xs else 0.0

    tp = timed(res)
    v = {"operators.build_ms": pass_median("span.build"),
         "spark.plan.analysis_ms": pass_median("analysis_ms"),
         "spark.plan.optimize_ms": pass_median("optimize_ms"),
         "spark.plan.physical_ms": pass_median("physical_ms"),
         "spark.codegen.compiles": stats.median([p["codegen_compiles"] for p in tp]),
         "spark.codegen.compile_ms": stats.median([p["codegen_compile_ms"] for p in tp]),
         "spark.exec.jobs": pass_median("jobs"), "spark.exec.stages": pass_median("stages"),
         "spark.exec.tasks": pass_median("tasks"),
         "spark.exec.driver_gap_ms": pass_median("driver_gap_ms"),
         "jvm.jit_ms": stats.median([p["jit_ms"] for p in tp]),
         "jvm.gc_ms": stats.median([p["gc_ms"] for p in tp]),
         "jvm.gc_count": stats.median([p["gc_count"] for p in tp]),
         "core.merge_ms": pass_median("span.core.merge"),
         "sql.dml_ms": call_median("sql.dml"),
         "trace.steady_pass_s": steady_sum(res, "ms")}
    for k in EXEC_SUMS:
        v["spark.exec." + k] = pass_median(k)
    for c in SOURCES_CALLS:
        v[f"sources.{c}_ms"] = call_median(f"sources.{c}")
    ops_t = [o for o in res["ops"] if o["pass"] in timed_passes]
    for k in KERNELS:
        xs = [o["rows"] / (o["ms"] / 1e3) for o in ops_t if o["name"] == f"kernel_{k}"]
        v[f"functions.{k}_rows_per_s"] = stats.median(xs) if xs else 0.0
    by_name = collections.defaultdict(list)
    for o in res["ops"]:
        by_name[o["name"]].append(o)
    for name, os_ in by_name.items():
        v[f"op.{name}.cold_ms"] = next((o["ms"] for o in os_ if o["pass"] == 0), 0.0)
        xs = [o["ms"] for o in os_ if o["pass"] in timed_passes]
        v[f"op.{name}.steady_ms"] = stats.median(xs) if xs else 0.0
    v.update(lake_metrics(res))
    rows = layer_rows(res, per_op, timed_passes)
    return {"metrics": _m(v, per_layer_units()), "table": rows}


def lake_metrics(res):
    """Read, write and space costs of the long-lived table (lakehouse only)."""
    c = res["checks"]
    if "walks" not in c:
        return {}
    timed_passes = {p["pass"] for p in timed(res)}
    lake_ops = [o for o in res["ops"] if o["pass"] in timed_passes and o["kind"] != "query"]
    per = collections.defaultdict(lambda: collections.defaultdict(float))
    for o in lake_ops:
        per[o["pass"]][o["kind"]] += o["ms"] / 1e3
    prune = [o for o in lake_ops if "files_all" in o]
    walks = c["walks"]  # one listing after each pass, then one before the final vacuum
    written = [stats.new_files(walks[p - 1], walks[p]) for p in sorted(timed_passes)
               if p < len(walks)]
    versions = collections.defaultdict(list)
    for o in res["ops"]:
        if "version" in o:
            versions[o["pass"]].append(o["version"])
    commits = [versions[p][-1] - versions[p - 1][-1] for p in sorted(timed_passes)]
    return {
        "sources.steady_read_s": stats.median([per[p]["read"] for p in timed_passes]),
        "sources.steady_write_s": stats.median([per[p]["write"] for p in timed_passes]),
        "sources.files_kept_ratio": (sum(o["files_kept"] for o in prune) /
                                     max(1, sum(o["files_all"] for o in prune))),
        "sources.commits": stats.median(commits),
        "sources.files_written": stats.median([n for n, _ in written]) if written else 0,
        "sources.bytes_written": stats.median([b for _, b in written]) if written else 0,
        "sources.live_files": c["live_files"],
        "sources.compact_ms": c["compact_ms"], "sources.vacuum_ms": c["vacuum_ms"],
        "sources.write_amp": stats.write_amp(walks, c["plain_submitted_bytes"]),
        "sources.space_amp": stats.space_amp(c["table_after_vacuum"], c["plain_live_bytes"]),
    }


def layer_rows(res, per_op, timed_passes):
    """One row per operation name: medians over the timed passes."""
    names = []
    for o in res["ops"]:
        if o["name"] not in names:
            names.append(o["name"])
    rows = []
    for n in names:
        ids = [o["id"] for o in res["ops"] if o["name"] == n and o["pass"] in timed_passes]
        recs = [o for o in res["ops"] if o["id"] in ids]

        def med(key, src=None):
            xs = [(per_op[i].get(key, 0.0) if src is None else src[i][key]) for i in ids]
            return stats.median(xs) if xs else 0.0
        rec_by_id = {o["id"]: o for o in recs}
        rows.append({"op": n, "ms": med("ms", rec_by_id), "build": med("span.build"),
                     "plan": med("analysis_ms") + med("optimize_ms") + med("physical_ms"),
                     "codegen": med("codegen_compiles", rec_by_id), "jobs": med("jobs"),
                     "tasks": med("tasks"), "gap": med("driver_gap_ms"),
                     "self": med("self_ms")})
    return rows


def layer_table(rows):
    cols = ["op", "ms", "build", "plan", "codegen", "jobs", "tasks", "gap", "self"]
    head = (f"{'operation':<20}{'ms':>9}{'build':>9}{'plan':>9}{'codegen':>9}"
            f"{'jobs':>7}{'tasks':>7}{'gap ms':>9}{'self ms':>9}")
    lines = ["per-operation layers, medians over timed passes "
             "(plan = analysis+optimize+physical ms; gap = execution not covered by jobs)",
             head]
    for r in rows:
        lines.append(f"{r['op']:<20}" + "".join(
            f"{r[c]:>9.1f}" if c not in ("jobs", "tasks") else f"{r[c]:>7.0f}"
            for c in cols[1:]))
    return "\n".join(lines)
