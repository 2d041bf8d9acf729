"""Output checks, each computed apart from the program.

- `MapReduce.wordCount`: a Python word count over the same files with
  the reference tokenizer rule, ordered by count desc then word desc.
- `MapReduce.numberSort`: ascending, and the same multiset as the input.
- `SparkEntry` queries: their DuckDB `oracleSql` over the generated
  tables, compared by `tools/check.py`'s rule (columns by name, rows
  sorted, dtypes and values exactly equal).
- lakehouse_mixed: the same operation stream applied to a DuckDB model
  table; head, time-travel versions and the mat view compared with it,
  every mutation must change rows in the model, and pruned reads must
  equal the full-scan filter.

`check_run` returns a list of failure messages; empty means correct.
"""
import collections
import glob
import json
import os
import re
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check as oracle_check  # noqa: E402  tools/check.py: canon() and eq()


def reference_tokens(line):
    """mapreduce.c's tokenizer: split on ' ', keep ASCII letters, lowercase, drop empties."""
    out = []
    for tok in line.split(" "):
        w = "".join(c for c in tok if ("a" <= c <= "z") or ("A" <= c <= "Z")).lower()
        if w:
            out.append(w)
    return out


def word_count(files):
    """(word, count) pairs ordered by count desc, then word desc."""
    c = collections.Counter()
    for f in files:
        with open(f) as fh:
            for line in fh.read().split("\n"):
                c.update(reference_tokens(line))
    by_word = sorted(c.items(), key=lambda kv: kv[0], reverse=True)
    return sorted(by_word, key=lambda kv: -kv[1])  # stable: ties keep word desc


def read_single_csv(d):
    parts = sorted(glob.glob(os.path.join(d, "part-*.csv")))
    if len(parts) != 1:
        raise ValueError(f"{d}: expected one merged file, found {len(parts)}")
    with open(parts[0]) as fh:
        lines = fh.read().splitlines()
    return lines[0].split(","), [ln.split(",") for ln in lines[1:]]


def check_wordcount(text_dir, out_dir):
    want = word_count(sorted(glob.glob(os.path.join(text_dir, "*.txt"))))
    _, rows = read_single_csv(out_dir)
    got = [(w, int(n)) for w, n in rows]
    if got != want:
        diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
        return [f"wordcount: {len(got)} rows vs {len(want)}; first difference at row {diff}"]
    return []


def check_numbersort(num_dir, out_dir):
    nums = []
    for f in sorted(glob.glob(os.path.join(num_dir, "*.txt"))):
        with open(f) as fh:
            nums += [int(t) for t in fh.read().split()]
    _, rows = read_single_csv(out_dir)
    got = [int(r[0]) for r in rows]
    fails = []
    if any(a > b for a, b in zip(got, got[1:])):
        fails.append("numbersort: output is not ascending")
    if collections.Counter(got) != collections.Counter(nums):
        fails.append(f"numbersort: output multiset differs from input ({len(got)} vs {len(nums)})")
    return fails


# ---- tools/check.py's comparison rule ----

def _rows(df):
    return [tuple(r) for r in df.itertuples(index=False, name=None)]


def _types(df):
    def n(t):
        m = re.match(r"datetime64\[(?:ms|us|ns)(?:, (.+))?\]$", str(t))
        return ("datetime64" + (f"[{m.group(1)}]" if m.group(1) else "")) if m else str(t)
    return {c: n(t) for c, t in df.dtypes.items()}


def compare_frames(name, got_df, want_df):
    """tools/check.py's rule on two pandas frames; returns failure messages."""
    g, gc = oracle_check.canon(_rows(got_df), list(got_df.columns))
    w, wc = oracle_check.canon(_rows(want_df), list(want_df.columns))
    if gc != wc:
        return [f"{name}: columns {gc} vs {wc}"]
    gt, wt = _types(got_df), _types(want_df)
    if gt != wt:
        return [f"{name}: dtypes differ " +
                str({c: (gt.get(c), wt.get(c)) for c in gt if gt.get(c) != wt.get(c)})]
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows vs {len(w)}"]
    for i, (gr, wr) in enumerate(zip(g, w)):
        for j, (a, b) in enumerate(zip(gr, wr)):
            if not oracle_check.eq(a, b):
                return [f"{name}: first difference row {i} column {gc[j]}: {a!r} vs {b!r}"]
    return []


def tables_db(tables_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in oracle_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def check_queries(con, checks, out_dir):
    fails = []
    for q in checks["queries"]:
        got = pq.read_table(os.path.join(out_dir, "check", "q", q)).to_pandas(date_as_object=False)
        want = con.execute(checks["oracle_sql"][q]).df()
        fails += compare_frames(q, got, want)
    return fails


# ---- lakehouse model ----

def _apply(con, op):
    """Applies one stream operation to the model; returns rows it changed
    (None for operations that change no rows)."""
    k = op["op"]
    if k == "append":
        return con.execute(f"INSERT INTO model SELECT * FROM '{op['file']}'").fetchone()[0]
    if k == "upsert":
        n_old = con.execute(f"DELETE FROM model WHERE k IN (SELECT k FROM '{op['file']}')"
                            ).fetchone()[0]
        n_new = con.execute(f"INSERT INTO model SELECT * FROM '{op['file']}'").fetchone()[0]
        return n_old + n_new
    if k in ("delete", "delete_mor"):
        return con.execute(f"DELETE FROM model WHERE {op['where']}").fetchone()[0]
    if k in ("update_mor", "sql_update"):
        sets = ", ".join(f"{c} = {e}" for c, e in op["set"].items())
        return con.execute(f"UPDATE model SET {sets} WHERE {op['where']}").fetchone()[0]
    return None


def _same_rows(con, a, b):
    """Multiset equality of two relations (SQL text) over the same columns."""
    n = con.execute(f"SELECT (SELECT count(*) FROM ({a})), (SELECT count(*) FROM ({b}))").fetchone()
    if n[0] != n[1]:
        return f"{n[0]} rows vs {n[1]}"
    d = con.execute(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
    d += con.execute(f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))").fetchone()[0]
    return f"{d} rows differ" if d else None


def _cols(con, rel):
    names = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
    return ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if c == "l_shipdate" else c
                     for c in sorted(names))


def check_lake(con, spec, checks, out_dir, in_dir):
    fails = []
    con.execute(f"CREATE TABLE model AS SELECT * FROM '{in_dir}/lake_base.parquet'")
    log = checks["log"]
    travel = {(t["pass"], t["idx"]): t["version"] for t in checks["travel"]}
    n_pass = max(r["pass"] for r in log) + 1
    cols = _cols(con, "model")
    for p in range(n_pass):
        for i, op in enumerate(spec["lake_passes"][p]):
            n = _apply(con, op)
            if n is not None and n <= 0:
                fails.append(f"lake pass {p} op {i} {op['op']}: changed no rows in the model")
            if (p, i) in travel:
                v = travel[(p, i)]
                con.execute(f"CREATE TABLE travel_{v} AS SELECT * FROM model")
    chk = os.path.join(out_dir, "check")

    def spark_rel(name):
        return f"read_parquet('{chk}/{name}/*.parquet')"
    for name, model in [("lake_head", "model")] + [(f"travel_{v}", f"travel_{v}")
                                                   for v in travel.values()]:
        bad = _same_rows(con, f"SELECT {_cols(con, spark_rel(name))} FROM {spark_rel(name)}",
                         f"SELECT {cols} FROM {model}")
        if bad:
            fails.append(f"lake {name}: {bad}")
    view = ("SELECT l_linestatus, l_returnflag, count(*) AS mv_count, "
            "sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS mv_sum_l_extendedprice, "
            "sum(CAST(l_quantity AS DECIMAL(28,4))) AS mv_sum_l_quantity "
            "FROM model GROUP BY ALL")
    got = (f"SELECT l_linestatus, l_returnflag, mv_count, mv_sum_l_extendedprice, "
           f"mv_sum_l_quantity FROM {spark_rel('lake_view')}")
    bad = _same_rows(con, got, view)
    if bad:
        fails.append(f"lake mat view vs recomputed aggregate: {bad}")
    for pr in checks["pruned_vs_full"]:
        if not pr["equal"] or pr["rows"] <= 0:
            fails.append(f"lake {pr['op']}: pruned read differs from the full-scan filter "
                         f"({pr['rows']} rows)")
    return fails


def check_run(workload, res, in_dir, out_dir):
    with open(os.path.join(in_dir, "spec.json")) as fh:
        spec = json.load(fh)
    checks = res["checks"]
    con = tables_db(os.path.join(in_dir, "tables"))
    fails = []
    if workload == "mr_olap":
        fails += check_queries(con, checks, out_dir)
        fails += check_wordcount(os.path.join(in_dir, "text"),
                                 os.path.join(out_dir, "check", "wordcount"))
        fails += check_numbersort(os.path.join(in_dir, "numbers"),
                                  os.path.join(out_dir, "check", "numbersort"))
    if workload == "lakehouse_mixed":
        fails += check_lake(con, spec, checks, out_dir, in_dir)
    return fails
