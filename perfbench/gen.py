"""Seeded input generator.

Everything a run feeds the program is made here from `--seed`: the
star-schema tables (the TESTDATA.md schema, one parquet file each),
the word-count text files, the number-sort integer files, and the
lakehouse operation stream with its row batches. The same seed gives
byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated star schema (TESTDATA.md's sf0.01 shape).
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)
TEXT_FILES, TEXT_LINES, NUM_FILES, NUMS_PER_FILE = 8, 800, 8, 10000
# Lakehouse stream: rows per append / upsert batch and keys per mutation.
LAKE_BASE, LAKE_PASSES, LAKE_APPEND, LAKE_UPSERT, LAKE_MUT = 20000, 40, 500, 200, 100

WORDS = ("a the data spark query table join scan filter group order sort "
         "merge hash key value row column batch stream window line part "
         "customer fast slow big small agg vector").split()
VOCAB = 2000
# Suffixes the reference tokenizer strips entirely, so each token
# counts toward its vocabulary word.
PUNCT = ["", "", "", ".", ",", "!", "'", "-7"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _ts(days_or_us, unit="D"):
    base = EPOCH_1995 if unit == "D" else np.datetime64("2024-01-01", "us")
    step = DAY_US if unit == "D" else 1
    return pa.array(base + (np.asarray(days_or_us, dtype=np.int64) * step),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng):
    n = SIZES
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    adj = ["small", "red", "hot", "old", "blue", "big", "green", "cold"]
    noun = ["ring", "widget", "plate", "rod", "anvil", "gear", "pipe", "bolt"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                             n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _ts(rng.integers(0, 2404, n["orders"])),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n["orders"])})
    t["lineitem"] = lineitem_rows(rng, n["lineitem"])
    t["events"] = pa.table({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(0, 30 * DAY_US, n["events"])), unit="us"),
        "user_id": rng.integers(0, 150, n["events"]),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n["events"]),
        "value": _money(rng, 0.01, 490, n["events"]),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]})
    docs = []
    for i in range(n["documents"]):
        if i >= 20 and rng.random() < 0.15:  # near-duplicates for the dedup kernels
            words = docs[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        docs.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64), "text": docs,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n["documents"]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64)})
    labels = rng.integers(0, 10, n["embeddings"])
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] + rng.normal(0, 0.6, (n["embeddings"], 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def lineitem_rows(rng, n, key0=None):
    cols = {
        "l_orderkey": rng.integers(0, SIZES["orders"], n),
        "l_partkey": rng.integers(0, SIZES["part"], n),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(rng.integers(1, 2500, n))}
    if key0 is not None:
        cols = {"k": np.arange(key0, key0 + n, dtype=np.int64), **cols}
    return pa.table(cols)


def letter_words(n):
    """The first `n` words of bijective base 26: a..z, aa..zz, aaa, ...
    Letters only, so each survives the tokenizer as itself, and many are
    prefixes of others."""
    out = []
    for i in range(1, n + 1):
        w = ""
        while i:
            i, r = divmod(i - 1, 26)
            w = chr(ord("a") + r) + w
        out.append(w)
    return out


def text_files(rng, out):
    """Zipf-distributed words over a letter-only vocabulary, with
    punctuation and mixed case, so the reference tokenizer's
    strip-and-lowercase rule is exercised."""
    os.makedirs(out)
    vocab = letter_words(VOCAB)
    words = [vocab[i] for i in rng.permutation(VOCAB)]  # rank -> word
    for f in range(TEXT_FILES):
        ranks = np.minimum(rng.zipf(1.3, TEXT_LINES * 12), VOCAB) - 1
        punct = rng.integers(0, len(PUNCT), ranks.size)
        upper = rng.random(ranks.size) < 0.1
        toks = [(words[r].upper() if u else words[r]) + PUNCT[p]
                for r, p, u in zip(ranks, punct, upper)]
        with open(os.path.join(out, f"part-{f:02d}.txt"), "w") as fh:
            for i in range(TEXT_LINES):
                fh.write(" ".join(toks[i * 12:(i + 1) * 12]) + "\n")


def number_files(rng, out):
    os.makedirs(out)
    for f in range(NUM_FILES):
        nums = rng.integers(-1_000_000, 1_000_000, NUMS_PER_FILE)
        with open(os.path.join(out, f"part-{f:02d}.txt"), "w") as fh:
            for i in range(0, nums.size, 10):
                fh.write(" ".join(map(str, nums[i:i + 10])) + "\n")


def lake_stream(rng, out, base_rows):
    """The long-lived table's operation stream: one batch of mutations
    and reads per pass. Keys are dense and ascending, deletes walk the
    oldest live keys, upserts hit recent keys plus new ones, so the table
    keeps a near-steady size and every mutation matches rows. Every
    pass holds the same operations; the compaction and vacuum run once,
    after the timed passes."""
    os.makedirs(out)
    next_key, low = base_rows, 0
    passes = []
    for p in range(LAKE_PASSES):
        app = os.path.join(out, f"append-{p:03d}.parquet")
        pq.write_table(lineitem_rows(rng, LAKE_APPEND, next_key), app)
        next_key += LAKE_APPEND

        def span(lo):
            return f"k >= {lo} AND k < {lo + LAKE_MUT}"
        cow, mor = span(low), span(low + LAKE_MUT)
        low += 2 * LAKE_MUT
        live_hi = next_key - LAKE_APPEND
        upd_lo = int(rng.integers(low + LAKE_MUT, live_hi - 4 * LAKE_MUT))
        ups = lineitem_rows(rng, LAKE_UPSERT, 0)
        # corrections to this pass's appended rows plus new rows, so an
        # upsert touches the recent files only
        old = rng.choice(np.arange(live_hi, live_hi + LAKE_APPEND), LAKE_UPSERT // 2, replace=False)
        new = np.arange(next_key, next_key + LAKE_UPSERT - old.size)
        next_key += new.size
        ups = ups.set_column(0, "k", pa.array(np.concatenate([old, new]).astype(np.int64)))
        upsert = os.path.join(out, f"upsert-{p:03d}.parquet")
        pq.write_table(ups, upsert)
        rlo = int(rng.integers(low, live_hi - 1000))
        points = sorted(int(x) for x in rng.choice(np.arange(low + 4 * LAKE_MUT, live_hi), 8,
                                                  replace=False))
        passes.append([
            {"op": "append", "file": app},
            {"op": "delete", "where": cow},
            {"op": "delete_mor", "where": mor},
            {"op": "update_mor", "where": span(upd_lo), "set": {"l_tax": "l_tax + 0.5"}},
            {"op": "upsert", "file": upsert},
            {"op": "sql_update", "where": span(upd_lo + LAKE_MUT),
             "set": {"l_quantity": "l_quantity + 1"}},
            {"op": "range_read", "col": "k", "lo": rlo, "hi": rlo + 999},
            {"op": "point_read", "col": "k", "values": points},
            {"op": "time_travel", "back": 3},
            {"op": "mv_refresh"},
        ])
    return passes


def generate(seed, out, workload):
    rng = np.random.default_rng(seed)
    tables = star_tables(rng)
    os.makedirs(os.path.join(out, "tables"))
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, "tables", f"{name}.parquet"))
    spec = {"seed": seed, "workload": workload}
    if workload == "mr_olap":
        text_files(rng, os.path.join(out, "text"))
        number_files(rng, os.path.join(out, "numbers"))
    if workload == "lakehouse_mixed":
        base = lineitem_rows(rng, LAKE_BASE, 0)
        pq.write_table(base, os.path.join(out, "lake_base.parquet"))
        spec["lake_passes"] = lake_stream(rng, os.path.join(out, "lake_stream"), base.num_rows)
    with open(os.path.join(out, "spec.json"), "w") as fh:
        json.dump(spec, fh)
    return spec
