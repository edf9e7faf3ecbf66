"""Deterministic inputs for the benchmark.

`generate` writes the ten tables the registry reads (TPC-H-shaped star
plus the events, documents and embeddings feeds) as one parquet file
each, with the column names, types and value distributions of the
project's test lake. Sizes scale with `sf`; the same (sf, seed) always
gives the same bytes.

`write_bronze` turns a lake's events and a sample of its line items
(with their orders' date and priority) into `|`-delimited bronze CSV
cuts for the medallion pipeline.
The seed picks where the initial cut ends and which rows are corrupted,
and the returned manifest records, per cut and table, the rows written
and the rows corrupted for each quarantine reason.

Usage: python3 perfbench/gen_data.py <out_dir> <sf> [seed]
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
US_PER_DAY = 86_400_000_000


def _days(start, n_days, k, rng):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, k).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, k):
    return np.round(rng.uniform(lo, hi, k), 2)


def tables(sf, seed=42):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({"r_regionkey": pa.array(range(5), i32),
                              "r_name": REGIONS})
    yield "nation", pa.table({"n_nationkey": pa.array(range(25), i32),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", 2405, n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", 2499, n_li, rng)})
    # events: a time-ordered 30-day feed; exponential values (mean 50)
    # put a thin tail above the 450 quality bound.
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word strings; one in twenty is a near-duplicate
    # (another document's text plus a trailing " dup").
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)])
             for n in rng.integers(10, 100, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: unit vectors around ten weak class centroids.
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.15 * centers[labels] + rng.normal(0, 0.125, (n_vec, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def generate(out_dir, sf, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


# Share of each table's rows corrupted for each of its quarantine reasons.
CORRUPT_SHARE = 0.004
# The pipeline's bronze sales keep the line items of one order in ORDER_SAMPLE.
ORDER_SAMPLE = 10
# Incremental bronze cuts after the initial one; a run loads one per pass.
INCREMENTAL_CUTS = 10


def _as_text(tbl):
    """Renders every column as text the way a CSV extract would."""
    out = {}
    for name in tbl.column_names:
        c = tbl[name].combine_chunks()
        if pa.types.is_timestamp(c.type):
            c = pc.strftime(c, format="%Y-%m-%d %H:%M:%S")
        out[name] = pc.cast(c, pa.string())
    return out


def _corrupt(cols, reasons, rng):
    """Corrupts disjoint random row sets, one per reason, in place."""
    n = len(next(iter(cols.values())))
    k = int(n * CORRUPT_SHARE)
    picked = rng.permutation(n)[:k * len(reasons)]
    counts = {}
    for i, (reason, col, bad) in enumerate(reasons):
        mask = np.zeros(n, dtype=bool)
        mask[picked[i * k:(i + 1) * k]] = True
        cols[col] = pc.if_else(pa.array(mask), bad(cols[col]), cols[col])
        counts[reason] = k
    return counts


def _const(text):
    return lambda c: pa.scalar(text, pa.string())


def _negated(c):
    """'-1' prefixed to the number: below zero even for a zero value."""
    return pc.binary_join_element_wise("-1", c, "")


def _write_csv(path, cols):
    lines = pc.binary_join_element_wise(*[pc.fill_null(c, "") for c in cols.values()], "|")
    with open(path, "w") as f:
        f.write("\n".join(lines.to_pylist()))
        f.write("\n")


def write_bronze(lake_dir, out_dir, seed):
    rng = np.random.default_rng(seed)
    ev = pq.read_table(os.path.join(lake_dir, "events.parquet"))
    # Sales: every ORDER_SAMPLE-th order's line items, each carrying its
    # order's date and priority, as an order-entry extract would.
    orders = pq.read_table(os.path.join(lake_dir, "orders.parquet"))
    li = pq.read_table(os.path.join(lake_dir, "lineitem.parquet"))
    keep = li["l_orderkey"].to_numpy() % ORDER_SAMPLE == 0
    li = li.filter(pa.array(keep))
    okeys = li["l_orderkey"].to_numpy()
    for c in ("o_orderdate", "o_orderpriority"):
        li = li.append_column(c, orders[c].take(pa.array(okeys)))
    # An initial cut and INCREMENTAL_CUTS incremental ones, on day
    # boundaries: events over their 30 days (two days per increment),
    # sales over their order dates. The seed sets where the initial
    # cut ends.
    ev_day = (ev["ts"].to_numpy().astype("datetime64[D]") - np.datetime64("2024-01-01")).astype(int)
    first = int(rng.integers(8, 11))
    ev_cut = np.where(ev_day < first, 0, 1 + (ev_day - first) // 2)
    o_day = (li["o_orderdate"].to_numpy().astype("datetime64[D]")
             - np.datetime64("1995-01-01")).astype(int)
    first = int(rng.integers(700, 900))
    span = o_day.max() + 1 - first
    li_cut = np.where(o_day < first, 0, 1 + (o_day - first) * INCREMENTAL_CUTS // span)
    shutil.rmtree(out_dir, ignore_errors=True)
    manifest = {"seed": seed, "cuts": {}}
    for cut in range(1 + INCREMENTAL_CUTS):
        d = os.path.join(out_dir, f"cut={cut}")
        os.makedirs(d)
        entry = {}
        for name, tbl, mask, reasons in [
            ("events", ev, ev_cut == cut, [
                ("MISSING_ID", "user_id", _const(None)),
                ("BAD_TIMESTAMP", "ts", _const("2024-13-45 99:99:99")),
                ("BAD_TYPE", "event_type", _const("unknown")),
                ("BAD_VALUE", "value", _const("n/a")),
                ("NEG_VALUE", "value", _negated)]),
            ("sales", li, li_cut == cut, [
                ("MISSING_ORDERKEY", "l_orderkey", _const(None)),
                ("BAD_QUANTITY", "l_quantity", _negated),
                ("BAD_DISCOUNT", "l_discount", _const("0.5")),
                ("BAD_SHIPDATE", "l_shipdate", _const("not-a-date"))])]:
            cols = _as_text(tbl.filter(pa.array(mask)))
            counts = _corrupt(cols, reasons, rng)
            _write_csv(os.path.join(d, f"{name}.csv"), cols)
            entry[name] = {"rows": int(mask.sum()), "reasons": counts}
        manifest["cuts"][str(cut)] = entry
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
