"""Seeded input generator for the benchmark.

Writes the engine's scale-dir layout (one `<table>.parquet` per table, the
same column names and types as the corpus TESTDATA.md describes) from a
seed, so that the
same seed always gives the same inputs and the program receives nothing
else.

Two profiles:

* `pipe` (pipeline_dashboard): lineitem, events and part.
  Every lineitem cleaning rule gets a seed-placed, known number of rows
  that fail it (and pass every earlier rule, so the sequential attribution
  is exact), and events get rows with a NULL critical column. The known
  counts land in `expected.json` next to the tables.
* `mix` (operator_mix): all ten tables at a small fixed scale. The corpus
  does not depend on the seed (the seed only orders the queries), so the
  recorded result hashes in `expected_operator_mix.json` stay valid.

Usage: python3 gen.py <profile> <seed> <out_dir>
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Cleaning rules in Analytics.cleaningRules order; the accounting counts a
# row against the FIRST rule it fails.
RULES = ["nulls", "quantity", "price_pos", "price_cap", "discount"]
LINEITEM_CRITICAL = ["l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"]
EVENT_CRITICAL = ["ts", "user_id", "event_type", "value"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the row sort query filter hash key group agg join scan batch order "
         "value window fast vector small big slow spark line column part table "
         "merge stream data customer").split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
PART_ADJ = ["blue", "red", "hot", "new", "large", "small", "green", "old"]
PART_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

# Table sizes per profile. `pipe` spreads its lineitem rows over a year of
# ship dates: the clean lineitem store has one file per date, so a pass
# writes and reads back ~400 files (sf0.1 spans 2,499 dates; at that span
# a run does not fit the benchmark's time budget, see README.md). `mix` is
# sf0.001-sized because the registry operators it feeds are dominated by
# fixed per-query cost, not by rows.
SIZES = {
    "pipe": dict(part=2000, lineitem=40_000, ship_days=365, events=40_000,
                 event_days=30, users=1500),
    "mix": dict(region=5, nation=25, customer=150, supplier=10, part=200,
                orders=1500, lineitem=6000, ship_days=2400, events=1500,
                event_days=30, users=60, documents=500, embeddings=500),
}
MIX_CORPUS_SEED = 20240101


def _write(out_dir, name, cols, schema):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts_days(rng, n, epoch, days):
    return epoch + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _part(rng, out_dir, n):
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, len(PART_ADJ), n), rng.integers(0, len(PART_NOUN), n))]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, len(PART_TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))


def _lineitem(rng, out_dir, n, n_orders, n_parts, n_supp, ship_days, inject):
    """lineitem with `inject[rule]` rows failing exactly that rule."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    # unit price < 2000 keeps every clean row under the 100000 price cap
    price = np.round(qty * rng.uniform(900.0, 1999.9, n), 2)
    disc = rng.integers(0, 11, n) / 100.0
    cols = {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts_days(rng, n, EPOCH_1995, ship_days),
    }
    total = sum(inject.values())
    rows = rng.choice(n, size=total, replace=False)
    masks = {c: np.zeros(n, dtype=bool) for c in LINEITEM_CRITICAL}
    at = 0
    for rule in RULES:
        k = inject[rule]
        idx = rows[at:at + k]
        at += k
        if rule == "nulls":
            which = rng.integers(0, len(LINEITEM_CRITICAL), k)
            for i, w in zip(idx, which):
                masks[LINEITEM_CRITICAL[w]][i] = True
        elif rule == "quantity":
            qty[idx] = -rng.integers(0, 5, k).astype(np.float64)
        elif rule == "price_pos":
            price[idx] = -np.round(rng.uniform(0.0, 500.0, k), 2)
        elif rule == "price_cap":
            price[idx] = np.round(rng.uniform(100_000.01, 150_000.0, k), 2)
        elif rule == "discount":
            disc[idx] = np.where(rng.integers(0, 2, k) == 0, -0.05, 1.25)
    schema = pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))])
    _write(out_dir, "lineitem", {
        f.name: pa.array(cols[f.name], f.type, mask=masks.get(f.name)) for f in schema
    }, schema)


def _events(rng, out_dir, n, days, users, n_null):
    ts = np.sort(EPOCH_2024 + rng.integers(0, days * US_PER_DAY, n).astype("timedelta64[us]"))
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }
    masks = {c: np.zeros(n, dtype=bool) for c in EVENT_CRITICAL}
    if n_null:
        rows = rng.choice(n, size=n_null, replace=False)
        for i, w in zip(rows, rng.integers(0, len(EVENT_CRITICAL), n_null)):
            masks[EVENT_CRITICAL[w]][i] = True
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    _write(out_dir, "events", {
        f.name: pa.array(cols[f.name], f.type, mask=masks.get(f.name)) for f in schema
    }, schema)


def _dims(rng, out_dir, s):
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))
    nc = s["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    ns = s["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    no = s["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _ts_days(rng, no, EPOCH_1995, s["ship_days"]),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))


def _documents(rng, out_dir, n):
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(8, 100)))
             for _ in range(n)]
    # near-duplicates: a few documents copy an earlier one with one word changed
    for i in rng.choice(np.arange(n // 2, n), size=max(2, n // 60), replace=False):
        words = texts[int(rng.integers(0, n // 2))].split()
        words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(words)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))


def _embeddings(rng, out_dir, n, dim=64, clusters=10):
    centers = rng.normal(size=(clusters, dim))
    labels = rng.integers(0, clusters, n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


def generate(profile, seed, out_dir):
    """Write the profile's tables into `out_dir`; return the known counts."""
    os.makedirs(out_dir, exist_ok=True)
    s = SIZES[profile]
    if profile == "mix":
        rng = np.random.default_rng(MIX_CORPUS_SEED)
        _dims(rng, out_dir, s)
        _part(rng, out_dir, s["part"])
        none = {r: 0 for r in RULES}
        _lineitem(rng, out_dir, s["lineitem"], s["orders"], s["part"], s["supplier"],
                  s["ship_days"], none)
        _events(rng, out_dir, s["events"], s["event_days"], s["users"], 0)
        _documents(rng, out_dir, s["documents"])
        _embeddings(rng, out_dir, s["embeddings"])
        expected = {}
    else:
        rng = np.random.default_rng(seed)
        inject = {r: int(rng.integers(20, 200)) for r in RULES}
        n_null_events = int(rng.integers(20, 200))
        _part(rng, out_dir, s["part"])
        _lineitem(rng, out_dir, s["lineitem"], 15_000, s["part"], 100, s["ship_days"], inject)
        _events(rng, out_dir, s["events"], s["event_days"], s["users"], n_null_events)
        removed = sum(inject.values())
        expected = {
            "accounting": dict(
                {f"removed_{r}": k for r, k in inject.items()},
                rows_in=s["lineitem"], rows_out=s["lineitem"] - removed,
                removed_total=removed),
            "events_rows": s["events"],
            "events_clean_rows": s["events"] - n_null_events,
            "event_days": s["event_days"],
        }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in SIZES:
        sys.exit("usage: gen.py {pipe|mix} <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
