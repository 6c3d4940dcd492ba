"""Seeded input generator for the benchmark.

Every table is synthesized from the seed alone, with the column names,
types and value domains of graft's star schema (TESTDATA.md): region,
nation, customer, supplier, part, orders, lineitem, events, documents
and embeddings, plus `stream_events.parquet`, the arrival schedule the
`stream_load` workload replays. Each table is written as one parquet
file with one row group, so the generator never changes scan
parallelism. The same seed gives byte-identical files.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01-shaped row counts (TESTDATA.md): the largest scale whose runs
# fit the per-run time budget; see README.md "Sizing".
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
# stream_load schedule: a backlog offered at once, up to `bursts`
# bursts offered at once, then `rate_seconds` of open-loop Poisson
# arrivals at `rate_eps`, a rate low enough to keep the streaming
# queries far from saturation (README.md, "Workloads").
STREAM = {"backlog": 500, "bursts": 8, "burst": 500, "rate_eps": 10.0,
          "rate_seconds": 16.0, "span_hours": 3.0}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "cold"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EMB_DIM = 64
EMB_LABELS = 10
DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000      # 1995-01-01
ORDER_DAYS = 2404                         # through 2001-08-01
EVENT_EPOCH_US = 1_704_067_200_000_000    # 2024-01-01
STREAM_EPOCH_US = 1_706_745_600_000_000   # 2024-02-01


def near_dup_share(seed):
    """Share of documents that are near-duplicates of an earlier one:
    set by the seed, between 4 and 6 percent, around the 4.9 percent
    measured on the sf0.1 test corpus (README.md, "Inputs")."""
    return 0.04 + 0.02 * np.random.default_rng([seed, 7]).random()


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed):
    """All input tables for `seed`, as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    retail = np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": retail})
    odate = ORDER_EPOCH_US + rng.integers(0, ORDER_DAYS, n["orders"]) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])]})
    lo = rng.integers(0, n["orders"], n["lineitem"])
    lp = rng.integers(0, n["part"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(lp, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lp], 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n["lineitem"])],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n["lineitem"])],
        "l_shipdate": _ts(odate[lo] + rng.integers(1, 122, n["lineitem"]) * DAY_US)})
    out["events"] = _events(rng, n["events"], EVENT_EPOCH_US, 30 * DAY_US)
    out["documents"] = _documents(rng, n["documents"], near_dup_share(seed))
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    out["stream_events"] = _stream_schedule(rng)
    return out


def _events(rng, count, start_us, span_us):
    ts = np.sort(start_us + rng.integers(0, span_us, count))
    return pa.table({
        "event_id": pa.array(range(count), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, count), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, count)],
        "value": np.round(rng.exponential(50.0, count), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, count)]})


def _near_dup(rng, text):
    """One edit of `text`, each kind equally likely: a word inserted or
    a word deleted (the near-duplicates of the test corpus), or the case
    and spacing changed, which `dedup_exact_hash` collapses."""
    words = text.split(" ")
    kind = int(rng.integers(0, 3))
    if kind == 2:
        at = int(rng.integers(1, len(words)))
        return " ".join(words[:at]).upper() + (" \n " if at % 2 else "  ") + " ".join(words[at:])
    if kind == 1 and len(words) > 10:
        del words[int(rng.integers(0, len(words)))]
    else:
        words.insert(int(rng.integers(0, len(words) + 1)), WORDS[int(rng.integers(0, len(WORDS)))])
    return " ".join(words)


def _documents(rng, count, dup_share):
    """Space-separated words drawn from the test corpus's 31-word
    vocabulary, 10 to 99 words a document, as in the test corpus; a
    `dup_share` of them are near-duplicates of an earlier one."""
    texts = []
    for i in range(count):
        if i > 0 and rng.random() < dup_share:
            texts.append(_near_dup(rng, texts[int(rng.integers(0, i))]))
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(range(count), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, count, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(count)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, count):
    centers = rng.normal(0.0, 0.14, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, count)
    x = centers[labels] + rng.normal(0.0, 0.12, (count, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(count), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _stream_schedule(rng):
    """The stream_load replay, in event order. `cycle` is 0 for the
    backlog, 1..bursts for the bursts and bursts+1 for the rate phase;
    `due_s` is -1 for items offered at once and otherwise the arrival
    offset from the start of the rate phase. Event time spans
    `span_hours`, inside the 2-hour watermark plus state horizon of the
    streaming dedup, so every streamed result has an exact batch twin."""
    s = STREAM
    sizes = [s["backlog"]] + [s["burst"]] * s["bursts"]
    cycle = [np.full(n, c, np.int32) for c, n in enumerate(sizes)]
    due = [np.full(n, -1.0) for n in sizes]
    arrivals = np.cumsum(rng.exponential(1.0 / s["rate_eps"],
                                         int(s["rate_eps"] * s["rate_seconds"] * 2)))
    arrivals = arrivals[arrivals < s["rate_seconds"]]
    cycle.append(np.full(len(arrivals), len(sizes), np.int32))
    due.append(arrivals)
    cycle, due = np.concatenate(cycle), np.concatenate(due)
    ev = _events(rng, len(cycle), STREAM_EPOCH_US, int(s["span_hours"] * 3600e6))
    return (ev.append_column("cycle", pa.array(cycle, pa.int32()))
              .append_column("due_s", pa.array(due, pa.float64())))


def write(seed, out_dir):
    """Write every table for `seed` under `out_dir`; return a manifest
    of row counts and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "near_dup_share": round(near_dup_share(seed), 4),
                "tables": {}}
    for name, t in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows),
                       compression="snappy")
        manifest["tables"][name] = {"rows": t.num_rows,
                                    "bytes": os.path.getsize(path)}
    return manifest


def digest(out_dir):
    """SHA-256 over every generated file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    import sys
    print(json.dumps(write(int(sys.argv[1]), sys.argv[2])))
