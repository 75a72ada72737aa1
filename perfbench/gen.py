"""Seeded input generator for the benchmark workloads.

The same seed always gives byte-identical files. The engine only ever sees
these files: every table a workload reads is written here first.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY0 = np.datetime64("1992-01-01")

# The interactive tables have the sf0.01 shape.
TPCH_SIZES = dict(customers=1500, orders=15000, lines_per_order=4, parts=2000)

# The graph the interactive graph ETs run on: a complete core and layers
# around it, each node linked to `links` random nodes of the layer inside
# it. A (links+1)-core peel strips one layer per round, so the number of
# rounds is the same for every seed.
GRAPH = dict(core=8, layers=1, layer_size=16, links=3)

# Streaming: event time advances file_span_s seconds per file. Out-of-order
# rows trail their file's start by at most jitter_s, well inside the
# watermark delay; late rows sit so far behind the watermark (delay_s, with
# windows of window_s) that their window has closed whichever watermark the
# engine checks, so the late set is unambiguous.
STREAM = dict(rows_per_file=2000, file_span_s=10, window_s=10, delay_s=20,
              jitter_s=8, late_share=0.03, warmup_files=2)


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write_table(out_dir, name, table):
    d = os.path.join(out_dir, name)
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"), compression="snappy")
    return {"rows": table.num_rows, "bytes": _dir_bytes(d), "files": 1}


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in sorted(os.listdir(d)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed, customers, orders, lines_per_order, parts):
    """TPC-H-shaped region/nation/customer/orders/lineitem. Key ranges start
    at a seeded offset, so two seeds share no keys."""
    rng = _rng(seed, 1)
    key0 = int(_rng(seed, 0).integers(1, 1000)) * 1000
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    ckeys = key0 + np.arange(customers, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ckeys,
        "c_name": [f"Customer#{k:09d}" for k in ckeys],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, customers)]})
    okeys = key0 * 4 + np.arange(orders, dtype=np.int64) * 4
    odate = DAY0 + rng.integers(0, 2400, orders).astype("timedelta64[D]")
    orders_t = pa.table({
        "o_orderkey": okeys,
        "o_custkey": ckeys[rng.integers(0, customers, orders)],
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": _money(rng, 900, 500000, orders),
        "o_orderdate": pa.array(odate, pa.date32()),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, orders)]})
    nlines = rng.integers(1, 2 * lines_per_order, orders)
    l_ok = np.repeat(okeys, nlines)
    n = len(l_ok)
    l_line = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    ship = np.repeat(odate, nlines) + rng.integers(1, 120, n).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(1, parts + 1, n).astype(np.int64),
        "l_suppkey": rng.integers(1, max(parts // 20, 2) + 1, n).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.date32())})
    return {"region": region, "nation": nation, "customer": customer, "orders": orders_t,
            "lineitem": lineitem}


def graph_edges(seed, core, layers, layer_size, links):
    """Directed edges (a, b): no self-loops, no duplicates, each edge's
    direction drawn at random."""
    rng = _rng(seed, 5)
    key0 = int(_rng(seed, 0).integers(1, 1000)) * 1000
    pairs = [(i, j) for i in range(core) for j in range(i + 1, core)]
    inner = list(range(core))
    for k in range(layers):
        layer = list(range(core + k * layer_size, core + (k + 1) * layer_size))
        for i in layer:
            pairs += [(i, int(j)) for j in rng.choice(inner, size=links, replace=False)]
        inner = layer
    flip = rng.random(len(pairs)) < 0.5
    a = np.array([q if f else p for (p, q), f in zip(pairs, flip)], np.int64)
    b = np.array([p if f else q for (p, q), f in zip(pairs, flip)], np.int64)
    return pa.table({"a": key0 + a, "b": key0 + b})


def stream_files(seed, n_files, salt):
    """JSON-lines event files in event-time order, with a seeded share of
    out-of-order rows (inside the watermark delay) and of late rows.

    Late rows first appear in the third file and trail the newest event of
    the files two back by more than the delay plus two windows: the engine
    drops them whether it checks lateness against the watermark of the
    previous micro-batch or of the one before it."""
    s = STREAM
    rng = _rng(seed, salt)
    t0 = 1_700_000_000_000 + int(_rng(seed, 0).integers(0, 10**6)) * 1000
    files, maxes = [], []
    eid = 0
    for k in range(n_files):
        n = s["rows_per_file"]
        base = t0 + k * s["file_span_s"] * 1000
        ts = base + rng.integers(0, s["file_span_s"] * 1000, n)
        jitter = rng.random(n) < 0.2
        ts[jitter] -= rng.integers(0, s["jitter_s"] * 1000, jitter.sum())
        if k >= 2:
            late = rng.random(n) < s["late_share"]
            lag = (s["delay_s"] + 2 * s["window_s"]) * 1000
            ts[late] = max(maxes[:k - 1]) - lag - rng.integers(0, 40_000, late.sum())
        users = rng.integers(1, 500, n)
        amount = rng.integers(1, 1000, n)
        lines = []
        for i in range(n):
            lines.append(json.dumps({
                "event_id": eid, "user_id": int(users[i]),
                "ts": _iso(int(ts[i])), "amount": int(amount[i])}, separators=(",", ":")))
            eid += 1
        files.append("\n".join(lines) + "\n")
        maxes.append(int(ts.max()))
    return files


def _iso(ms):
    t = np.datetime64(ms, "ms")
    return str(t) + "Z"


def generate(workload, seed, out_dir, n_stream_files=0):
    """Write the workload's inputs under out_dir; returns {table: {rows, bytes, files}}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    if workload == "interactive":
        for name, t in tpch_tables(seed, **TPCH_SIZES).items():
            sizes[name] = _write_table(out_dir, name, t)
        sizes["edges"] = _write_table(out_dir, "edges", graph_edges(seed, **GRAPH))
    elif workload == "stream_ingest":
        for d, n, salt in (("staged", n_stream_files, 3), ("warm_staged", STREAM["warmup_files"], 4)):
            os.makedirs(os.path.join(out_dir, d), exist_ok=True)
            for k, text in enumerate(stream_files(seed, n, salt)):
                with open(os.path.join(out_dir, d, f"ev-{k:05d}.json"), "w") as f:
                    f.write(text)
            sizes[d] = {"rows": n * STREAM["rows_per_file"],
                        "bytes": _dir_bytes(os.path.join(out_dir, d)), "files": n}
    else:
        raise ValueError(f"unknown workload {workload}")
    return sizes
