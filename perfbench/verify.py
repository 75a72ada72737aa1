"""Correctness checks: every op's collected result against a DuckDB replay
over the same generated inputs.

Results compare the way tools/check.py compares them: columns sorted by
name, rows sorted, floats rounded to nine decimals.
"""
import os

import duckdb

import workloads


def _cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, int) and abs(v) >= 2 ** 53:
        return v
    try:
        return round(float(v), 9)
    except (TypeError, ValueError):
        return str(v)


def canon(columns, rows):
    """Order-free form of a table: sorted column names, sorted rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)
    return [columns[i] for i in order], body


def _duck(con, sql):
    rel = con.sql(sql)
    return canon(rel.columns, rel.fetchall())


def _diff(got, want):
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])}"
    for i, (g, w) in enumerate(zip(got[1], want[1])):
        if g != w:
            return f"row {i}: {g} != {w}"
    return None


def _connect(inputs):
    con = duckdb.connect()
    con.sql("SET threads = 2")
    for t in sorted(os.listdir(inputs)):
        d = os.path.join(inputs, t)
        if os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d)):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    return con


def check(workload, rec, oracles, inputs, plan):
    """Returns attempted/failed counts, failure reasons, per-op verdicts."""
    ops = rec["ops"]
    results = [canon(r["columns"], r["rows"]) for r in rec["results"]]
    failures, op_ok = [], {}
    con = _connect(inputs)
    expected = {}
    extra_attempted, extra_failed = 0, 0

    if workload == "stream_ingest":
        s = rec["stream"]
        files = plan["stream"]["backlog"] + plan["stream"]["paced"]
        src = plan["stream"]["source_dir"]
        tagged = workloads.stream_oracle(os.path.join(src, "*.json"))
        expected["stream_result"] = _duck(con, f"""SELECT wstart, COUNT(*) AS cnt, SUM(amount) AS total,
            MIN(amount) AS mn, MAX(amount) AS mx FROM ({tagged}) WHERE NOT late GROUP BY wstart""")
        # the engine counts dropped rows after aggregation: one per late
        # window per micro-batch
        late_want = con.sql(f"SELECT COUNT(DISTINCT (f, wstart)) FROM ({tagged}) WHERE late").fetchone()[0]
        late_got = sum(p["late_rows"] for p in s["progress"])
        consumed = sum(1 for p in s["progress"] if p["rows"] > 0)
        # every released file is one attempted op: it must reach the sink
        extra_attempted = len(files)
        extra_failed = max(len(files) - consumed, 0)
        if extra_failed:
            failures.append(f"stream: {extra_failed} of {len(files)} files never reached a micro-batch")
        if s.get("error"):
            failures.append(f"stream: {s['error']}")
            extra_failed = max(extra_failed, 1)
        if late_got != late_want:
            failures.append(f"stream: engine dropped {late_got} late windows, expected {late_want}")
            extra_failed = max(extra_failed, 1)
    else:
        for name, sql in oracles.items():
            expected[name] = _duck(con, sql)

    for o in ops:
        why = o["error"] or None
        if not why:
            want = expected.get(o["name"])
            if want is None:
                why = "no oracle"
            elif o["result"] < 0:
                why = "no result"
            else:
                why = _diff(results[o["result"]], want)
        op_ok[o["id"]] = why is None
        if why:
            failures.append(f"{o['name']} ({o['id']}): {why}")
    attempted = len(ops) + extra_attempted
    failed = sum(1 for v in op_ok.values() if not v) + extra_failed
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted, "failed": failed,
            "failures": failures, "op_ok": op_ok}
