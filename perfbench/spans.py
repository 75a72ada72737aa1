"""Span-tree and statistics helpers for the traced run.

Spans are dicts with at least `name`, `start` and `end` (epoch ms). The JVM
side records them flat; `link` gives each one an id, a parent and an op id,
and `self_ms` subtracts the part of a span its children cover.
"""
import math


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the union of its children, clipped to it."""
    s, e = span["start"], span["end"]
    clipped = [(max(c["start"], s), min(c["end"], e)) for c in children]
    return (e - s) - union_ms(clipped)


def percentile(values, q):
    """Linear-interpolation percentile, q in [0, 100]; None when empty."""
    v = sorted(values)
    if not v:
        return None
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(n, candidates=(99, 95, 90, 75)):
    """The highest candidate percentile with at least ten samples beyond it
    out of n, or None when even the lowest has fewer."""
    for q in candidates:
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def _containing(spans, t):
    for s in spans:
        if s["start"] <= t <= s["end"]:
            return s
    return None


def link(raw, ops):
    """Turn the JVM's flat records into a span tree.

    Every op span is a root; its `dsl.run` and `client.collect` spans are
    its children. Jobs hang under the op phase (run or collect) that was
    running when they started, found from the op id Spark carried with the
    job; stages hang under their job. Catalyst phases and actions (points
    where planning ended) carry only their session, so they hang under the
    phase of that tenant's op that contains their start. Streaming batches are roots; jobs and phases of the
    streaming engine hang under the batch that contains them.
    Returns the linked spans, each with `id`, `parent`, `op` and `layer`.
    """
    out = []
    by_op = {}
    for r in raw:
        if r["name"] in ("client.op", "dsl.run", "client.collect"):
            s = dict(r)
            by_op.setdefault(r["op"], {})[r["name"]] = s
            out.append(s)
    for op_id, parts in by_op.items():
        root = parts.get("client.op")
        for name in ("dsl.run", "client.collect"):
            if name in parts:
                parts[name]["parent"] = root and f"op:{op_id}"
        if root:
            root["parent"] = None
    for op_id, parts in by_op.items():
        for name, s in parts.items():
            s["id"] = f"op:{op_id}" if name == "client.op" else f"{name}:{op_id}"

    batches = sorted((dict(r, id=f"batch:{r['batch']}", parent=None, op=None)
                      for r in raw if r["name"] == "streaming.batch"), key=lambda s: s["start"])
    out += batches

    def phase_of(op_id, t):
        parts = by_op.get(op_id, {})
        for name in ("dsl.run", "client.collect"):
            s = parts.get(name)
            if s and s["start"] <= t <= s["end"]:
                return s["id"]
        return parts.get("client.op", {}).get("id")

    ends = {r["job"]: r["start"] for r in raw if r["name"] == "exec.job.end"}
    for r in raw:
        if r["name"] != "exec.job.start" or r["job"] not in ends:
            continue
        op_id = r.get("op") or None
        s = {"name": "exec.job", "id": f"job:{r['job']}", "job": r["job"], "op": op_id,
             "start": r["start"], "end": ends[r["job"]]}
        if op_id:
            s["parent"] = phase_of(op_id, s["start"])
        else:
            b = _containing(batches, s["start"])
            s["parent"], s["op"] = (b["id"], None) if b else (None, None)
        out.append(s)
    jobs = {s["job"]: s for s in out if s["name"] == "exec.job"}
    for r in raw:
        if r["name"] == "exec.stage":
            job = jobs.get(r["job"])
            out.append(dict(r, id=f"stage:{r['stage']}", parent=job and job["id"],
                            op=job and job["op"]))

    tenant_ops = {}
    for o in ops:
        tenant_ops.setdefault(o["tenant"], []).append(o)
    for r in raw:
        if r["name"].startswith("catalyst."):
            s = dict(r, id=f"{r['name']}:{len(out)}", op=None, parent=None)
            op = _containing(tenant_ops.get(r.get("tenant"), []), s["start"])
            if op:
                s["op"], s["parent"] = op["id"], phase_of(op["id"], s["start"])
            else:
                b = _containing(batches, s["start"])
                s["parent"] = b and b["id"]
            out.append(s)
    for s in out:
        s["layer"] = s["name"].split(".")[0]
        s.setdefault("op", None)
    return out


def children_of(spans):
    kids = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s)
    return kids
