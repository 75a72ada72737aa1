"""Per-layer metrics average over one op set: the traced run's probe pass.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from metrics import per_layer  # noqa: E402


def op(i, name, start, end, traced=True, probe=False, epoch_changed=False):
    return {"id": i, "tenant": "a", "name": name, "start": float(start), "run_end": float(end - 10),
            "end": float(end), "traced": traced, "probe": probe, "epoch_changed": epoch_changed,
            "statements": 3, "split_ms": 0.1, "error": "", "result": 0}


def spans_of(o, jobs):
    """The op's own spans, one job per (start, end) pair, one action per job."""
    out = [{"name": n, "start": s, "end": e, "op": o["id"], "tenant": "a"}
           for n, s, e in (("client.op", o["start"], o["end"]), ("dsl.run", o["start"], o["run_end"]),
                           ("client.collect", o["run_end"], o["end"]))]
    for s, e in jobs:
        j = int(s)
        out += [{"name": "exec.job.start", "job": j, "start": float(s), "end": float(s), "op": o["id"]},
                {"name": "exec.job.end", "job": j, "start": float(e), "end": float(e)},
                {"name": "catalyst.action", "tenant": "a", "plan": "Project", "duration_ms": 5.0,
                 "start": float(s), "end": float(s)}]
    return out


class ProbePass(unittest.TestCase):
    def metrics(self):
        # the loop: one traced and one untraced op of the same script, and
        # one that straddled a trace flip; then the probe pass
        loop = [op("a-1", "i01_pricing_summary", 0, 100), op("a-2", "i01_pricing_summary", 200, 310, traced=False),
                op("a-3", "i12_kcore", 400, 700, epoch_changed=True)]
        probe = [op("a-4", "i01_pricing_summary", 1000, 1100, probe=True),
                 op("a-5", "i12_kcore", 1200, 1500, probe=True)]
        raw = (spans_of(loop[0], [(10, 50)]) + spans_of(loop[2], [(420, 450)])
               + spans_of(probe[0], [(1010, 1050)]) + spans_of(probe[1], [(1210, 1250), (1300, 1400)]))
        rec = {"ops": loop + probe, "spans": raw, "cache": {"peak_storage_bytes": 0, "leaked_rdds": 0},
               "jvm": {"gc_ms": 30.0, "jit_ms": 60.0}}
        return per_layer("interactive", rec, {"failed": 0, "attempted": 5}, cores=4)

    def test_per_op_metrics_use_the_probe_pass_only(self):
        r = self.metrics()
        m = {k: v for k, (v, _) in r["metrics"].items()}
        self.assertEqual(m["client.ops"], 2)
        self.assertEqual(m["exec.jobs"], 1.5)
        self.assertEqual(m["catalyst.actions"], 1.5)
        self.assertEqual(m["ets.kcore_jobs"], 2)
        self.assertEqual(m["ets.kcore_ms"], 290.0)
        self.assertIn("ets.trustrank_ms", r["missing"])
        # overhead compares the loop's traced and untraced ops: 100 vs 110 ms
        self.assertAlmostEqual(m["client.trace_overhead_pct"], (100 / 110 - 1) * 100)
        # jvm covers the measured window: three loop ops
        self.assertEqual(m["jvm.gc_ms"], 10.0)


if __name__ == "__main__":
    unittest.main()
