"""Unit tests for benchdiff's fingerprint comparison of TimeQuery records:

    python3 -m unittest tools/test_benchdiff.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchdiff  # noqa: E402

QUERIES = ["q1_agg", "agg_group_topk"]


def line(query, run, fp, rows=6):
    return json.dumps({"query": query, "run": run,
                       "construct": {"wall_s": 0.1}, "count": {"wall_s": 0.2},
                       "result": {"rows": rows, "fp": fp}})


def record(fps, queries=QUERIES):
    """Record lines: the calib line, then one line per (query, run) with
    the fingerprint `fps[query][run - 1]`."""
    head = json.dumps({"calib_s": 0.5, "sf_dir": "/data/sf0.01", "queries": queries})
    return [head] + [line(q, i + 1, fp) for q in queries if q in fps
                     for i, fp in enumerate(fps[q])]


class FingerprintTest(unittest.TestCase):
    def diff(self, old, new):
        """benchdiff's exit status and output over two records on disk."""
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, lines in (("old", old), ("new", new)):
                paths.append(os.path.join(d, f"{name}.jsonl"))
                with open(paths[-1], "w") as f:
                    f.write("\n".join(lines) + "\n")
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                code = benchdiff.main(paths + ["1e9"])
        return code, out.getvalue()

    def test_equal_fingerprints_pass(self):
        fps = {"q1_agg": ["11", "11", "11"], "agg_group_topk": ["-7", "-7", "-7"]}
        code, out = self.diff(record(fps), record(fps))
        self.assertEqual(code, 0, out)
        self.assertIn("== 0 fingerprint difference(s); 2 common queries", out)

    def test_a_differing_query_is_named_and_fails(self):
        old = {"q1_agg": ["11", "11", "11"], "agg_group_topk": ["-7", "-7", "-7"]}
        new = {"q1_agg": ["11", "11", "11"], "agg_group_topk": ["-8", "-8", "-8"]}
        code, out = self.diff(record(old), record(new))
        self.assertEqual(code, 1, out)
        self.assertIn("FP-DIFF  agg_group_topk", out)
        self.assertIn("old/new: -7 -> -8", out)
        self.assertNotIn("FP-DIFF  q1_agg", out)

    def test_runs_that_disagree_within_one_record_fail(self):
        good = {"q1_agg": ["11", "11", "11"], "agg_group_topk": ["-7", "-7", "-7"]}
        cold = {"q1_agg": ["12", "11", "11"], "agg_group_topk": ["-7", "-7", "-7"]}
        code, out = self.diff(record(good), record(cold))
        self.assertEqual(code, 1, out)
        self.assertIn("FP-DIFF  q1_agg", out)
        self.assertIn("new runs: run1=12 run2=11 run3=11", out)
        # the same record on both sides still fails on its own runs
        self.assertEqual(self.diff(record(cold), record(cold))[0], 1)

    def test_a_record_missing_a_result_is_refused(self):
        fps = {"q1_agg": ["11"]}
        with self.assertRaisesRegex(ValueError, "1/2 queries have no result"):
            benchdiff.load_record(record(fps))
        bare = record({"q1_agg": ["11"], "agg_group_topk": ["-7"]})
        d = json.loads(bare[2])
        del d["result"]
        with self.assertRaisesRegex(ValueError, "agg_group_topk run 1 has no result"):
            benchdiff.load_record(bare[:2] + [json.dumps(d)])
        with self.assertRaises(SystemExit):
            self.diff(record(fps), record(fps))


if __name__ == "__main__":
    unittest.main()
