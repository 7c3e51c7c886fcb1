"""Unit tests for the PLANSTATS.md renderer:

    python3 -m unittest tools/test_planstatsdiff.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import planstatsdiff  # noqa: E402

PLAN = {"scans": 2, "xchg_hash": 1, "xchg_range": 0, "bcast": 1, "smj": 0, "bhj": 1,
        "sort_agg": 0, "obj_agg": 0, "cached": 0, "topk": 1}


class RenderTest(unittest.TestCase):
    def test_two_line_record_renders_the_table_rows(self):
        record = [
            json.dumps({"calib_s": 0.5, "sf_dir": "/data/sf0.01", "queries": ["agg_group_topk"]}),
            json.dumps({"query": "agg_group_topk", "run": 1, "plan": PLAN, "plan_text": "..."}),
        ]
        text = planstatsdiff.render(record)
        self.assertIn("record at /data/sf0.01", text)
        self.assertTrue(text.endswith(
            "| query | scans | xchg-hash | xchg-range | bcast | SMJ | BHJ | sortAgg | objAgg | cached | topk |\n"
            "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |\n"
            "| agg_group_topk | 2 | 1 | 0 | 1 | 0 | 1 | 0 | 0 | 0 | 1 |\n"), text)

    def test_empty_or_short_record_is_rejected(self):
        with self.assertRaises(ValueError):
            planstatsdiff.render([])
        short = [
            json.dumps({"calib_s": 0.5, "sf_dir": "/data/sf0.01", "queries": ["q1_agg", "agg_group_topk"]}),
            json.dumps({"query": "q1_agg", "run": 1, "plan": PLAN}),
        ]
        with self.assertRaisesRegex(ValueError, "1/2 queries have no plan"):
            planstatsdiff.render(short)


if __name__ == "__main__":
    unittest.main()
