"""Unit tests for run.py's result-line check:  python3 perfbench/test_run.py"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

GOOD = {"correct": True, "attempted": 8, "failed": 0,
        "metrics": {"latency_p50_ms": {"value": 495.79, "unit": "ms"},
                    "setup_s": {"value": 13.85, "unit": "s"}}}


class ParseResultTest(unittest.TestCase):
    def test_last_line_is_the_result(self):
        out = "noise\n" + json.dumps(GOOD) + "\n\n"
        self.assertEqual(run.parse_result(out), GOOD)

    def test_rejects_malformed_lines(self):
        bad = [
            dict(GOOD, extra=1),
            {k: v for k, v in GOOD.items() if k != "failed"},
            dict(GOOD, attempted=0),
            dict(GOOD, failed=9),
            dict(GOOD, correct="yes"),
            dict(GOOD, attempted=True),
            dict(GOOD, metrics={"x": {"value": "1", "unit": "ms"}}),
            dict(GOOD, metrics={"x": {"value": 1}}),
        ]
        for b in bad:
            with self.assertRaises(ValueError, msg=str(b)):
                run.parse_result(json.dumps(b))
        with self.assertRaises(ValueError):
            run.parse_result("")
        with self.assertRaises(ValueError):
            run.parse_result("not json")


class SourceStampTest(unittest.TestCase):
    def test_stamp_is_stable(self):
        self.assertEqual(run.source_stamp(), run.source_stamp())


if __name__ == "__main__":
    unittest.main()
