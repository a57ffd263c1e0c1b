"""Self-checks of the run's verdict: a wrong answer in the traced phase or
in a warm-up op fails the run like one in the measured phase.

    python3 -m unittest discover graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import run  # noqa: E402


class WrongAnswersTest(unittest.TestCase):
    def test_clean_results_have_none(self):
        res = {"ops": {"wrong": []}, "warmup_problems": [],
               "traced": {"ops": {"wrong": []}, "warmup_problems": []}}
        self.assertEqual(run.wrong_answers(res), [])

    def test_every_phase_counts(self):
        res = {"ops": {"wrong": ["query: a"]}, "warmup_problems": ["range_read: b"],
               "traced": {"ops": {"wrong": ["rpc_read: c"]}, "warmup_problems": ["publish: d"]}}
        self.assertEqual(run.wrong_answers(res), [
            "query: a", "warm-up: range_read: b", "traced: rpc_read: c", "traced: warm-up: publish: d"])

    def test_untraced_run_without_warm_up(self):
        self.assertEqual(run.wrong_answers({"ops": {"wrong": ["q03_join_agg: x"]}}),
                         ["q03_join_agg: x"])


if __name__ == "__main__":
    unittest.main()
