#!/usr/bin/env python3
"""The benchmark's own tests: failures are counted and never timed.

Usage: python3 perfbench/test_planted.py          (about a minute: one run)
       python3 perfbench/test_planted.py -k Judge (the fast unit tests only)

The end-to-end test plants two calls in the integrate workload through
GRAFT_BENCH_PLANT: one that throws and one whose output differs between
passes. Both must be counted as failed, must not reach any timing, and the
benchmark command must exit non-zero.
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def sample(call, pass_, seconds, digest, error=None):
    """A call sample; pass 0 stands for the warm passes."""
    return {"call": call, "pass": pass_, "warm": pass_ == 0, "seconds": seconds, "digest": digest,
            "error": error, "traced": False}


class JudgeTest(unittest.TestCase):
    def test_thrown_and_minority_digests_fail(self):
        ss = [sample("a", 0, 1.0, "1:x"), sample("a", 1, 1.0, "1:x"), sample("a", 2, 9.0, "1:y"),
              sample("b", 0, 2.0, None, "boom"), sample("b", 1, 2.0, "3:z"), sample("b", 2, 2.0, "3:z")]
        ref = run.judge(ss)
        self.assertEqual([s["ok"] for s in ss], [True, True, False, False, True, True])
        self.assertEqual(ref, {"a": "1:x", "b": "3:z"})
        # only pass 1 has every call ok; pass 0 and 2 each hold a failure
        self.assertEqual(run.passes(ss), [3.0])
        # pass 0 is the warm pass: never timed
        self.assertEqual(run.call_medians(ss), {"a": 1.0, "b": 2.0})

    def test_no_majority_fails_every_sample(self):
        ss = [sample("m", 0, 1.0, "1:x"), sample("m", 1, 1.0, "1:y")]
        run.judge(ss)
        self.assertFalse(any(s["ok"] for s in ss))
        self.assertEqual(run.passes(ss), [])

    def test_percentile_interpolates(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(run.percentile(list(range(11)), 0.9), 9.0)


class PlantedFailureTest(unittest.TestCase):
    def test_planted_calls_fail_and_are_not_timed(self):
        env = dict(os.environ, GRAFT_BENCH_PLANT="throw,mismatch")
        seed = 7
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "integrate",
             "--seed", str(seed), "--seconds", "6", "--trace", "0"],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        with open(os.path.join(ROOT, ".bench_work", "results", f"integrate-s{seed}-t0.json")) as f:
            rec = json.load(f)
        planted = [s for s in rec["samples"] if s["call"].startswith("planted_")]
        n_pass = len({s["pass"] for s in rec["samples"]})
        self.assertGreaterEqual(n_pass, 2)
        self.assertEqual(len(planted), 2 * n_pass)
        self.assertFalse(any(s["ok"] for s in planted))
        self.assertEqual(result["failed"], len(planted))
        self.assertEqual(rec["failed_share"], len(planted) / len(rec["samples"]))
        # every pass holds a planted failure, so no pass is timed at all
        self.assertIsNone(result["metrics"]["pass_s"]["value"])
        # no latency comes from a planted call; the real calls stay timed and correct
        self.assertEqual(sorted(rec["calls"]["median_s"]), ["q_partitioned_export", "q_pipeline_e2e"])
        real = [s for s in rec["samples"] if not s["call"].startswith("planted_")]
        self.assertTrue(all(s["ok"] for s in real))
        medians = list(rec["calls"]["median_s"].values())
        for q in (50, 90):
            self.assertEqual(result["metrics"][f"call_s.p{q}"]["value"], run.percentile(medians, q / 100))


if __name__ == "__main__":
    unittest.main()
