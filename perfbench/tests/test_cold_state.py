#!/usr/bin/env python3
"""Checks that the benchmark's cold protocol really resets warm state.

Run from the repository root (takes about a minute; builds on first use):
  python3 -m unittest discover -s perfbench/tests -v

One JVM measures (perfbench/src/perfbench/ColdCheck.scala):
  - ivf_recall and pq_ann_topk: construction-phase jobs of two cold runs and
    of a warm rerun. Cold runs must agree exactly; the warm rerun reuses the
    trained memo, so it must need fewer.
  - daily_lifecycle_stats: cold minus warm time, five times, against the
    time a fresh session takes to resolve the ten tables. A cold run holds
    no memo, so what it pays over a warm run is table resolution: the
    median difference must fall within the median resolve time, and must be
    more than MIN_RESOLVE_SHARE of it, so a protocol that stopped resetting
    the per-session table cache (cold = warm) fails.
"""
import json
import os
import shutil
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402
import run    # noqa: E402

MIN_RESOLVE_SHARE = 0.25


def measure():
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build.ensure(root, build_dir)
    data = run.data_dir(build_dir)
    cores = len(os.sched_getaffinity(0))
    run_dir = run.fresh_dir(build_dir, "coldcheck")
    try:
        out = os.path.join(run_dir, "raw.json")
        run.run_jvm(classpath, run_dir, {
            "mode": "coldcheck", "data": data, "cores": cores,
            "localDir": os.path.join(run_dir, "local"), "out": out}, timeout=300)
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


class ColdStateTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.r = measure()
        sys.stderr.write(f"cold-state measurements: {json.dumps(cls.r)}\n")

    def test_cold_construct_jobs_repeat_and_warm_needs_fewer(self):
        for q in ("ivf_recall", "pq_ann_topk"):
            j = self.r["construct_jobs"][q]
            with self.subTest(query=q, jobs=j):
                self.assertEqual(j["cold1"], j["cold2"])
                self.assertLess(j["warm"], j["cold1"])

    def test_cold_minus_warm_is_table_resolution(self):
        s = self.r["resolve"]["daily_lifecycle_stats"]
        gap = statistics.median(x["cold_s"] - x["warm_s"] for x in s)
        resolve = statistics.median(x["resolve_s"] for x in s)
        msg = f"cold - warm = {gap:.3f} s, tables.resolve_s = {resolve:.3f} s"
        self.assertGreater(gap, MIN_RESOLVE_SHARE * resolve, msg)
        self.assertLessEqual(gap, resolve, msg)


if __name__ == "__main__":
    unittest.main()
