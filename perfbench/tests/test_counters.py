"""Tests for the counter repeatability check (run.repeatable_counts, run.drift).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402


def counts(jobs, stages, cuts=0, exchanges=0):
    return {"spark.jobs": jobs, "spark.stages": stages, "Ckpt.cut_jobs": cuts,
            "plan.exchanges": exchanges}


def ann_out(serve_stages, serve_jobs=91):
    """A traced ann_lifecycle run: seed and one set-up serve, then a timed
    delta and serve."""
    setup = [{"id": "setup-seed", "kind": "seed"}, {"id": "setup-serve-0", "kind": "serve"}]
    ops = [{"id": "op-0", "kind": "delta"}, {"id": "op-1", "kind": "serve"}]
    return {"setup_ops": setup, "ops": ops, "counters": {
        "setup-seed": counts(51, 107, 8), "setup-serve-0": counts(serve_jobs, serve_stages[0], 15),
        "op-0": counts(22, 30, 7), "op-1": counts(91, serve_stages[1], 15)}}


class Drift(unittest.TestCase):
    def setUp(self):
        d = tempfile.TemporaryDirectory()
        self.addCleanup(d.cleanup)
        self.path = os.path.join(d.name, "baseline.json")
        self._saved, run.BASELINE = run.BASELINE, self.path
        self.addCleanup(setattr, run, "BASELINE", self._saved)

    def drift(self, w, seed, out, write=False):
        with contextlib.redirect_stderr(io.StringIO()):
            return run.drift(w, seed, run.repeatable_counts(w, out), write)

    def test_ann_labels_by_kind_and_position(self):
        labels = [r[0] for r in run.repeatable_counts("ann_lifecycle", ann_out((136, 138)))]
        self.assertEqual(labels, ["seed-0", "serve-0", "delta-0", "serve-1"])

    def test_ann_stages_free_across_probes_and_seeds(self):
        self.drift("ann_lifecycle", 1, ann_out((136, 138)), write=True)
        self.assertEqual(self.drift("ann_lifecycle", 2, ann_out((134, 140))), [])
        self.assertEqual(self.drift("ann_lifecycle", 1, ann_out((134, 140))),
                         ["serve-0:spark.stages", "serve-1:spark.stages"])

    def test_ann_jobs_checked_for_any_seed_and_within_run(self):
        self.drift("ann_lifecycle", 1, ann_out((136, 138)), write=True)
        self.assertEqual(self.drift("ann_lifecycle", 2, ann_out((136, 138), serve_jobs=90)),
                         ["serve-0:spark.jobs", "serve:spark.jobs"])

    def test_queries_compare_every_counter_across_seeds(self):
        out = {"setup_ops": [{"id": "setup-q", "kind": "q"}],
               "ops": [{"id": "op-0", "kind": "query", "key": "q"},
                       {"id": "op-1", "kind": "query", "key": "q"}],
               "counters": {"setup-q": counts(6, 9), "op-0": counts(5, 9), "op-1": counts(5, 9)}}
        self.drift("warehouse", 1, out, write=True)
        self.assertEqual(json.load(open(self.path))["warehouse"]["ops"]["q"]["spark.jobs"], 5)
        out["counters"]["op-1"] = counts(5, 10)
        self.assertEqual(self.drift("warehouse", 7, out), ["q:spark.stages"])
        out["counters"]["op-0"] = counts(5, 10)
        self.assertEqual(self.drift("warehouse", 7, out), ["q:spark.stages"])


if __name__ == "__main__":
    unittest.main()
