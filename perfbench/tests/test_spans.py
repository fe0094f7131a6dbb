"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402
import spans as sp  # noqa: E402


def stage(submit, run_ms=0, shuffle=0, spill=0, peak=0):
    return {"submit": submit, "run_ms": run_ms, "shuffle_write_bytes": shuffle,
            "spill_bytes": spill, "peak_exec_mem_bytes": peak}


class OrderStatistics(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        self.assertEqual(sp.quartiles(values), tuple(statistics.quantiles(values, n=4)))
        self.assertEqual(sp.median(values), 3.75)

    def test_spread_is_iqr_over_median(self):
        values = [10.0, 11.0, 12.0, 13.0, 14.0]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(sp.spread(values), (q3 - q1) / 12.0)

    def test_single_value_has_no_spread(self):
        self.assertEqual(sp.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(sp.spread([2.5]), 0.0)

    def test_ratio_guards_an_empty_base(self):
        self.assertEqual(sp.ratio(3, 4), 0.75)
        self.assertEqual(sp.ratio(0, 0), 0.0)


class Intervals(unittest.TestCase):
    def test_overlapping_intervals_merge(self):
        self.assertEqual(sp.merge_intervals([(5, 7), (1, 3), (2, 4), (7, 8)]),
                         [(1, 4), (5, 8)])

    def test_coverage_is_clipped_to_the_window(self):
        self.assertEqual(sp.covered([(0, 3), (2, 5), (9, 12)], 1, 10), 5)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_child_coverage_once(self):
        parent = {"name": "p", "parent": None, "start": 0.0, "end": 10.0}
        spans = [parent,
                 {"name": "a", "parent": "p", "start": 1.0, "end": 4.0},
                 {"name": "b", "parent": "p", "start": 3.0, "end": 6.0},
                 {"name": "x", "parent": None, "start": 6.0, "end": 9.0}]
        self.assertEqual(sp.self_seconds(parent, spans), 5.0)
        self.assertEqual(sp.self_seconds(spans[1], spans), 3.0)


class JobWindowAttribution(unittest.TestCase):
    def setUp(self):
        self.span = {"name": "lsh.band", "parent": None, "start": 10.0, "end": 20.0,
                     "seconds": 10.0}
        self.jobs = [{"start": 9.0, "end": 10.5},   # started before the span
                     {"start": 11.0, "end": 13.0},
                     {"start": 12.0, "end": 14.0},  # overlaps the previous job
                     {"start": 18.0, "end": 21.0},  # runs past the span's end
                     {"start": 20.5, "end": 22.0}]  # started after it
        self.stages = [stage(9.5, run_ms=1000, shuffle=7),
                       stage(11.0, run_ms=2000, shuffle=100, spill=5, peak=64),
                       stage(12.5, run_ms=500, shuffle=50, peak=256),
                       stage(18.5, run_ms=1500),
                       stage(20.5, run_ms=9000, peak=4096)]

    def test_jobs_and_stages_are_attributed_by_their_start(self):
        c = sp.span_counters(self.span, [self.span], self.jobs, self.stages)
        self.assertEqual(c["jobs"], 3)
        self.assertEqual(c["stages"], 3)
        self.assertEqual(c["executor_run_s"], 4.0)
        self.assertEqual(c["shuffle_write_bytes"], 150)
        self.assertEqual(c["spill_bytes"], 5)
        self.assertEqual(c["peak_exec_mem_bytes"], 256)

    def test_driver_time_is_the_span_not_covered_by_its_jobs(self):
        c = sp.span_counters(self.span, [self.span], self.jobs, self.stages)
        # jobs cover [11, 14] and [18, 20] of [10, 20]
        self.assertEqual(c["driver_s"], 5.0)
        self.assertEqual(c["seconds"], 10.0)
        self.assertEqual(c["self_s"], 10.0)

    def test_a_span_without_jobs_is_all_driver_time(self):
        idle = {"name": "idle", "parent": None, "start": 30.0, "end": 32.0}
        c = sp.span_counters(idle, [idle], self.jobs, self.stages)
        self.assertEqual((c["jobs"], c["stages"], c["driver_s"], c["peak_exec_mem_bytes"]),
                         (0, 0, 2.0, 0))


class LayerRatios(unittest.TestCase):
    def records(self, star_path):
        span = lambda name, s, e: {"kind": "span", "name": name, "parent": None,  # noqa: E731
                                   "start_ms": s, "end_ms": e, "seconds": (e - s) / 1e3}
        recs = [span(name, 1000 * i, 1000 * i + 500) for i, name in enumerate(run.SPANS)]
        cc_start = 1000 * run.SPANS.index("cluster.cc")
        recs += [{"kind": "job", "start_ms": cc_start + 10, "end_ms": cc_start + 20},
                 {"kind": "job", "start_ms": cc_start + 30, "end_ms": cc_start + 40}]
        recs += [
            {"kind": "counts", "span": "lsh.band", "exploded_rows": 400, "singleton_rows": 160,
             "max_bucket_rows": 9, "candidate_pairs": 120},
            {"kind": "counts", "span": "lsh.verify", "pairs_in": 120, "pairs_out": 90},
            {"kind": "counts", "span": "cluster.cc", "edges_in": 90, "components": 30,
             "star_path": star_path},
            {"kind": "counts", "span": "io.workdir", "workdir_bytes": 12345},
            {"kind": "counts", "span": "cluster.resume", "features_recomputed": 1,
             "rounds_recomputed": 2},
        ]
        return recs

    rep = {"passes": 1, "round0_edges": 90, "round0_s": 0.3, "macro_s": 0.1,
           "peak_scratch_bytes": 4096}

    def test_singleton_share_and_yield(self):
        out = run.per_layer(self.records(False), self.rep, [])
        self.assertEqual(out["lsh.band.singleton_share"], 0.4)
        self.assertEqual(out["lsh.verify.yield"], 0.75)

    def test_star_jobs_count_only_on_the_star_path(self):
        self.assertEqual(run.per_layer(self.records(False), self.rep, [])["cluster.cc.star_jobs"], 0)
        self.assertEqual(run.per_layer(self.records(True), self.rep, [])["cluster.cc.star_jobs"], 2)

    def test_every_per_layer_metric_is_reported(self):
        out = run.per_layer(self.records(True), self.rep, [0.25, 0.75, 0.5])
        self.assertEqual(set(out), {name for name, _ in run.PER_LAYER})
        self.assertEqual(out["trace.overhead_s"], out["cluster.pipeline.seconds"] - 0.5)


if __name__ == "__main__":
    unittest.main()
