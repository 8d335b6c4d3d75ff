"""Self-tests of the benchmark's own arithmetic. Run from the repository
root with `python3 -m unittest discover -s perfbench -p 'test_*.py'`."""
import statistics
import unittest

import metrics


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_reported_value(self):
        xs = list(range(1, 101))
        value, pct, n = metrics.tail(xs, 100)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_is_the_highest_the_fewest_samples_support(self):
        xs = list(range(24))
        value, pct, n = metrics.tail(xs, 24)
        self.assertAlmostEqual(pct, 100.0 * 14 / 24)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        # one rank higher would leave only nine samples beyond it
        self.assertEqual(sum(1 for x in xs if x > value + 1), 9)

    def test_more_samples_keep_the_percentile(self):
        _, pct24, _ = metrics.tail(range(24), 24)
        value, pct48, n = metrics.tail(range(48), 24)
        self.assertEqual((pct24, n), (pct48, 48))
        self.assertEqual(sum(1 for x in range(48) if x > value), 20)

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(metrics.tail(range(10), 10))
        self.assertIsNone(metrics.tail(range(20), 24))
        self.assertIsNotNone(metrics.tail(range(11), 11))

    def test_order_of_samples_does_not_matter(self):
        xs = [7, 3, 9, 1, 12, 4, 8, 2, 11, 6, 10, 5, 13]
        self.assertEqual(metrics.tail(xs, 13), metrics.tail(sorted(xs), 13))


class MedianOfPasses(unittest.TestCase):
    def test_each_name_gets_the_median_of_its_passes(self):
        got = metrics.median_of_passes({"q1": [3.0, 1.0, 2.0], "q2": [10.0, 40.0]})
        self.assertEqual(got, {"q1": 2.0, "q2": 25.0})

    def test_sweep_is_the_sum_of_medians_not_the_median_of_sums(self):
        passes = {"a": [1.0, 9.0, 2.0], "b": [9.0, 1.0, 2.0]}
        sweep = sum(metrics.median_of_passes(passes).values())
        self.assertEqual(sweep, 4.0)
        self.assertNotEqual(sweep, statistics.median([10.0, 10.0, 4.0]))


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (50, 70)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 40), (30, 60), (35, 50)]), 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((10, 20), [(0, 12), (18, 30)]), 6)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((5, 9), []), 4)

    def test_fully_covered(self):
        self.assertEqual(metrics.self_time((5, 9), [(0, 100)]), 0)


class JobAttribution(unittest.TestCase):
    def test_jobs_follow_the_phase_set_before_the_call(self):
        jobs = [
            {"id": 1, "trace": "1/q1", "phase": "build"},
            {"id": 2, "trace": "1/q1", "phase": "build"},
            {"id": 3, "trace": "1/q1", "phase": "action"},
            {"id": 4, "trace": "2/q1", "phase": "action"},
            {"id": 5, "trace": None, "phase": None},
        ]
        got = metrics.attribute_jobs(jobs)
        self.assertEqual([j["id"] for j in got["1/q1"]["build"]], [1, 2])
        self.assertEqual([j["id"] for j in got["1/q1"]["action"]], [3])
        self.assertEqual([j["id"] for j in got["2/q1"]["action"]], [4])
        self.assertNotIn(None, got)
        self.assertEqual(metrics.pass_of("2/q1"), 2)

    def test_build_jobs_are_counted_per_pass(self):
        recs = metrics.Records(_catalog_records())
        layers, guard = metrics.per_layer(recs, "catalog", 4, {"sweep_s": 1.0})
        self.assertEqual(layers["queries.build_jobs"], 1)
        self.assertEqual(layers["sched.jobs"], 2)
        self.assertEqual(layers["sources.scan_bytes"], 100)
        self.assertEqual([g[1] for g in guard], [True])

    def test_recompute_guard_fails_a_pass_that_reads_less(self):
        for field in ("in_bytes", "in_rows"):
            recs = _catalog_records()
            for r in recs:
                if r["k"] == "stage" and r["id"] == 11:
                    r[field] = 0
            _, guard = metrics.per_layer(metrics.Records(recs), "catalog", 4, {"sweep_s": 1.0})
            self.assertEqual([g[1] for g in guard], [False], field)

    def test_recompute_guard_fails_a_pass_that_runs_fewer_jobs(self):
        recs = [r for r in _catalog_records() if not (r["k"] == "job" and r["id"] == 2)]
        _, guard = metrics.per_layer(metrics.Records(recs), "catalog", 4, {"sweep_s": 1.0})
        self.assertEqual([g[1] for g in guard], [False])


class SeedOrder(unittest.TestCase):
    def test_same_seed_same_order(self):
        names = [f"q{i}" for i in range(40)]
        self.assertEqual(metrics.seeded_order(names, 7), metrics.seeded_order(names, 7))
        self.assertEqual(metrics.seeded_order(names, 7),
                         metrics.seeded_order(list(reversed(names)), 7))

    def test_another_seed_another_order_same_set(self):
        names = [f"q{i}" for i in range(40)]
        a, b = metrics.seeded_order(names, 1), metrics.seeded_order(names, 2)
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))


class Fingerprints(unittest.TestCase):
    def test_parts_combine_like_the_whole(self):
        parts = [{"rows": 2, "xor": 0b1010, "hsum": 5}, {"rows": 3, "xor": 0b0110, "hsum": 7}]
        self.assertEqual(metrics.combine_fingerprints(parts),
                         {"rows": 5, "xor": 0b1100, "hsum": 12})



class OracleReport(unittest.TestCase):
    def test_only_passing_queries_count(self):
        import record
        report = ("PASS q1 (5 rows)\nFAIL q2: rows spark=3 oracle=4\n"
                  "  spark-only: [('PASS q3',)]\nFAIL q4: exec error x\n\n1 pass, 2 fail\n")
        self.assertEqual(record.oracle_passes(report), {"q1"})

def _catalog_records():
    """A warm-up pass and one timed pass of one query: each runs a build
    job and an action job; the action's stage scans 100 bytes."""
    recs = [
        {"k": "setup", "t0": 0, "t_install": 1, "t_tables": 2, "t_warmup": 3, "t1": 1000},
        {"k": "pass", "pass": 0, "timed": False, "t0": 10, "t1": 900, "gc_ms": 0, "compile_ns": 5, "compiles": 1},
        {"k": "pass", "pass": 1, "timed": True, "t0": 1000, "t1": 1900, "gc_ms": 0, "compile_ns": 0, "compiles": 0},
    ]
    for p, base in ((0, 10), (1, 1000)):
        tr = f"{p}/q1"
        recs += [
            {"k": "op", "pass": p, "name": "q1", "trace": tr, "t0": base,
             "t_build": base + 300, "t1": base + 800, "ok": True,
             "result": {"rows": 1, "xor": 1, "hsum": 1}, "storage_bytes": 0},
            {"k": "job", "id": 2 * p, "t0": base + 100, "stages": [10 * p],
             "trace": tr, "phase": "build", "sql_exec": None},
            {"k": "job_end", "id": 2 * p, "t1": base + 200, "ok": True},
            {"k": "job", "id": 2 * p + 1, "t0": base + 400, "stages": [10 * p + 1],
             "trace": tr, "phase": "action", "sql_exec": None},
            {"k": "job_end", "id": 2 * p + 1, "t1": base + 700, "ok": True},
        ]
        for sid, scan in ((10 * p, 0), (10 * p + 1, 100)):
            recs.append({"k": "stage", "id": sid, "attempt": 0, "t0": base, "t1": base + 1,
                         "num_tasks": 1, "tasks": 1, "ok": True, "task_delay_ms": 0,
                         "run_ms": 1, "cpu_ns": 1, "gc_ms": 0, "in_bytes": scan,
                         "in_rows": 1, "shuffle_write": 0, "shuffle_read": 0,
                         "fetch_wait_ms": 0, "spill": 0})
    return recs


if __name__ == "__main__":
    unittest.main()
