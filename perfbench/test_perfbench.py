"""Self-tests of the benchmark's own arithmetic and output contract.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need no JVM: they feed metrics.py synthetic raw records shaped like
the ones the harness writes.
"""
import json
import unittest
from pathlib import Path

import metrics

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 0.5), 50)
        self.assertEqual(metrics.nearest_rank(xs, 0.9), 90)
        self.assertEqual(metrics.nearest_rank(xs, 1.0), 100)
        self.assertEqual(metrics.nearest_rank([7], 0.9), 7)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        label, value = metrics.tail(list(range(1, 101)))
        self.assertEqual((label, value), ("p90", 90))
        # 99 samples: p90 leaves 9, so the tail falls back to p75
        self.assertEqual(metrics.tail(list(range(1, 100)))[0], "p75")
        # 1000 samples: p99 leaves 10
        self.assertEqual(metrics.tail(list(range(1000)))[0], "p99")
        # 39 samples: even p75 leaves only 9
        self.assertIsNone(metrics.tail(list(range(39))))

    def test_beyond_counts(self):
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertEqual(metrics.beyond(101, 0.9), 10)
        self.assertEqual(metrics.beyond(110, 0.9), 11)


class StratifiedMeanTest(unittest.TestCase):
    def test_strata_weigh_alike(self):
        cheap = [{"kind": "read.raw", "shape": "hist.narrow", "ms": 100}] * 3
        dear = [{"kind": "read.raw", "shape": "multi.wide", "ms": 500}]
        # a plain mean would be 200; each stratum counts once
        self.assertEqual(metrics.stratified_mean(cheap + dear), 300)
        self.assertEqual(metrics.stratified_mean(dear), 500)


class AccountingTest(unittest.TestCase):
    def test_failed_ops(self):
        self.assertEqual(metrics.account(10, 0), (True, 0.0))
        self.assertEqual(metrics.account(10, 3), (False, 0.3))
        self.assertEqual(metrics.account(0, 0), (False, 1.0))
        with self.assertRaises(ValueError):
            metrics.account(5, 6)

    def test_result_is_incorrect_when_any_op_failed(self):
        raw = fake_raw("dashboard", failed=1)
        values, _ = metrics.end_to_end(raw)
        line = metrics.result_line(raw, values, SPEC, traced=False)
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (4, 1))


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([], 0, 10), 0)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [
            span(0, "step", -1, 0, 100),
            span(1, "read.raw", 0, 10, 40),
            span(2, "service.call", 1, 10, 15),
            span(3, "action.collect", 1, 15, 38),
            span(4, "rollups.refresh", 0, 30, 90),  # overlaps read.raw
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 80)  # children cover [10, 90]
        self.assertEqual(st[1], 30 - 28)
        self.assertEqual(st[2], 5)
        self.assertEqual(st[4], 60)


class OutputContractTest(unittest.TestCase):
    def check(self, workload, traced):
        raw = fake_raw(workload)
        if traced:
            values = metrics.per_layer(raw, tmp_leaked=0)
        else:
            values, _ = metrics.end_to_end(raw)
        printed = json.dumps(metrics.result_line(raw, values, SPEC, traced))
        parsed = json.loads(printed)
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        declared = SPEC["per_layer" if traced else "end_to_end"]
        self.assertEqual(set(parsed["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = parsed["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not traced:
            for m in declared:
                self.assertGreater(parsed["metrics"][m["name"]]["value"], 0, m["name"])

    def test_every_workload_and_mode(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            for traced in (False, True):
                with self.subTest(workload=w, traced=traced):
                    self.check(w, traced)

    def test_missing_metric_is_an_error(self):
        raw = fake_raw("dashboard")
        values, _ = metrics.end_to_end(raw)
        del values["setup_s"]
        with self.assertRaises(KeyError):
            metrics.result_line(raw, values, SPEC, traced=False)

    def test_per_layer_arithmetic(self):
        v = metrics.per_layer(fake_raw("ingest_refresh"), tmp_leaked=2)
        self.assertEqual(v["exec.jobs"], 3)
        self.assertEqual(v["exec.driver_gap_ms"], 100 - 60)
        self.assertEqual(v["service.rollup_served_ratio"], 1.0)
        self.assertEqual(v["service.day_tier_ratio"], 0.5)
        self.assertEqual(v["sources.rows_read_per_row_returned"], 4.0)
        self.assertEqual(v["eventstore.bytes_written_per_event"], 2.0)
        self.assertEqual(v["workspace.tmp_entries_leaked"], 2)
        self.assertEqual(v["self.op_ms"], 100 - 80)


def span(i, name, parent, start, end, op=0):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start_ms": start, "end_ms": end}


def fake_raw(workload, failed=0):
    """A raw record with two ops, shaped like the harness's output."""
    root = "step" if workload == "ingest_refresh" else "read"
    samples, spans, ops = [], [], []
    for op in range(4):
        base = op * 1000
        for kind, ms in (("read.rollup", 10 + op), ("read.raw", 20 + op)):
            samples.append({"op": op, "kind": kind, "ms": ms})
        if root == "step":
            samples.append({"op": op, "kind": "step", "ms": 100 + op})
        ids = len(spans)
        spans += [span(ids, root, -1, base, base + 100, op),
                  span(ids + 1, "service.call", ids, base + 10, base + 20, op),
                  span(ids + 2, "action.collect", ids, base + 20, base + 90, op)]
        ops.append({"op": op,
                    "jobs": [[base + 20, base + 50], [base + 40, base + 80]],
                    "counters": {"exec.jobs": 3, "sources.rows_read": 40,
                                 "service.rows_returned": 10,
                                 "service.fact_reads@rollup": 2,
                                 "service.tier_reads@rollup@rollup-day": 1,
                                 "service.tier_reads@rollup@rollup-slice": 1,
                                 "eventstore.bytes_written": 200,
                                 "eventstore.events_landed": 100}})
    return {"workload": workload, "attempted": 4, "failed": failed,
            "setup_reps_s": [3.0, 2.0, 2.5], "samples": samples, "spans": spans,
            "ops": ops, "peak_rss_kb": 1024 * 900,
            "detail": {"stored_bytes": 1700, "events": 100,
                       "live_heap_bytes": 300 * 2 ** 20}}


if __name__ == "__main__":
    unittest.main()
