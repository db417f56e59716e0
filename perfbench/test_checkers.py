"""Tests of the benchmark's own input generator, result checkers and
failure accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import shutil
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import compare
import etl_gen
import oracle
import run

SMALL = {"sessions_per_day": 6, "backfill_days": 8, "cycles": 2, "page_records": 10}


def write_warehouse(states, root):
    """A warehouse of parquet table directories holding the expected rows;
    nested values are stored as JSON text, which the checker parses."""
    for table, digest in states.items():
        d = os.path.join(root, table)
        os.makedirs(d, exist_ok=True)
        rows = [{k: json.dumps(v) if isinstance(v, dict) else v for k, v in json.loads(line).items()}
                for line in digest["canon"]]
        cols = sorted(set().union(*rows))
        rows = [{c: r.get(c) for c in cols} for r in rows]
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "part-00000.parquet"))


class GeneratorTest(unittest.TestCase):
    def dump(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        etl_gen.generate(d, seed, SMALL)
        return d

    def test_same_seed_gives_identical_pages(self):
        a, b = self.dump(7), self.dump(7)
        cmp = filecmp.dircmp(a, b)
        self.assertEqual(sorted(cmp.common_dirs), ["backfill", "cycle0", "cycle1"])
        for sub in cmp.common_dirs:
            files = sorted(os.listdir(os.path.join(a, sub)))
            match, mismatch, errors = filecmp.cmpfiles(os.path.join(a, sub),
                                                       os.path.join(b, sub), files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(len(match), len(files))

    def test_other_seed_gives_other_pages(self):
        a, b = self.dump(7), self.dump(8)
        page = os.path.join("backfill", "sessions-0.json")
        self.assertNotEqual(open(os.path.join(a, page)).read(), open(os.path.join(b, page)).read())

    def test_pages_are_graft_paged_dumps(self):
        d = self.dump(7)
        names = sorted(os.listdir(os.path.join(d, "backfill")))
        self.assertIn("sessions-0.json", names)
        last = max(int(n[len("sessions-"):-5]) for n in names if n.startswith("sessions-"))
        self.assertEqual(open(os.path.join(d, "backfill", f"sessions-{last}.json")).read(), "[]")
        rows = json.load(open(os.path.join(d, "backfill", "sessions-0.json")))
        self.assertEqual(len(rows), SMALL["page_records"])
        self.assertTrue({"tags", "categories", "reviewers", "scores", "comments", "summary",
                         "crm_statuses"} <= set(rows[0]))


class WarehouseCheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.tmp)
        plan, batches = etl_gen.generate(os.path.join(self.tmp, "pages"), 3, SMALL)
        states, _ = etl_gen.replay(batches, 2, plan)
        self.expected = states[-1]
        self.wh = os.path.join(self.tmp, "wh")
        write_warehouse(self.expected, self.wh)

    def edit(self, table, fn):
        path = os.path.join(self.wh, table, "part-00000.parquet")
        rows = pq.read_table(path).to_pylist()
        pq.write_table(pa.Table.from_pylist(fn(rows)), path)

    def test_accepts_the_expected_state(self):
        self.assertEqual(etl_gen.check(self.expected, self.wh), [])

    def test_rejects_an_altered_row(self):
        def alter(rows):
            rows[0]["silence"] = (rows[0]["silence"] or 0) + 1.0
            return rows
        self.edit("sessions", alter)
        self.assertEqual(len(etl_gen.check(self.expected, self.wh)), 1)

    def test_rejects_a_deleted_row(self):
        self.edit("sessions_tags", lambda rows: rows[1:])
        self.assertEqual(len(etl_gen.check(self.expected, self.wh)), 1)

    def test_rejects_a_duplicated_row(self):
        self.edit("categories", lambda rows: rows + rows[:1])
        self.assertEqual(len(etl_gen.check(self.expected, self.wh)), 1)

    def test_spark_json_forms_are_canonical(self):
        # integral doubles, absent nulls and differently spaced JSON-text
        # columns must canonicalize alike
        a = {"id": 1, "score": 5, "meta": '{"b":1, "a":2}', "x": None}
        b = {"id": 1.0, "score": 5.0, "meta": '{"a":2,"b":1}'}
        self.assertEqual(etl_gen.canon_row(a), etl_gen.canon_row(b))


class WorkerProcessTest(unittest.TestCase):
    @staticmethod
    def children():
        pid = os.getpid()
        return [c for t in os.listdir(f"/proc/{pid}/task")
                for c in open(f"/proc/{pid}/task/{t}/children").read().split()]

    def test_map_keeps_order_and_leaves_no_process(self):
        items = [[{"k": i, "v": j} for j in range(i)] for i in range(9)]
        self.assertEqual(etl_gen._map(etl_gen._digest, items), [etl_gen._digest(x) for x in items])
        self.assertEqual(self.children(), [])

    def test_a_failed_command_leaves_no_process(self):
        self.assertNotEqual(run.run_group(["bash", "-c", "sleep 30 & exit 3"], 10), 0)
        self.assertIsNone(run.run_group(["bash", "-c", "sleep 30 & sleep 30"], 0.5))
        self.assertEqual(self.children(), [])


class OracleCheckerTest(unittest.TestCase):
    def test_equal_up_to_row_and_column_order(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
        self.assertIsNone(oracle.compare(a, b))

    def test_rejects_a_wrong_value(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
        self.assertIsNotNone(oracle.compare(a, b))

    def test_rejects_a_missing_or_extra_row(self):
        a = pd.DataFrame({"k": [1, 2]})
        self.assertIsNotNone(oracle.compare(a, pd.DataFrame({"k": [1]})))
        self.assertIsNotNone(oracle.compare(a, pd.DataFrame({"k": [1, 1]})))

    def test_rows_only_gate(self):
        self.assertIsNone(oracle.gate_failures(pd.DataFrame({"recall_ok": [True, True]})))
        self.assertIsNotNone(oracle.gate_failures(pd.DataFrame({"recall_ok": [True, False]})))
        self.assertIsNotNone(oracle.gate_failures(pd.DataFrame({"n": []})))


class FailureAccountingTest(unittest.TestCase):
    def test_a_failed_operation_is_slower_than_every_other(self):
        # a row that throws at once must not lower the median
        self.assertEqual(run.p50_with_failures([1.0, 2.0, 0.01], [True, True, False], 9.0), 2.0)
        self.assertEqual(run.p50_with_failures([1.0, 0.01, 0.01], [True, False, False], 9.0), 9.0)

    @staticmethod
    def records(times, failed):
        return [({"env": {"seed": i}, "failed": failed, "attempted": 10}, t)
                for i, t in enumerate(times)]

    def test_a_faster_side_with_more_failures_is_worse(self):
        base = self.records([10.0 + i * 0.01 for i in range(10)], 0)
        new = self.records([5.0 + i * 0.01 for i in range(10)], 1)
        self.assertEqual(compare.verdict(base, new, 0.25, True)[0], "worse (failures)")
        new_ok = self.records([5.0 + i * 0.01 for i in range(10)], 0)
        self.assertEqual(compare.verdict(base, new_ok, 0.25, True)[0], "improved")


if __name__ == "__main__":
    unittest.main()
