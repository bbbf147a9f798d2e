"""Self-tests of the benchmark at tiny size.

    python3 perfbench/selftest.py

- every workload runs once (2,000 users and 10 rules; sf0.001), traced
  and untraced, with ``correct`` true;
- every metric name in ``BENCHMARK.json`` is emitted with its unit;
- the oracle catches a store with one tag dropped from one user.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class TestWorkloadsRun(unittest.TestCase):
    def test_every_workload_emits_every_metric(self):
        bench = _bench()
        wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                  1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
        for name in workloads.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=name, trace=trace):
                    res = _run(name, trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(res["failed"], 0)
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, wanted[trace])
                    for v in res["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))


class TestOracle(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _store_as_engine_writes(self, expected: dict, path: str) -> None:
        os.makedirs(path)
        users = sorted(expected)
        tags = [list(expected[u][0]) for u in users]
        detail = pa.struct([("rule_id", pa.int32())])
        table = pa.table({
            "user_id": pa.array(users, pa.int64()),
            "tag_ids": pa.array(tags, pa.list_(pa.int32())),
            "tag_details": pa.array(
                [[(str(t), {"rule_id": 0}) for t in ts] for ts in tags],
                pa.map_(pa.string(), detail)),
            "computed_date": pa.array(
                [gen.dt.date.fromisoformat(expected[u][1]) for u in users], pa.date32()),
        })
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    def test_dropped_tag_is_caught(self):
        inp = gen.tag_inputs(5, workloads.TINY["full_rebuild"], self.tmp, with_store=False)
        hits = oracle.rule_hits(inp.facts, inp.rules, gen.AS_OF)
        expected = oracle.expect_full(hits, gen.COMPUTED_DATE)
        good = os.path.join(self.tmp, "good")
        self._store_as_engine_writes(expected, good)
        self.assertEqual(oracle.committed_hash(good), oracle.store_hash(expected))

        user = next(u for u, (t, _) in sorted(expected.items()) if len(t) > 1)
        tags, day = expected[user]
        broken = {**expected, user: (tags[1:], day)}
        bad = os.path.join(self.tmp, "bad")
        self._store_as_engine_writes(broken, bad)
        self.assertNotEqual(oracle.committed_hash(bad), oracle.store_hash(expected))

    def test_scenario_expectations(self):
        hits = {1: frozenset({100, 101}), 2: frozenset(), 3: frozenset({102})}
        store = {1: ((103,), "old"), 2: ((100,), "old"), 4: ((101,), "old")}
        self.assertEqual(oracle.expect_tags(store, hits, [100, 102], "new"),
                         {1: ((100, 103), "new"), 2: ((100,), "old"),
                          3: ((102,), "new"), 4: ((101,), "old")})
        self.assertEqual(oracle.expect_users(store, hits, [1, 2], "new"),
                         {1: ((100, 101), "new"), 2: ((100,), "old"),
                          4: ((101,), "old")})
        self.assertEqual(oracle.expect_full(hits, "new"),
                         {1: ((100, 101), "new"), 3: ((102,), "new")})


if __name__ == "__main__":
    unittest.main()
