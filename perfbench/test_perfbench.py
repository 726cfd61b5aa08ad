"""The benchmark's own tests (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import metrics
import run


def _lineitem():
    return gen.read_table("lineitem").slice(0, 2000)


def _documents():
    return gen.read_table("documents").slice(0, 60)


class SeedDeterminism(unittest.TestCase):
    def test_catalog_order_repeats_per_seed(self):
        names = [f"q{i:02d}" for i in range(40)]
        with tempfile.TemporaryDirectory() as d:
            orders = [run.prepare("catalog", s, 16, d, names)[0]["queries"] for s in (7, 7, 8)]
        self.assertEqual(orders[0], orders[1])
        self.assertNotEqual(orders[0], orders[2])
        self.assertEqual(sorted(orders[0]), sorted(orders[2]))

    def test_merge_and_dedup_inputs_repeat_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            runs = [gen.write_merge(s, os.path.join(d, f"m{i}"), 3, lineitem=_lineitem())
                    for i, s in enumerate((5, 5, 6))]
            batches = [[pq.read_table(x) for x in r["batches"]] for r in runs]
            self.assertTrue(all(x.equals(y) for x, y in zip(batches[0], batches[1])))
            self.assertFalse(batches[0][0].equals(batches[2][0]))
            runs = [gen.write_dedup(s, os.path.join(d, f"d{i}"), 2, 2, 10, documents=_documents())
                    for i, s in enumerate((5, 5, 6))]
            self.assertEqual(runs[0]["labels"], runs[1]["labels"])
            texts = [pq.read_table(r["batches"][0]).column("text").to_pylist() for r in runs]
            self.assertEqual(texts[0], texts[1])
            self.assertNotEqual(texts[0], texts[2])


class Inputs(unittest.TestCase):
    def test_merge_target_has_one_row_per_key(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.write_merge(1, d, 1, lineitem=_lineitem())
            init = pq.read_table(info["initial"]).to_pylist()
        keys = {(r["l_orderkey"], r["l_linenumber"]) for r in init}
        self.assertEqual(len(keys), len(init))
        self.assertEqual(info["batch_rows"], max(20, round(len(init) / 100)))

    def test_near_duplicates_share_one_fresh_text(self):
        texts = ["a b c", "d e f", "a b c dup", "a b c dup dup", "g h i"]
        self.assertEqual(gen._distinct_texts(texts), ["a b c", "d e f", "g h i"])


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.tail_percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(metrics.tail_percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.tail_percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(metrics.tail_percentile([], 0.5))


class Rounds(unittest.TestCase):
    def test_catalog_rounds_repeat_one_order(self):
        names = [f"q{i:02d}" for i in range(40)]
        with tempfile.TemporaryDirectory() as d:
            order = run.prepare("catalog", 7, 15, d, names)[0]["queries"]
        k = run.ROUND_OPS["catalog"]
        self.assertEqual(len(order), run.n_rounds("catalog", 15) * k)
        self.assertEqual(len(set(order)), k)
        self.assertTrue(all(order[i:i + k] == order[:k] for i in range(0, len(order), k)))

    def test_time_metrics_come_from_the_median_round(self):
        # rounds of two ops: 1 s, 1 s, then a round the host slowed to 4 s
        ops, t = [], 0.0
        for i, (dur, cpu) in enumerate([(0.5, 1), (0.5, 1), (0.5, 1), (0.5, 1), (2, 5), (2, 5)]):
            ops.append({"i": i, "start": t, "end": t + dur, "cpu": cpu, "rows": 10, "codegen": 0, "error": ""})
            t += dur
        rec = {"ops": ops, "session_s": 1.0, "seed_s": [2.0, 4.0, 3.0], "warmup_s": 1.0,
               "retained_heap_mb": 5.0, "finish": {}, "bytes_written": 0}
        out = metrics.end_to_end(rec, 0.5, 100, 2)
        self.assertEqual(out["rows_per_s"], 20.0)      # 20 rows in the median 1 s round
        self.assertEqual(out["cpu_s"], 3 * 2)          # 3 rounds x the median round's 2 s
        self.assertEqual(out["wall_s"], 6.0)
        self.assertEqual(out["setup_s"], 0.5 + 1 + 3 + 1)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30), (3, 4)]), 25)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_children_and_jobs_are_subtracted_once(self):
        span = {"start": 0.0, "end": 100.0}
        children = [{"start": 10.0, "end": 40.0}]
        jobs = [{"start": 30, "end": 50}, {"start": 90, "end": 120}]
        # covered: [10, 50] and [90, 100] -> 50 of 100
        self.assertEqual(metrics.self_ms(span, children, jobs), 50.0)

    def test_per_layer_from_a_traced_record(self):
        def job(i, s, e, cpu_ms):
            return {"id": i, "op": "op0", "start": s, "end": e, "tasks": 4,
                    "executor_cpu_ns": cpu_ms * 1_000_000, "executor_run_ms": cpu_ms,
                    "shuffle_write_bytes": 1, "input_bytes": 2, "output_bytes": 3,
                    "spill_bytes": 0, "peak_exec_mem_bytes": 5, "gc_ms": 1}
        rec = {
            "ops": [{"i": 0, "start": 0.0, "end": 1.0, "rows": 1, "codegen": 3, "error": ""}],
            "spans": [
                {"name": "op", "op": "op0", "start": 0.0, "end": 1000.0, "parent": -1},
                {"name": "queries.build", "op": "op0", "start": 0.0, "end": 300.0, "parent": 0},
                {"name": "queries.force", "op": "op0", "start": 300.0, "end": 1000.0, "parent": 0},
                {"name": "queries.build", "op": "", "start": 0.0, "end": 9e9, "parent": -1}],
            "jobs": [job(0, 100, 200, 200), job(1, 400, 900, 1600)],
            "block_store_bytes": 7, "finish": {},
        }
        out = metrics.per_layer(rec, "catalog", cores=4)
        self.assertAlmostEqual(out["queries.build_s"], 0.2)   # 300 - 100 of job
        self.assertAlmostEqual(out["queries.force_s"], 0.2)   # 700 - 500 of job
        self.assertAlmostEqual(out["stage.driver_only_s"], 0.4)
        self.assertEqual(out["queries.eager_jobs"], 1)
        self.assertEqual(out["stage.jobs_per_op"], 2)
        self.assertEqual(out["stage.codegen_compiles_per_op"], 3)
        self.assertAlmostEqual(out["stage.cpu_util"], 1.8 / (0.6 * 4))
        self.assertEqual(out["io.write_s"], 0)  # a layer this workload never calls


class WrongOutputFails(unittest.TestCase):
    def test_catalog_compare(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertTrue(checks.frames_equal(a, a.iloc[::-1]))
        self.assertFalse(checks.frames_equal(a, a.assign(v=[0.5, 1.25])))
        self.assertFalse(checks.frames_equal(a, a.iloc[:1]))

    def test_acon_merge_wrong_key_fails_its_batch(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.write_merge(3, os.path.join(d, "in"), 4, lineitem=_lineitem())
            warm, timed = info["batches"][:1], info["batches"][1:]
            expected = gen.expected_merge(info["initial"], warm + timed)
            rows = list(expected.values())
            target = os.path.join(d, "target")
            self._write(rows, target)
            self.assertEqual(checks.acon_merge(target, info["initial"], warm, timed), (set(), []))
            # corrupt a key the last batch changed
            last = pq.read_table(timed[-1]).to_pylist()
            key = next((r["l_orderkey"], r["l_linenumber"]) for r in last if r["recordmode"] != "D")
            bad = [dict(r, l_quantity=-1.0) if (r["l_orderkey"], r["l_linenumber"]) == key else r
                   for r in rows]
            target2 = os.path.join(d, "target2")
            self._write(bad, target2)
            failed, problems = checks.acon_merge(target2, info["initial"], warm, timed)
            self.assertEqual(failed, {len(timed) - 1})
            self.assertTrue(problems)

    @staticmethod
    def _write(rows, path):
        t = pa.Table.from_pylist(rows)
        pq.write_to_dataset(t, path, partition_cols=["ship_month"])

    def test_dedup_wrong_survivor_fails_its_batch(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.write_dedup(4, os.path.join(d, "in"), 2, 3, 20, documents=_documents())
            labels, n = info["labels"], info["corpus_docs"]

            def store(extra_survivor):
                sink, index = os.path.join(d, "sink"), os.path.join(d, "index")
                for p in (sink, index):
                    shutil.rmtree(p, ignore_errors=True)
                keep = [doc for lab in labels for doc, k in lab.items()
                        if k in ("fresh", "inner_keep")] + extra_survivor
                pq.write_to_dataset(pa.table({"doc_id": keep}), sink)
                ids = list(range(n)) + [doc for lab in labels for doc, k in lab.items()
                                        if k != "copy"]
                pq.write_to_dataset(pa.table({"id": ids * 4, "band": sorted([0, 1, 2, 3] * len(ids))}),
                                    index, partition_cols=["band"])
                return sink, index

            sink, index = store([])
            self.assertEqual(checks.dedup_ingest(sink, index, n, [], labels, 4), (set(), []))
            copy = next(doc for doc, k in labels[1].items() if k == "copy")
            sink, index = store([copy])  # a copy that leaked to the sink
            failed, _ = checks.dedup_ingest(sink, index, n, [], labels, 4)
            self.assertEqual(failed, {1})


class BenchmarkJson(unittest.TestCase):
    def test_result_line_metrics_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: metrics.E2E_UNITS[k] for k in metrics.RESULT_E2E})
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         metrics.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
