"""Self-tests of the benchmark's metric math, oracle comparison and
seeded inputs. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


def rec(q, wall, ok=True, p=0, traced=False, layer=None):
    return {"query": q, "pass": p, "ok": ok, "traced": traced, "wall_s": wall,
            "run_s": wall / 2, "plan_s": 0.0, "exec_s": wall / 2,
            "pool_mb": 1.0, "pins": 1, "layer": layer}


def sess(p, setup, start=None, warmup=None):
    return {"pass": p, "family": "a", "setup_s": setup, "start_s": start, "warmup_s": warmup}


class MedianAndPercentiles(unittest.TestCase):
    def test_median_of_even_and_odd_counts(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_timing_states_its_sample_count(self):
        small = stats.timing([1.0, 2.0, 3.0])
        self.assertEqual(small, {"p50": 2.0, "samples": 3})
        big = stats.timing([float(i) for i in range(1, 41)])
        self.assertEqual(big["samples"], 40)
        self.assertEqual(big["p50"], 20.5)
        self.assertAlmostEqual(big["p75"], 30.25)


class EndToEnd(unittest.TestCase):
    def test_total_is_sum_of_per_query_medians_over_successes(self):
        records = [rec("a", 9.0, p=0), rec("a", 1.0, p=1), rec("a", 3.0, p=2),
                   rec("a", 2.0, p=3), rec("b", 30.0, p=0), rec("b", 10.0, p=1),
                   rec("b", 99.0, ok=False, p=2)]
        sessions = [sess(0, 9.0), sess(1, 0.5), sess(2, 0.7), sess(3, 0.6), sess(4, 0.8)]
        m = stats.end_to_end(records, sessions)
        # pass 0 (cold) and the failed execution are left out
        self.assertEqual(m["total_s"], (12.0, "s", 4))
        self.assertEqual(m["query_p50_s"], (2.5, "s", 4))
        # set-up: the cold session of pass 0 is left out too
        self.assertAlmostEqual(m["setup_s"][0], 0.65)
        self.assertEqual(m["setup_s"][2], 4)

    def test_fail_frac_base_is_every_execution(self):
        records = [rec("a", 1.0), rec("a", 1.0, p=1), rec("b", 1.0, ok=False),
                   rec("b", 1.0, p=1), rec("c", 1.0)]
        attempted, failed = stats.failures(records, {"a": True, "b": True, "c": False})
        self.assertEqual(attempted, 5)
        # b's throw, and c's single execution whose result failed the oracle
        self.assertEqual(failed, 2)


class PerLayer(unittest.TestCase):
    def layer(self, jobs, batches=(), phase_ms=0, data=0):
        return {"jobs": jobs, "stages": 1, "tasks": 2, "failed_tasks": 0,
                "task_run_ms": 1000, "task_cpu_ns": 10 ** 9, "gc_ms": 10,
                "shuffle_write_bytes": 5, "shuffle_read_bytes": 5, "spill_bytes": 0,
                "output_records": 1, "output_bytes": 1, "input_records": 3,
                "input_bytes": 4, "analysis_ms": 1, "optimization_ms": 2,
                "planning_ms": 3, "batch_ms": list(batches), "data_batches": data,
                "batch_phase_ms": {k: phase_ms for k in
                                   ("addBatch", "queryPlanning", "getBatch", "walCommit",
                                    "triggerExecution")},
                "state_rows": 7, "state_mem_bytes": 8, "exchanges": 1, "wscg_stages": 2,
                "fallback_exprs": None}

    def test_traced_passes_only_and_overhead(self):
        records = [
            rec("a", 4.0, p=0),
            rec("a", 2.2, p=1, traced=True, layer=self.layer(3, [100, 300], 500, 1)),
            rec("a", 2.0, p=2),
            rec("a", 2.4, p=3, traced=True, layer=self.layer(5, [200, 400], 700, 2)),
        ]
        probe = {"rows": 10, "kernels": [{"name": k, "seconds": [0.3, 0.1, 0.2],
                                          "checksums": [1, 1, 1]} for k in stats.KERNELS]}
        sessions = [sess(0, 9.0), sess(1, 0.3, 0.1, 0.2), sess(2, 0.4), sess(3, 0.5, 0.1, 0.4)]
        m = stats.per_layer(records, sessions,
                            {"cpus": 4, "cold_s": 9.0, "peak_rss_mb": 5.0}, probe)
        self.assertEqual(m["exec.jobs"], (4.0, "count", 2))
        # start / warm-up split from the traced sessions only
        self.assertAlmostEqual(m["session.start_s"][0], 0.1)
        self.assertAlmostEqual(m["session.warmup_s"][0], 0.3)
        self.assertEqual(m["streaming.batches"][0], 2.0)
        self.assertEqual(m["streaming.data_batch_frac"][0], 0.75)
        self.assertAlmostEqual(m["streaming.add_batch_s"][0], 0.6)
        self.assertEqual(m["streaming.batch_p50_ms"][0], 250.0)
        self.assertEqual(m["planning.fallback_exprs"][0], 0)
        self.assertAlmostEqual(m["trace.total_s"][0], 2.3)
        self.assertAlmostEqual(m["trace.untraced_total_s"][0], 2.0)
        self.assertAlmostEqual(m["trace.overhead_pct"][0], 15.0)
        self.assertAlmostEqual(m["exec.core_busy_frac"][0], 1.0 / (2.3 * 4))
        self.assertEqual(m["functions.minhash_s"][0], 0.2)
        sh = stats.shares(m)
        self.assertAlmostEqual(sh["run"], 1.15 / 2.3)
        self.assertAlmostEqual(sh["exec"], 1.15 / 2.3)
        self.assertEqual(sh["plan"], 0.0)
        self.assertTrue(stats.probe_ok(probe))
        probe["kernels"][0]["checksums"][2] = 2
        self.assertFalse(stats.probe_ok(probe))

    def test_every_declared_per_layer_metric_is_computed(self):
        declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        records = [rec("a", 1.0, p=1, traced=True, layer=self.layer(1)), rec("a", 1.0, p=2)]
        probe = {"rows": 1, "kernels": [{"name": k, "seconds": [0.1], "checksums": [1]}
                                        for k in stats.KERNELS]}
        m = stats.per_layer(records, [sess(1, 0.3, 0.1, 0.2)],
                            {"cpus": 4, "cold_s": 1.0, "peak_rss_mb": 5.0}, probe)
        for d in declared["per_layer"]:
            self.assertIn(d["name"], m)
            self.assertEqual(m[d["name"]][1], d["unit"], d["name"])
        e2e = stats.end_to_end(records, [sess(1, 0.3)])
        for d in declared["end_to_end"]:
            self.assertEqual(e2e[d["name"]][1], d["unit"], d["name"])


class OracleCompare(unittest.TestCase):
    def side(self, rows, types=None):
        cols = sorted(rows[0].keys()) if rows else ["x"]
        types = types or {c: "DOUBLE" for c in cols}
        data = [tuple(r[c] for c in cols) for r in rows]
        data.sort(key=lambda r: tuple(oracle.sort_key(v) for v in r))
        return cols, types, data

    def test_float_tolerance_and_row_order(self):
        a = self.side([{"x": 0.1 + 0.2}, {"x": 5.0}])
        b = self.side([{"x": 5.0}, {"x": 0.3}])
        self.assertTrue(oracle.passed(oracle.compare(a, b)))
        c = self.side([{"x": 5.0}, {"x": 0.31}])
        self.assertIn("VALUE MISMATCH", oracle.compare(a, c))

    def test_type_rules(self):
        a = self.side([{"x": 1.0}])
        wide = self.side([{"x": 1.0}], {"x": "HUGEINT"})
        self.assertIn("NON-CANONICAL", oracle.compare(a, wide))
        text = self.side([{"x": 1.0}], {"x": "VARCHAR"})
        self.assertIn("TYPE MISMATCH", oracle.compare(a, text))
        self.assertEqual(oracle.canon_type("INTEGER[]"), "BIGINT[]")
        self.assertEqual(oracle.canon_type("TIMESTAMP_NS"), "TIMESTAMP")

    def test_rowcount_and_schema(self):
        a = self.side([{"x": 1.0}, {"x": 2.0}])
        self.assertIn("ROWCOUNT", oracle.compare(a, self.side([{"x": 1.0}])))
        self.assertIn("SCHEMA", oracle.compare(a, self.side([{"y": 1.0}, {"y": 2.0}])))


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_rows_and_types_kept(self):
        base = HERE / "data"
        with tempfile.TemporaryDirectory() as tmp:
            d1, m1 = inputs.seeded_inputs(base, Path(tmp) / "a", 7)
            d2, m2 = inputs.seeded_inputs(base, Path(tmp) / "b", 7)
            d3, _ = inputs.seeded_inputs(base, Path(tmp) / "c", 8)
            for src in base.glob("*.parquet"):
                self.assertEqual((d1 / src.name).read_bytes(), (d2 / src.name).read_bytes())
                self.assertEqual(inputs.column_types(d1 / src.name), inputs.column_types(src))
            self.assertEqual(m1["tables"], m2["tables"])
            self.assertEqual(m1["tables"]["events"]["rows"], 10000)
            ev = (d1 / "events.parquet").read_bytes()
            self.assertNotEqual(ev, (d3 / "events.parquet").read_bytes())
            import pyarrow.parquet as pq
            a = pq.read_table(d1 / "events.parquet").sort_by("event_id")
            b = pq.read_table(base / "events.parquet").sort_by("event_id")
            self.assertTrue(a.equals(b))


    def test_documents_scale_up_copy_distinct(self):
        import pyarrow.parquet as pq
        base = pq.read_table(HERE / "data" / "documents.parquet")
        big = inputs.scale_documents(base, 3)
        self.assertEqual(big.schema, base.schema)
        self.assertEqual(big.num_rows, 3 * base.num_rows)
        ids = big.column("doc_id").to_pylist()
        self.assertEqual(len(set(ids)), len(ids))
        row = big.slice(2 * base.num_rows, 1).to_pylist()[0]
        orig = base.slice(0, 1).to_pylist()[0]
        self.assertEqual(row["doc_id"], orig["doc_id"] + 2 * (max(ids[:base.num_rows]) + 1))
        words, owords = row["text"].split(" "), orig["text"].split(" ")
        # every 3rd word carries the copy's suffix, so no 3-gram is shared
        self.assertEqual(words[2], owords[2] + "_2")
        self.assertEqual(words[:2], owords[:2])
        self.assertEqual(row["n_chars"], len(row["text"]))
        self.assertIs(inputs.scale_documents(base, 1), base)


if __name__ == "__main__":
    unittest.main()
