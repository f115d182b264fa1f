"""Tests of the benchmark harness itself (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""

import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail(values)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in values if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 9.0, 3.0] * 6
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))
        v, _, _ = stats.tail(values)
        self.assertGreaterEqual(sum(1 for x in sorted(values)[len(values) - 10:]), 10)
        self.assertGreaterEqual(v, stats.median(values))

    def test_too_few_samples(self):
        self.assertEqual(stats.tail(list(range(19))), (None, None, 19))
        v, pct, n = stats.tail(list(range(20)))
        self.assertEqual((v, pct, n), (9, 50.0, 20))


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
            "run": 0, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, None, 0, 100), span(2, 1, 10, 30), span(3, 2, 15, 20),
                 span(4, 1, 50, 60)]
        s = stats.self_times(spans)
        self.assertEqual(s[1], 100 - 20 - 10)
        self.assertEqual(s[2], 20 - 5)
        self.assertEqual(s[3], 5)
        self.assertEqual(s[4], 10)

    def test_overlapping_children_count_once(self):
        # two threads' children overlap in [20, 30]: covered = [10, 40]
        spans = [span(1, None, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 40)]
        s = stats.self_times(spans)
        self.assertEqual(s[1], 70)
        self.assertTrue(all(v >= 0 for v in s.values()))

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, None, 0, 10), span(2, 1, 5, 50)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_synthetic_children_back_to_back(self):
        spans = [span(1, None, 100, 200),
                 {"id": 2, "parent": 1, "name": "n", "duration": 30, "run": 0, "attrs": {}},
                 {"id": 3, "parent": 1, "name": "n", "duration": 50, "run": 0, "attrs": {}}]
        placed = stats.place_synthetic(spans)
        self.assertEqual((placed[1]["start"], placed[1]["end"]), (100, 130))
        self.assertEqual((placed[2]["start"], placed[2]["end"]), (130, 180))
        self.assertEqual(stats.self_times(placed)[1], 20)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)


def digest(directory):
    out = {}
    for d, _, files in os.walk(directory):
        for f in files:
            p = os.path.join(d, f)
            if f.endswith(".parquet"):
                out[os.path.relpath(p, directory)] = pq.read_table(p).to_pylist()
    return out


class SmallInputs(unittest.TestCase):
    """Shrink the generator so the tests run in seconds."""

    def setUp(self):
        self.saved = {k: getattr(gen, k) for k in
                      ("N_CUSTOMERS", "N_ORDERS", "BOOTSTRAP_ORDERS", "N_SLICES",
                       "N_BASE_DOCS", "N_BATCHES")}
        gen.N_CUSTOMERS, gen.N_ORDERS, gen.BOOTSTRAP_ORDERS = 200, 3000, 1000
        gen.N_SLICES, gen.N_BASE_DOCS, gen.N_BATCHES = 4, 60, 5
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        for k, v in self.saved.items():
            setattr(gen, k, v)
        shutil.rmtree(self.tmp)


class Generator(SmallInputs):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for workload in ("pipeline_batch", "corpus_curation", "lakehouse_cdc"):
            a, b, c = (os.path.join(self.tmp, f"{workload}-{i}") for i in range(3))
            gen.generate(workload, 7, a)
            gen.generate(workload, 7, b)
            gen.generate(workload, 8, c)
            self.assertEqual(digest(a), digest(b), workload)
            self.assertNotEqual(digest(a), digest(c), workload)

    def test_change_batches_only_touch_live_keys(self):
        gen.generate("lakehouse_cdc", 3, self.tmp)
        con = duckdb.connect()
        dead = set()
        for b in range(gen.N_BATCHES):
            rows = con.execute(f"SELECT _op, o_orderkey FROM read_parquet("
                               f"'{self.tmp}/batches/batch-{b:05d}.parquet')").fetchall()
            touched = {k for op, k in rows if op in ("U", "D")}
            self.assertFalse(touched & dead, f"batch {b} touches a deleted key")
            dead |= {k for op, k in rows if op == "D"}


class CorruptionIsCaught(SmallInputs):
    """Builds the outputs a correct lakehouse_cdc run leaves (the reference
    replay, written as the harness writes them), checks they pass, then
    corrupts them the way a lost change batch would."""

    def build_outputs(self, work, n, skip_batch=None):
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        inp = os.path.join(work, "in")
        cols = checks.ORDER_COLS
        con.execute(f"CREATE TABLE s AS SELECT {cols} FROM read_parquet('{inp}/orders_base.parquet')")
        os.makedirs(os.path.join(work, "stream", "sink"))
        facts = {"batches_applied": n}
        sink_parts = []
        for b in range(n):
            path = f"{inp}/batches/batch-{b:05d}.parquet"
            if b != skip_batch:
                con.execute(f"""CREATE OR REPLACE TABLE s AS
                    SELECT * FROM s WHERE o_orderkey NOT IN (SELECT o_orderkey FROM read_parquet('{path}')
                                                             WHERE _op IN ('U', 'D'))
                    UNION ALL SELECT {cols} FROM read_parquet('{path}') WHERE _op IN ('U', 'I')""")
                sink_parts.append(
                    f"SELECT {cols}, CASE _op WHEN 'U' THEN 'update_postimage' WHEN 'I' THEN 'insert' "
                    f"ELSE 'delete' END AS _change_type FROM read_parquet('{path}')")
                sink_parts.append(
                    f"SELECT {cols}, 'update_preimage' AS _change_type FROM read_parquet('{path}') "
                    f"WHERE _op = 'U'")
            lo = con.execute(f"SELECT min(o_orderkey) FROM read_parquet('{path}')").fetchone()[0]

            def fp(where="TRUE"):
                r = con.execute(f"SELECT count(*), sum(o_orderkey), sum(o_custkey), "
                                f"sum(o_totalprice) FROM s WHERE {where}").fetchone()
                return {"rows": r[0], "key_sum": r[1], "cust_sum": r[2], "price_sum": r[3]}
            full, rng = fp(), fp(f"o_orderkey BETWEEN {lo} AND {lo + checks.RANGE_WIDTH}")
            facts[f"reads_{b}"] = {"delta_full": full, "iceberg_full": full, "delta_range": rng,
                                   "iceberg_range": rng, "range_lo": lo}
        for name in ("delta_final", "iceberg_final"):
            os.makedirs(os.path.join(work, "check", name))
            con.execute(f"COPY s TO '{work}/check/{name}/part-0.parquet' (FORMAT PARQUET)")
        con.execute(f"COPY ({' UNION ALL '.join(sink_parts)}) TO "
                    f"'{work}/stream/sink/part-0.parquet' (FORMAT PARQUET)")
        return {"facts": facts}

    def run_check(self, res):
        return checks.check("lakehouse_cdc", self.tmp, res)

    def test_clean_outputs_pass(self):
        gen.generate("lakehouse_cdc", 5, os.path.join(self.tmp, "in"))
        failures, n = self.run_check(self.build_outputs(self.tmp, 4))
        self.assertEqual(failures, [])
        self.assertGreater(n, 10)

    def test_dropped_change_batch_fails(self):
        gen.generate("lakehouse_cdc", 5, os.path.join(self.tmp, "in"))
        res = self.build_outputs(self.tmp, 4, skip_batch=2)
        failures, _ = self.run_check(res)
        joined = "\n".join(failures)
        self.assertIn("final Delta table", joined)
        self.assertIn("final Iceberg table", joined)
        self.assertIn("change feed", joined)
        self.assertIn("batch 2 delta full read", joined)


class NearestNeighbours(SmallInputs):
    """The nearest-neighbour check against outputs built with numpy."""

    def build(self, corrupt=False):
        gen.gen_corpus(3, os.path.join(self.tmp, "in"), 40, 3)
        docs = pq.read_table(os.path.join(self.tmp, "in", "documents.parquet")).to_pydict()
        ids = docs["doc_id"]
        vecs = np.asarray(docs["vec"], dtype=np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        rows = []
        for qi, q in enumerate(ids):
            if q % 50 != 7:
                continue
            cos = vecs @ vecs[qi]
            ranked = sorted((i for i in range(len(ids)) if ids[i] != q),
                            key=lambda i: (-cos[i], ids[i]))[:checks.ANN_K]
            rows += [(q, ids[i], r + 1) for r, i in enumerate(ranked)]
        if corrupt:  # the last neighbour of the first query swapped for a far one
            q = rows[0][0]
            far = min((i for i in range(len(ids)) if ids[i] != q),
                      key=lambda i: vecs[i] @ vecs[ids.index(q)])
            rows[checks.ANN_K - 1] = (q, ids[far], checks.ANN_K)
        con = duckdb.connect()
        clean = os.path.join(self.tmp, "curation", "clean", "near_deduped")
        top = os.path.join(self.tmp, "curation", "similar", "top5")
        os.makedirs(clean)
        os.makedirs(top)
        con.execute(f"COPY (SELECT unnest({ids}) AS doc_id) TO '{clean}/part-0.parquet' (FORMAT PARQUET)")
        con.execute("CREATE TABLE t (q_id BIGINT, doc_id BIGINT, rank INTEGER)")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
        con.execute(f"COPY t TO '{top}/part-0.parquet' (FORMAT PARQUET)")

    def failures(self):
        c = checks.Checker()
        checks.check_nearest_neighbours(c, self.tmp)
        return c.failures

    def test_exact_answer_passes(self):
        self.build()
        self.assertEqual(self.failures(), [])

    def test_wrong_neighbour_fails(self):
        self.build(corrupt=True)
        self.assertIn("nearest neighbours wrong", "\n".join(self.failures()))


class LayerCoverage(unittest.TestCase):
    def full_report(self, workload):
        values = {}
        for layer in stats.WORKLOAD_LAYERS[workload]:
            values[f"{layer}.calls"] = 1
            values[f"{layer}.direct_calls"] = 1
            values[f"{layer}.self_ms"] = 1.0
        for m in stats.bench_json()["per_layer"]:
            values[m["name"]] = 1.0
        return values

    def test_complete_traced_run_passes(self):
        for workload in stats.WORKLOAD_LAYERS:
            self.assertEqual(stats.coverage(workload, self.full_report(workload)), [])

    def test_missing_layer_and_zero_counter_fail(self):
        values = self.full_report("lakehouse_cdc")
        del values["sources.maintenance.calls"]
        values["sources.maintenance.bytes_rewritten"] = 0.0
        failures = "\n".join(stats.coverage("lakehouse_cdc", values))
        self.assertIn("never entered layer sources.maintenance", failures)
        self.assertIn("sources.maintenance.bytes_rewritten reads 0", failures)

    def test_every_listed_layer_is_entered_by_a_listed_workload(self):
        bench = stats.bench_json()
        entered = {layer for w in bench["workloads"] for layer in stats.WORKLOAD_LAYERS[w["name"]]}
        for m in bench["per_layer"]:
            layer = m["name"].rsplit(".", 1)[0]
            if layer not in ("spark", "trace"):
                self.assertIn(layer, entered, m["name"])
        every = {layer for layers in stats.WORKLOAD_LAYERS.values() for layer in layers}
        self.assertEqual(entered, every, "a layer is measured by no listed workload")


class TracingOverhead(unittest.TestCase):
    def test_bracketing_cancels_the_warm_up_trend(self):
        # runs 3 and 5 traced; runs speed up by 1 s each; tracing costs 0.25 s
        runs = [{"run": r, "seconds": 20.0 - r + (0.25 if r in (3, 5) else 0.0),
                 "traced": r in (3, 5)} for r in range(7)]
        o = stats.overhead(runs)
        self.assertAlmostEqual(o["trace.overhead_s"], 0.25)

    def test_unbracketed_traced_run_is_left_out(self):
        runs = [{"run": 0, "seconds": 30.0, "traced": False},
                {"run": 1, "seconds": 10.0, "traced": False},
                {"run": 2, "seconds": 11.0, "traced": True}]
        self.assertEqual(stats.overhead(runs), {})


class MetricNames(unittest.TestCase):
    def test_every_end_to_end_metric_is_computed(self):
        runs = [{"run": r, "seconds": 10.0 + r, "traced": False} for r in range(3)]
        ops = [{"run": r, "kind": "node", "name": f"n{i}", "seconds": 0.1 * i, "ok": True}
               for r in range(3) for i in range(11)]
        res = {"runs": runs, "ops": ops, "setup_s": [9.0, 0.5, 0.4], "heap_peak_mb": 90.0,
               "prep_s": 1.0, "counts": {}}
        metrics = stats.select(stats.end_to_end(res), "end_to_end")
        self.assertEqual(metrics["run_s"]["value"], 11.5)  # run 0 is the cold warm-up
        self.assertEqual(metrics["setup_s"]["value"], 0.5)
        self.assertTrue(all(m["value"] > 0 for m in metrics.values()))

    def test_benchmark_json_shape(self):
        bench = stats.bench_json()
        self.assertLessEqual({w["name"] for w in bench["workloads"]},
                             {"pipeline_batch", "corpus_curation", "lakehouse_cdc"})
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(bench["per_layer"]), 128)
        self.assertIn("setup_s", names)


if __name__ == "__main__":
    unittest.main()
