"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import glob
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import report  # noqa: E402

ROOT = os.path.dirname(BENCH)
FIELDS = ["span", "stage", "launch_ms", "finish_ms", "run_ms", "cpu_ns",
          "gc_ms", "shuffle_write_bytes", "shuffle_write_records",
          "fetch_wait_ms", "spill_bytes", "result_bytes", "input_bytes",
          "input_records", "output_bytes", "output_records"]


def span(i, name, parent, start, end, notes=None):
    return {"id": i, "name": name, "parent": parent, "pass": 3,
            "start_ms": start, "end_ms": end, "notes": notes or {}}


def task(span_id, stage, launch, finish):
    return [span_id, stage, launch, finish, finish - launch, 1e6, 1.0, 100.0,
            10.0, 0.0, 0.0, 50.0, 1000.0, 5.0, 0.0, 0.0]


def synthetic_raw():
    """A run with one untraced and one traced timed pass."""
    manifest = {
        "rows": {t: 10 for t in report.SILVER + ["documents", "embeddings",
                                                 "nation"]},
        "bytes": {t: 1000 for t in report.SILVER + ["documents", "embeddings",
                                                    "nation"]},
        "silver_rows": {t: 9 for t in report.SILVER},
    }
    spans = [
        span(0, "pass", -1, 0.0, 1000.0),
        span(1, "pipeline.silver", 0, 10.0, 400.0),
        span(2, "silver.orders", 1, 20.0, 200.0),
        span(3, "silver.customer", 1, 150.0, 300.0),  # overlaps its sibling
        span(4, "dedup_ngram_jaccard.build", 0, 400.0, 700.0,
             {"checkpoint_bytes": 2048.0}),
        span(5, "dedup_ngram_jaccard.consume", 0, 700.0, 990.0),
    ]
    tasks = [task(2, 1, 30.0, 120.0), task(3, 2, 160.0, 250.0),
             task(4, 3, 410.0, 500.0), task(4, 3, 410.0, 690.0),
             task(5, 4, 710.0, 800.0)]
    digests = {"dedup_ngram_jaccard": "7:abc"}
    passes = [
        {"index": 0, "kind": "cold", "traced": False, "wall_s": 3.0,
         "cpu_s": 6.0, "heap_mb": 0.0, "digests": digests, "facts": {}},
        {"index": 2, "kind": "timed", "traced": False, "wall_s": 1.1,
         "cpu_s": 2.0, "heap_mb": 100.0, "digests": digests, "facts": {}},
        {"index": 3, "kind": "timed", "traced": True, "wall_s": 1.0,
         "cpu_s": 2.0, "heap_mb": 110.0, "digests": digests,
         "facts": {"silver_rows": {t: 9 for t in report.SILVER},
                   "validate_failed": [], "stored_bytes": 500,
                   "files_written": 2}},
    ]
    raw = {"setup_s": 4.5, "tables": ["orders", "documents"], "passes": passes,
           "spans": spans, "jobs": [[0, 2, 20.0], [1, 4, 400.0]],
           "task_fields": FIELDS, "tasks": tasks}
    return raw, manifest


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes_and_seeds_differ(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.generate(a, 7, 0.01)
            gen.generate(b, 7, 0.01)
            gen.generate(c, 8, 0.01)
            names = sorted(os.path.relpath(f, a) for f in glob.glob(
                os.path.join(a, "**", "*"), recursive=True)
                if os.path.isfile(f))
            self.assertIn("manifest.json", names)
            self.assertIn(os.path.join("lineitem.parquet",
                                       "part-00003.parquet"), names)
            same, diff, _ = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual(diff, [])
            self.assertEqual(sorted(same), names)
            _, diff, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn(os.path.join("lineitem.parquet",
                                       "part-00000.parquet"), diff)
            self.assertIn(os.path.join("documents.parquet",
                                       "part-00000.parquet"), diff)

    def test_manifest_matches_the_planted_defects(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate(d, 3, 0.01)
            con = duckdb.connect()

            def one(sql):
                return con.execute(sql.replace("T(", f"read_parquet('{d}/")
                                   .replace(")T", ".parquet/*.parquet')")).fetchone()[0]
            self.assertEqual(m["silver_rows"]["customer"], one(
                "SELECT count(DISTINCT c_custkey) FROM T(customer)T "
                "WHERE c_name IS NOT NULL AND c_nationkey IS NOT NULL AND "
                "c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL"))
            self.assertEqual(m["silver_rows"]["orders"], one(
                "SELECT count(*) FROM (SELECT DISTINCT * FROM T(orders)T)"))
            self.assertEqual(m["silver_rows"]["lineitem"], one(
                "SELECT count(*) FROM T(lineitem)T WHERE l_extendedprice > 0 "
                "AND l_tax >= 0 AND l_quantity > 0"))
            for t, key in [("part", "p_partkey"), ("supplier", "s_suppkey"),
                           ("events", "event_id")]:
                self.assertEqual(m["silver_rows"][t], one(
                    f"SELECT count(DISTINCT {key}) FROM T({t})T"))
                self.assertGreater(m["rows"][t], m["silver_rows"][t])
            self.assertGreater(one("SELECT count(*) FROM T(orders)T "
                                   "WHERE o_orderstatus IS NULL"), 0)
            self.assertGreater(one("SELECT count(*) FROM T(events)T "
                                   "WHERE value IS NULL"), 0)


class OutputCheckTest(unittest.TestCase):

    def test_corrupted_digest_is_a_failed_pass(self):
        raw, manifest = synthetic_raw()
        verified = {"dedup_ngram_jaccard": "7:abc"}
        self.assertEqual(report.check_passes(raw["passes"], verified,
                                             manifest)[:2], (3, 0))
        raw["passes"][1]["digests"] = {"dedup_ngram_jaccard": "7:abd"}
        attempted, failed, problems = report.check_passes(
            raw["passes"], verified, manifest)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("dedup_ngram_jaccard", problems[0])

    def test_a_timed_pass_must_report_its_digests(self):
        raw, manifest = synthetic_raw()
        verified = {"dedup_ngram_jaccard": "7:abc"}
        raw["passes"][0]["digests"] = {}
        self.assertEqual(report.check_passes(raw["passes"], verified,
                                             manifest)[1], 0)
        raw["passes"][1]["digests"] = {}
        self.assertEqual(report.check_passes(raw["passes"], verified,
                                             manifest)[1], 1)

    def test_unverified_output_and_wrong_silver_count_fail(self):
        raw, manifest = synthetic_raw()
        self.assertEqual(report.check_passes(
            raw["passes"], {"dedup_ngram_jaccard": None}, manifest)[1], 3)
        raw["passes"][2]["facts"]["silver_rows"]["orders"] = 8
        self.assertEqual(report.check_passes(
            raw["passes"], {"dedup_ngram_jaccard": "7:abc"}, manifest)[1], 1)

    def test_twin_mismatch_leaves_the_output_unverified(self):
        dumped = {"a": {"digest": "1:x"}, "b": {"digest": "2:y"}}
        self.assertEqual(report.verified_digests(dumped, {"a": None,
                                                          "b": "rows"}),
                         {"a": "1:x", "b": None})


class MetricNameTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_every_name_is_well_formed_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, report.NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_reported_metrics_are_the_declared_ones(self):
        raw, manifest = synthetic_raw()
        e2e = report.end_to_end(raw, manifest, [5.0, raw["setup_s"], 4.0])
        self.assertEqual(e2e["setup_s"][0], 4.5)
        self.assertEqual(list(e2e),
                         [m["name"] for m in self.bench["end_to_end"]])
        for m in self.bench["end_to_end"]:
            self.assertEqual(e2e[m["name"]][1], m["unit"])
            self.assertGreater(e2e[m["name"]][0], 0)
        layers = report.per_layer(raw, manifest)
        self.assertEqual(sorted(layers),
                         sorted(m["name"] for m in self.bench["per_layer"]))
        for m in self.bench["per_layer"]:
            self.assertEqual(layers[m["name"]][1], m["unit"])


class SelfTimeTest(unittest.TestCase):

    def test_self_times_stay_within_the_pass_wall_time(self):
        raw, _ = synthetic_raw()
        led = report.pass_ledger(raw, 3)
        wall = {s["name"]: s for s in led["spans"]}["pass"]["wall_s"]
        for s in led["spans"]:
            self.assertGreaterEqual(s["self_s"], 0.0)
            self.assertLessEqual(s["self_s"], s["wall_s"])
            self.assertLessEqual(s["self_s"], wall)
        # overlapping siblings are counted once in their parent's cover
        silver = {s["name"]: s for s in led["spans"]}["pipeline.silver"]
        self.assertAlmostEqual(silver["self_s"], (390.0 - 280.0) / 1000.0)
        self.assertLessEqual(sum(s["self_s"] for s in led["spans"]),
                             wall + 0.15)

    def test_committed_ledgers_account_for_each_pass(self):
        for path in glob.glob(os.path.join(BENCH, "ledgers", "*.json")):
            with open(path) as fh:
                ledger = json.load(fh)
            for p in ledger["traced_passes"]:
                spans = p["spans"]
                for s in spans:
                    self.assertLessEqual(s["self_s"], p["wall_s"] + 1e-6, path)
                    self.assertGreaterEqual(s["self_s"], -1e-6, path)
                # spans nest without overlap here, so the self times add up
                # to the pass wall time, less the pass timer's own edges
                total = sum(s["self_s"] for s in spans)
                self.assertLessEqual(total, p["wall_s"] + 1e-6, path)
                self.assertGreater(total, 0.99 * p["wall_s"], path)


if __name__ == "__main__":
    unittest.main()
