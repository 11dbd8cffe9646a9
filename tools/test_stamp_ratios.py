"""Bench-chunk recovery in stamp_ratios.load_bench on a captured-stdout
artifact (BENCH_rNN.json): sbt prefixes every stdout line with `[info] `
and only a suffix of stdout is kept, so the head of the full JSON line
is gone.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import importlib.util
import json
import os
import tempfile
import unittest

_spec = importlib.util.spec_from_file_location(
    "stamp_ratios", os.path.join(os.path.dirname(os.path.abspath(__file__)), "stamp_ratios.py"))
stamp_ratios = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(stamp_ratios)

# seconds as Bench measured them; 0.0125 s is an exact half-ms tie that
# Scala's math.round sends up (13) and Python's round sends down (12)
QUERIES = {"q_a": 1.2344, "q_b": 0.0125, "q_c": 7.5}


TOTALS = ('{"bench_totals":{"queries":3,"ok":3,"failed":0,'
          '"total_s":8.747,"geomean_s":0.4893}}')


def captured_tail(totals=None):
    """Bench stdout as captured: `totals` is the last Bench line, or None for
    artifacts from before the totals line existed."""
    full = json.dumps({"metric": "total", "value": sum(QUERIES.values()), "unit": "sec",
                       "queries": QUERIES, "sf": "/data/sf0.1"})
    chunks = ['{"bench_chunk":%d,"of":3,"unit":"ms","queries_ms":{%s}}' % (i + 1, c)
              for i, c in enumerate(['"q_a":1234', '"q_b":13', '"q_c":7500'])]
    bench = [full] + chunks + ([totals] if totals else [])
    lines = ["[info] " + line for line in bench] + ["[success] Total time: 12 s"]
    out = "\n".join(lines) + "\n"
    # only a suffix survives: cut inside chunk 1
    return out[out.index('"q_a":1234}}'):], full


class ChunkRecoveryTest(unittest.TestCase):
    def write_artifact(self, d, tail):
        path = os.path.join(d, "BENCH_r99.json")
        with open(path, "w") as f:
            json.dump({"n": 1, "rc": 0, "tail": tail, "parsed": None}, f)
        return path

    def test_prefixed_chunks_recover_full_map_from_sibling(self):
        tail, full = captured_tail()
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCH_LOCAL_c32.json"), "w") as f:
                f.write(full + "\n")
            qs, errors, note = stamp_ratios.load_bench(self.write_artifact(d, tail))
        self.assertEqual(qs, QUERIES)
        self.assertEqual(errors, {})
        self.assertIn("recovered full map from", note)

    def test_without_sibling_partial_map_says_errors_unknown(self):
        tail, _ = captured_tail()
        with tempfile.TemporaryDirectory() as d:
            qs, _, note = stamp_ratios.load_bench(self.write_artifact(d, tail))
        self.assertEqual(qs, {"q_b": 0.013, "q_c": 7.5})
        self.assertIn("errors unknown", note)

    def test_totals_line_settles_errors_of_a_partial_map(self):
        tail, _ = captured_tail(TOTALS)
        with tempfile.TemporaryDirectory() as d:
            qs, errors, note = stamp_ratios.load_bench(self.write_artifact(d, tail))
        self.assertEqual(qs, {"q_b": 0.013, "q_c": 7.5})
        self.assertEqual(errors, {})
        self.assertIn("no query failed", note)
        self.assertNotIn("errors unknown", note)
        self.assertIn("3 queries, 0 failed, 8.747 s total, geomean 0.4893 s", note)

    def test_totals_line_counting_failures_is_reported(self):
        tail, _ = captured_tail(TOTALS.replace('"ok":3,"failed":0', '"ok":2,"failed":1'))
        with tempfile.TemporaryDirectory() as d:
            _, _, note = stamp_ratios.load_bench(self.write_artifact(d, tail))
        self.assertIn("1 failed, which unknown", note)

    def test_totals_line_rejects_a_sibling_with_other_counts(self):
        tail, _ = captured_tail(TOTALS)
        other = json.dumps({"metric": "total", "value": 9.0, "unit": "sec",
                            "queries": dict(QUERIES, q_d=0.2), "sf": "/data/sf0.1"})
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCH_LOCAL_c32.json"), "w") as f:
                f.write(other + "\n")
            qs, _, note = stamp_ratios.load_bench(self.write_artifact(d, tail))
        self.assertNotIn("q_d", qs)
        self.assertIn("partial map", note)

    def test_totals_line_is_read_with_a_full_recovery(self):
        tail, full = captured_tail(TOTALS)
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCH_LOCAL_c32.json"), "w") as f:
                f.write(full + "\n")
            qs, _, note = stamp_ratios.load_bench(self.write_artifact(d, tail))
        self.assertEqual(qs, QUERIES)
        self.assertIn("recovered full map from", note)
        self.assertIn("totals line: 3 queries, 0 failed", note)



class StampFileTest(unittest.TestCase):
    def test_committed_stamp_file_is_a_bench_map_with_provenance(self):
        with open(stamp_ratios.STAMPS_PATH) as f:
            d = json.load(f)
        for key in ("command", "host", "tree"):
            self.assertTrue(d.get(key), key)
        stamps = stamp_ratios.load_stamps()
        self.assertGreaterEqual(len(stamps), 160)
        self.assertTrue(all(isinstance(v, float) and v > 0 for v in stamps.values()))

    def test_report_reads_stamps_from_the_file_and_skips_failed_queries(self):
        import contextlib
        import io
        with tempfile.TemporaryDirectory() as d:
            stamps = os.path.join(d, "stamps.json")
            with open(stamps, "w") as f:
                json.dump({"queries": {"q_a": 1.0, "q_b": 0.5, "q_x": 2.0},
                           "errors": {"q_x": "boom"}}, f)
            bench = os.path.join(d, "BENCH_LOCAL.json")
            with open(bench, "w") as f:
                json.dump({"queries": {"q_a": 2.5, "q_b": 0.4, "q_x": 1.0}}, f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                stamp_ratios.main([bench], stamps_path=stamps)
        report = out.getvalue()
        self.assertIn("stamped+runnable: 2;", report)
        self.assertIn("over 2x: 1 ['q_a']", report)
        self.assertNotIn("q_x", report)


if __name__ == "__main__":
    unittest.main()
