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


def captured_tail():
    full = json.dumps({"metric": "total", "value": sum(QUERIES.values()), "unit": "sec",
                       "queries": QUERIES, "sf": "/data/sf0.1"})
    chunks = ['{"bench_chunk":%d,"of":3,"unit":"ms","queries_ms":{%s}}' % (i + 1, c)
              for i, c in enumerate(['"q_a":1234', '"q_b":13', '"q_c":7500'])]
    lines = ["[info] " + line for line in [full] + chunks] + ["[success] Total time: 12 s"]
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


if __name__ == "__main__":
    unittest.main()
