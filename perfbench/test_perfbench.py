"""Tests of the benchmark itself. From the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator test is pure Python; the others build the program and start
JVMs (a few minutes in all).
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEED = 7


def tree_hash(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(os.path.relpath(os.path.join(d, f), root).encode() + fh.read())
    return h.hexdigest()


def inputs(workload):
    path = gen.ensure_inputs(workload, SEED, os.path.join(run.WORK, "inputs"))
    with open(os.path.join(path, "expected.json")) as f:
        return path, json.load(f)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        os.makedirs(run.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.WORK) as t:
            for w in gen.SIZES:
                a = gen.ensure_inputs(w, SEED, os.path.join(t, "a"))
                b = gen.ensure_inputs(w, SEED, os.path.join(t, "b"))
                c = gen.ensure_inputs(w, SEED + 1, os.path.join(t, "c"))
                self.assertEqual(tree_hash(a), tree_hash(b), w)
                self.assertNotEqual(tree_hash(a), tree_hash(c), w)
                self.assertFalse([f for f in os.listdir(os.path.dirname(a))
                                  if f.endswith(".tmp")], w)


class ProgramTest(unittest.TestCase):
    """Runs the harness against generated inputs."""

    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build()

    def harness(self, mode, workload, name):
        path, expected = inputs(workload)
        out = os.path.join(run.WORK, "test", name)
        self.addCleanup(shutil.rmtree, out, True)
        return run.harness(self.classpath, mode, workload, path, out), out, expected

    def test_sources_read_back_generated_counts(self):
        got, _, exp = self.harness("readback", "bdc_ingest", "readback-bdc")
        self.assertEqual(got["studies"], exp["inputs"]["studies"])
        self.assertEqual(got["valid"], exp["valid"])
        self.assertEqual(dict(got["rejects"]), exp["rejects"])
        self.assertEqual(got["picsure_rows"], exp["inputs"]["picsure_rows"])
        self.assertEqual(got["picsure_clean"], exp["picsure_clean"])
        self.assertEqual(got["picsure_labels"], exp["picsure_labels"])
        # quotes, escapes and commas inside labels survive CSV and literal parsing
        self.assertEqual(got["distinct_labels"], exp["distinct_labels"])

        got, _, exp = self.harness("readback", "heal_ingest", "readback-heal")
        self.assertEqual(got["studies"], exp["inputs"]["studies"])
        self.assertEqual(got["dictionaries"], exp["inputs"]["dictionaries"])
        self.assertEqual(got["stub_dictionaries"], exp["inputs"]["stub_dictionaries"])
        self.assertEqual(got["index_rows"], exp["index_rows"])
        self.assertEqual(got["values"], exp["values"])
        self.assertEqual(got["mapping_rows"], exp["mapping_rows"])

        got, _, exp = self.harness("readback", "lake_index", "readback-lake")
        for repo in ("bdc", "heal"):
            self.assertEqual(got[repo]["tables"], exp["tables"][repo], repo)
            self.assertEqual(got[repo]["variables"], exp["pivot_sums"][repo], repo)

    def test_check_fails_on_corrupted_outputs(self):
        res, out, exp = self.harness("run", "bdc_ingest", "corrupt-bdc")
        self.assertEqual(check.check("bdc_ingest", out, res, exp), [])
        clean = check.digest("bdc_ingest", out, res)
        docs = sorted(p for rel, p in check.output_files(out) if rel.endswith("data_dict.xml"))

        def corrupted(edit):
            edit()
            problems = check.check("bdc_ingest", out, res, exp)
            self.assertNotEqual(check.digest("bdc_ingest", out, res), clean)
            return problems

        # a variable dropped from one document
        with open(docs[0], encoding="utf-8") as f:
            xml = f.read()
        start = xml.index("  <variable ")
        end = xml.index("</variable>\n", start) + len("</variable>\n")
        with open(docs[0], "w", encoding="utf-8") as f:
            f.write(xml[:start] + xml[end:])
        self.assertTrue(corrupted(lambda: None))
        # a whole document missing
        self.assertTrue(corrupted(lambda: os.remove(docs[1])))
        # a reject reason rewritten in the summary
        summary = os.path.join(out, "docs", "processing_summary.txt")
        with open(summary, encoding="utf-8") as f:
            text = f.read()
        with open(summary, "w", encoding="utf-8") as f:
            f.write(text.replace("Reason: missing", "Reason: absent", 1))
        problems = check.check("bdc_ingest", out, res, exp)
        self.assertTrue(any("reject reasons" in p for p in problems), problems)

        # a pivot count off by one
        _, lake = inputs("lake_index")
        pivot = json.loads(json.dumps(lake["pivot"]))
        study = sorted(pivot)[0]
        self.assertEqual(check.check("lake_index", None, {"pivot": pivot}, lake), [])
        pivot[study]["bdc"] += 1
        self.assertTrue(check.check("lake_index", None, {"pivot": pivot}, lake))

    def test_traced_counters_repeat(self):
        a, out_a, exp = self.harness("trace", "bdc_ingest", "trace-a")
        b, out_b, _ = self.harness("trace", "bdc_ingest", "trace-b")
        for k in ("spark.jobs", "spark.stages", "spark.tasks"):
            self.assertGreater(a[k], 0, k)
            self.assertEqual(a[k], b[k], k)
        for r, out in ((a, out_a), (b, out_b)):
            self.assertEqual(check.check("bdc_ingest", out, r, exp), [])
        self.assertEqual(check.digest("bdc_ingest", out_a, a),
                         check.digest("bdc_ingest", out_b, b))


if __name__ == "__main__":
    unittest.main()
