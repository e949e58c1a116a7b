"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The last test builds graft (first time only) and launches two JVMs.
"""
import decimal
import glob
import io
import json
import os
import shutil
import sys
import unittest
import xml.etree.ElementTree as ET
import zipfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import checks  # noqa: E402
import run  # noqa: E402
import xbrl_gen  # noqa: E402

TMP = os.path.join(run.BUILD, "tests")
FERC = "{%s}" % xbrl_gen.FERC_NS


def fresh(name):
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def read(path):
    with open(path, "rb") as f:
        return f.read()


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        a, b, c = fresh("gen-a"), fresh("gen-b"), fresh("gen-c")
        xbrl_gen.generate(a, 7, "small")
        xbrl_gen.generate(b, 7, "small")
        xbrl_gen.generate(c, 8, "small")
        for f in (xbrl_gen.TAXONOMY_ZIP, xbrl_gen.FILINGS_ZIP, "manifest.json"):
            self.assertEqual(read(f"{a}/{f}"), read(f"{b}/{f}"), f)
        self.assertNotEqual(read(f"{a}/{xbrl_gen.FILINGS_ZIP}"), read(f"{c}/{xbrl_gen.FILINGS_ZIP}"))

    def test_tiny_manifest_matches_a_hand_count(self):
        d = fresh("tiny")
        m = xbrl_gen.generate(d, 3, "tiny")
        # 3 schedules with duration and instant columns; the second
        # taxonomy version adds schedule 004 (duration only)
        self.assertEqual(sorted(m["tables"]), [
            "electric_plant_002_duration", "electric_plant_002_instant",
            "fuel_costs_004_duration", "identification_001_duration",
            "identification_001_instant", "operating_revenues_003_duration",
            "operating_revenues_003_instant"])
        rows = {t: v["rows"] for t, v in m["tables"].items()}
        # per filing (2 parse, 1 is empty): one row from the shared
        # duration context, two from the two instants; schedule 003 has an
        # axis with two members plus the dimensionless total, and its
        # foreign-axis context lands in no table
        self.assertEqual(rows["identification_001_duration"], 2)
        self.assertEqual(rows["identification_001_instant"], 4)
        self.assertEqual(rows["operating_revenues_003_duration"], 6)
        self.assertEqual(rows["operating_revenues_003_instant"], 4)
        self.assertEqual(rows["fuel_costs_004_duration"], 2)

        with zipfile.ZipFile(f"{d}/{xbrl_gen.FILINGS_ZIP}") as z:
            names = sorted(n for n in z.namelist() if n.endswith(".xbrl"))
            self.assertEqual([len(z.read(n)) == 0 for n in names].count(True), 1)
            self.assertEqual(len(json.loads(z.read("rssfeed"))), 3)
            docs = [ET.fromstring(z.read(n)) for n in names if z.read(n)]
        facts = [(el.get("contextRef"), el.tag[len(FERC):], el.text)
                 for doc in docs for el in doc if el.tag.startswith(FERC)]
        self.assertEqual(len(facts), m["facts"])
        # sum of one column by hand: per (filing, context) keep the value
        # with the most decimals (exact duplicates collapse)
        want = 0.0
        for doc in docs:
            best = {}
            for el in doc:
                if el.tag == FERC + "Sched001FlowA" and el.get("contextRef") == "c_dur":
                    digits = len(el.text.partition(".")[2].rstrip("0"))
                    best[digits] = float(el.text)
            want += best[max(best)]
        got = m["tables"]["identification_001_duration"]["sums"]["sched001_flow_a"]
        self.assertAlmostEqual(got, want, places=6)
        # the planted duplicates are there: some (context, concept) twice
        self.assertGreater(len(facts), len({(c, n) for c, n, _ in facts}))

    def test_taxonomy_versions_differ_by_one_table_and_one_column(self):
        d = fresh("tax")
        xbrl_gen.generate(d, 1, "tiny")
        counts = []
        with zipfile.ZipFile(f"{d}/{xbrl_gen.TAXONOMY_ZIP}") as outer:
            for inner_name in sorted(outer.namelist()):
                inner = zipfile.ZipFile(io.BytesIO(outer.read(inner_name)))
                xsd = next(n for n in inner.namelist() if n.endswith(".xsd"))
                root = ET.fromstring(inner.read(xsd))
                roles = root.findall(".//{http://www.xbrl.org/2003/linkbase}roleType")
                elements = root.findall("{http://www.w3.org/2001/XMLSchema}element")
                counts.append((len(roles), len(elements)))
        (r1, e1), (r2, e2) = counts
        self.assertEqual(r2, r1 + 1)
        # the new schedule brings its root and three duration columns;
        # schedule 001 gains one column
        self.assertEqual(e2, e1 + 1 + 3 + 1)


class ChecksTest(unittest.TestCase):

    def test_content_hash_ignores_row_order_and_numeric_type(self):
        a = checks.content_hash(["b", "a"], [(1, "x"), (2.5, None)])
        b = checks.content_hash(["a", "b"], [(None, decimal.Decimal("2.5")), ("x", 1.0)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, checks.content_hash(["a", "b"], [("x", 1), (None, 2.6)]))


class ResultLineTest(unittest.TestCase):

    def test_a_2000_character_tail_still_parses(self):
        long = 123456.78901234567

        def result(metrics):
            return {"correct": True, "attempted": 123456789, "failed": 0,
                    "metrics": {k: {"value": long, "unit": u} for k, u in metrics}}

        def last_line_of_tail(output):
            return json.loads(output[-2000:].strip().splitlines()[-1])

        lines = "metric x = 1 s (n=1)\n" * 500
        for metrics in (run.END_TO_END, run.PER_LAYER):
            r = result(metrics)
            self.assertEqual(last_line_of_tail(lines + run.result_line(r) + "\n"), r)
        # --workload all: each run's line, then the summary
        runs = {(w, t): result(run.PER_LAYER if t else run.END_TO_END)
                for w in ("xbrl_small", "xbrl_large", "query_suite") for t in (0, 1)}
        output = lines + "".join(run.result_line(r) + "\n" for r in runs.values())
        summary = run.summary(runs)
        self.assertEqual(len(summary["metrics"]), 3 * len(run.END_TO_END))
        self.assertEqual(last_line_of_tail(output + run.result_line(summary) + "\n"), summary)


class TracedExtractTest(unittest.TestCase):

    def test_traced_run_writes_the_same_tables_as_the_untraced_run(self):
        cp = run.build()
        d = fresh("traced")
        manifest = xbrl_gen.generate(f"{d}/in", 5, "tiny")
        files = dict(filings=f"{d}/in/{xbrl_gen.FILINGS_ZIP}",
                     taxonomy=f"{d}/in/{xbrl_gen.TAXONOMY_ZIP}")
        plain = run.run_jvm(cp, "extract", "test-extract", out=f"{d}/plain", **files)
        traced = run.run_jvm(cp, "pipeline", "test-pipeline", out=f"{d}/traced", listen=1, **files)
        self.assertIn("trace", traced)

        def tables(out):
            got = {}
            for path in sorted(glob.glob(f"{out}/ferc1_xbrl/*.parquet")):
                t = checks.pq.read_table(path)
                got[os.path.basename(path)] = (t.num_rows, checks.content_hash(
                    t.column_names, list(zip(*[t.column(c).to_pylist() for c in t.column_names]))))
            return got

        cold, warm = (x["out"] for x in plain["runs"])
        a = tables(cold)
        self.assertEqual(len(a), len(manifest["tables"]))
        self.assertEqual(tables(traced["out"]), a)
        self.assertEqual(tables(warm), a)
        for out in (cold, warm, traced["out"]):
            attempted, fails, _ = checks.check_xbrl(out, manifest)
            self.assertEqual(fails, [])
            self.assertEqual(attempted, len(manifest["tables"]) + 3)


if __name__ == "__main__":
    unittest.main()
