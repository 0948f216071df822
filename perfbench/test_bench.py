"""The benchmark's own tests (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Covers generator determinism and seed sensitivity, that every metric name
the benchmark prints is well-formed and declared in BENCHMARK.json, and
that the output check catches a perturbed output.
"""
import filecmp
import json
import os
import re
import shutil
import unittest

import gen
import reference
import run

TMP = os.path.join(run.WORK, "test")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tmp(name):
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _files(d):
    return sorted(f for f in os.listdir(d) if os.path.isfile(os.path.join(d, f)))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in run.WORKLOADS:
            a, b = _tmp(f"{w}-a"), _tmp(f"{w}-b")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            self.assertEqual(_files(a), _files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_gives_other_inputs(self):
        for w in run.WORKLOADS:
            a, b = _tmp(f"{w}-s1"), _tmp(f"{w}-s2")
            gen.generate(w, 1, a)
            gen.generate(w, 2, b)
            _, mismatch, _ = filecmp.cmpfiles(a, b, _files(a), shallow=False)
            self.assertTrue(mismatch, w)

    def test_sizes_are_reported_per_table(self):
        d = _tmp("sizes")
        sizes = gen.table_sizes(gen.generate("cohort_sweep", 3, d))
        self.assertEqual(set(sizes), {"patients", "admissions", "chartevents"})
        for s in sizes.values():
            self.assertGreater(s["rows"], 0)
            self.assertGreater(s["bytes"], 0)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_names_match_the_declaration(self):
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(declared, run.END_TO_END)

    def test_per_layer_names_match_the_declaration(self):
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(declared, run.per_layer_units())
        self.assertLessEqual(len(declared), 128)

    def test_every_name_is_well_formed(self):
        for name in list(run.END_TO_END) + list(run.per_layer_units()):
            self.assertTrue(NAME.fullmatch(name) and len(name) <= 64, name)

    def test_every_name_the_harness_records_is_declared(self):
        with open(os.path.join(run.HERE, "harness", "Workloads.scala")) as f:
            found = re.findall(r'\bt\.(span|act|observe)\("([^"]+)"\)', f.read())
        spans = {n for kind, n in found if kind != "observe" and not n.startswith("bench.")}
        self.assertEqual(spans, set(run.SPANS))
        for kind, n in found:
            if kind == "observe":
                self.assertIn(n, run.RUN_METRICS)

    def test_workloads_are_known(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class CheckTest(unittest.TestCase):
    """A reference-built output passes the check; a perturbed one fails."""

    def _reference(self, workload):
        d = _tmp(f"check-{workload}")
        files = gen.generate(workload, 5, os.path.join(d, "in"))
        con = reference.connect(d)
        reference._views(con, files)
        return d, con, reference.expected(workload, files, d)

    def test_icu_tensors_perturbed_cell_is_caught(self):
        d, con, want = self._reference("icu_tensors")
        reference._icu(con)  # leaves the reference's tables in `con`
        con.execute("""CREATE TABLE cells AS
          SELECT hadm_id AS stay_id, 'chart_' || itemid AS code, bucket AS idx,
                 value_imputed AS v FROM dense
          UNION ALL
          SELECT hadm_id, 'med_' || itemid, bucket, CAST(active AS DOUBLE) FROM active""")

        def write(out):
            os.makedirs(f"{out}/stay_tensors")
            con.execute(f"""COPY (SELECT stay_id, map(list(code ORDER BY code),
                                   list(arr ORDER BY code)) AS series
                FROM (SELECT stay_id, code, list(v ORDER BY idx) AS arr
                      FROM cells GROUP BY ALL) GROUP BY stay_id)
              TO '{out}/stay_tensors/part-0.parquet' (FORMAT parquet)""")
            return {"out": out}

        self.assertEqual(reference.check_pass("icu_tensors", write(f"{d}/ok"), want, d), [])
        con.execute("""UPDATE cells SET v = v + 0.01 WHERE (stay_id, code, idx) =
                       (SELECT (stay_id, code, idx) FROM cells ORDER BY ALL LIMIT 1)""")
        self.assertTrue(reference.check_pass("icu_tensors", write(f"{d}/bad"), want, d))

    def test_notes_curate_perturbed_row_is_caught(self):
        d, con, want = self._reference("notes_curate")
        reference._notes(con)
        packed = "SELECT doc_id, source, text, len(toks) AS n_tokens, 0 AS bin_id FROM s4"

        def write(out, rel):
            os.makedirs(f"{out}/curated")
            con.execute(f"COPY ({rel}) TO '{out}/curated/part-0.parquet' (FORMAT parquet)")
            return {"out": out, "report": want["report"]}

        self.assertTrue(reference.check_pass("notes_curate", write(f"{d}/bins", packed), want, d))
        exact = ("SELECT doc_id, source, text, n_tokens, bin_id FROM ("
                 + "SELECT *, len(toks) AS n_tokens, CAST(floor((sum(len(toks)) OVER ("
                 + "PARTITION BY source ORDER BY doc_id) - len(toks)) / 256.0) AS INTEGER)"
                 + " AS bin_id FROM s4)")
        self.assertEqual(
            reference.check_pass("notes_curate", write(f"{d}/ok", exact), want, d), [])
        dropped = exact + " WHERE doc_id <> (SELECT min(doc_id) FROM s4)"
        self.assertTrue(reference.check_pass("notes_curate", write(f"{d}/drop", dropped), want, d))

    def test_failed_pass_is_reported(self):
        self.assertEqual(reference.check_pass("icu_tensors", {"error": "boom"}, {}, TMP),
                         ["boom"])


if __name__ == "__main__":
    unittest.main()
