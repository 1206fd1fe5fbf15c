"""Self-tests for the benchmark: the reference fold, the metric contract
with BENCHMARK.json, and the generator's determinism.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator test builds the harness (sbt, offline) if it is not built
yet and starts one Spark driver; the others need only DuckDB.
"""
import json
import re
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def put(key, seq, tag):
    cells = ", ".join(
        f"{{'family': 'info', 'qualifier': '{q}', 'ts': {seq}, 'cellType': 'put', 'value': '{v}'}}"
        for q, v in (("name", f"n-{tag}"), ("nationkey", "7"), ("acctbal", "1.5"),
                     ("mktsegment", "BUILDING")))
    return f"('customer', '{key}', {seq}, {seq}, [{cells}], NULL)"


def delete(key, seq):
    cell = (f"{{'family': 'info', 'qualifier': '', 'ts': {seq}, 'cellType': 'delete-row', "
            f"'value': NULL::VARCHAR}}")
    return f"('customer', '{key}', {seq}, {seq}, [{cell}], NULL)"


class ReferenceFold(unittest.TestCase):
    def test_insert_update_delete_reinsert(self):
        # rows are written out of seq order: the fold must order by seq
        rows = [
            put("a", 3, "a3"), put("a", 1, "a1"),            # update wins
            delete("b", 4), put("b", 2, "b2"),               # deleted
            put("c", 7, "c7"), delete("c", 6), put("c", 5, "c5"),  # re-inserted
            delete("d", 8),                                  # delete of an unseen key
            put("e", 9, "e9"),                               # insert only
        ]
        d = Path(tempfile.mkdtemp())
        try:
            import duckdb
            duckdb.sql(f"""COPY (SELECT * FROM (VALUES {', '.join(rows)})
                           AS t("table", rowKey, seq, writeTime, cells, payload))
                           TO '{d}/log.parquet' (FORMAT parquet)""")
            got = check.reference(f"{d}/*.parquet")
            self.assertEqual(got, [
                ("a", "n-a3", "7", "1.5", "BUILDING"),
                ("c", "n-c7", "7", "1.5", "BUILDING"),
                ("e", "n-e9", "7", "1.5", "BUILDING"),
            ])
            # the reference compared with itself has no mismatch; one
            # changed value is one missing and one extra row
            duckdb.sql(f"COPY ({check.reference_sql(str(d) + '/log.parquet')}) "
                       f"TO '{d}/good.parquet' (FORMAT parquet)")
            self.assertEqual(check.compare(f"{d}/log.parquet", f"{d}/good.parquet"), (0, 3, 3))
            duckdb.sql(f"COPY (SELECT id, CASE WHEN id = 'c' THEN 'x' ELSE name END AS name, "
                       f"nationkey, acctbal, mktsegment FROM '{d}/good.parquet') "
                       f"TO '{d}/bad.parquet' (FORMAT parquet)")
            self.assertEqual(check.compare(f"{d}/log.parquet", f"{d}/bad.parquet"), (2, 3, 3))
        finally:
            shutil.rmtree(d)


class MetricContract(unittest.TestCase):
    def test_every_declared_metric_is_emitted_by_the_harness(self):
        src = "\n".join(p.read_text() for p in (HERE / "src").rglob("*.scala"))
        emitted = set(re.findall(r'"([A-Za-z0-9_.]+)" -> (?:metric)?\(', src))
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertIn(m["name"], emitted, f"{m['name']} is declared but never emitted")

    def test_printed_metrics_are_exactly_the_declared_ones(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            emitted = {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in SPEC[key]}
            emitted["not.declared"] = {"value": 2.0, "unit": "ms"}
            printed = run.select_metrics(SPEC, emitted, trace)
            self.assertEqual(set(printed), {m["name"] for m in SPEC[key]})

    def test_a_missing_or_misunited_metric_is_an_error(self):
        emitted = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in SPEC["end_to_end"]}
        first = SPEC["end_to_end"][0]["name"]
        with self.assertRaises(ValueError):
            run.select_metrics(SPEC, {k: v for k, v in emitted.items() if k != first}, 0)
        with self.assertRaises(ValueError):
            run.select_metrics(SPEC, dict(emitted, **{first: {"value": 1.0, "unit": "furlong"}}), 0)


class Generator(unittest.TestCase):
    def test_same_seed_same_log(self):
        cp, _ = run.build()
        work = run.STATE / "run" / "selftest-gen"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            res = run.harness(cp, ["--workload", "gen-check", "--seed", "7"], work, run.RUN_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(res["rows"], res["expected_rows"])
        self.assertTrue(res["deterministic"])
        self.assertTrue(res["seed_changes_log"])


if __name__ == "__main__":
    unittest.main()
