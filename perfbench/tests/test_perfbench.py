"""Self-tests of the DW benchmark (no JVM needed):

    python3 -m unittest discover -s perfbench/tests

- the generator is deterministic per seed, and another seed changes the
  data but not the row counts; every foreign key resolves;
- the result line is strict JSON (no NaN, no Infinity) and an unreadable
  counter is null, never a number;
- every metric the JVM half can emit, and every one `run.py` prints, is
  declared in BENCHMARK.json with its unit, and the file keeps to the
  benchmark contract.
"""
import hashlib
import json
import math
import re
import shutil
import sys
import unittest
from pathlib import Path
from unittest import mock

import pyarrow.dataset as ds

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = ROOT / ".bench_build" / "selftest"
SMALL = {"customer": 150, "supplier": 20, "part": 200, "orders": 1500,
         "lineitem": 6000}
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(d)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def rows(d):
    return {p.name: ds.dataset(str(p)).count_rows()
            for p in sorted(Path(d).glob("*.parquet"))}


def strict_loads(s):
    def bad(c):
        raise ValueError(f"non-strict JSON constant {c}")
    return json.loads(s, parse_constant=bad)


@mock.patch.object(gen, "UNIT", SMALL)
class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def gen(self, name, seed, replicas=1):
        d = SCRATCH / name
        n = gen.generate(str(d), seed, replicas)
        return d, n

    def test_same_seed_same_bytes_and_ops(self):
        a, _ = self.gen("a", 7)
        b, _ = self.gen("b", 7)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual((a / "ops.txt").read_text(), (b / "ops.txt").read_text())

    def test_other_seed_other_data_same_counts(self):
        a, na = self.gen("a", 7)
        b, nb = self.gen("b", 8)
        self.assertNotEqual(digest(a / "src"), digest(b / "src"))
        self.assertNotEqual((a / "ops.txt").read_text(), (b / "ops.txt").read_text())
        self.assertEqual(na, nb)
        self.assertEqual(rows(a / "src"), rows(b / "src"))
        self.assertEqual(rows(a / "src_b"), rows(b / "src_b"))

    def test_foreign_keys_resolve_and_dates_in_range(self):
        d, n = self.gen("r", 3, replicas=2)
        self.assertEqual(n, 2 * SMALL["lineitem"])

        def col(t, c):
            return set(ds.dataset(str(d / "src" / f"{t}.parquet"))
                       .to_table(columns=[c]).column(c).to_pylist())
        self.assertLessEqual(col("orders", "o_custkey"), col("customer", "c_custkey"))
        self.assertLessEqual(col("lineitem", "l_orderkey"), col("orders", "o_orderkey"))
        self.assertLessEqual(col("lineitem", "l_partkey"), col("part", "p_partkey"))
        self.assertLessEqual(col("lineitem", "l_suppkey"), col("supplier", "s_suppkey"))
        years = {t.year for t in col("orders", "o_orderdate")}
        self.assertTrue(years <= set(range(1995, 2002)), years)
        # version B keeps every business key, so surrogate keys match
        for t, k in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                     ("part", "p_partkey")):
            b = set(ds.dataset(str(d / "src_b" / f"{t}.parquet"))
                    .to_table(columns=[k]).column(k).to_pylist())
            self.assertEqual(b, col(t, k))

    def test_op_blocks_are_balanced(self):
        """The pass reads each KPI once; the serving block reads each
        PASSES times, with a tenth of its ops refreshes; both refresh
        every sourced dimension once."""
        d, _ = self.gen("o", 5)
        blocks = (d / "ops.txt").read_text().strip().split("\nblock\n")
        self.assertEqual(len(blocks), 2)
        for b, passes in zip(blocks, (1, gen.PASSES)):
            ops = b.splitlines()
            reads = [o.split()[1] for o in ops if o.startswith("kpi ")]
            refreshes = sorted(o.split()[1] for o in ops if o.startswith("refresh "))
            self.assertEqual(sorted(reads), sorted(gen.KPI_OPS * passes))
            self.assertEqual(refreshes, sorted(gen.REFRESH_DIMS))
        self.assertEqual(len(refreshes) / len(ops), 0.1)


class OutputTest(unittest.TestCase):
    def test_result_line_is_strict_json(self):
        got = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
        metrics, errors = run.select_metrics(SPEC, 0, got)
        self.assertEqual(errors, [])
        line = strict_loads(run.result_line(True, 10, 0, metrics))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), set(got))

    def test_non_finite_metric_is_an_error_not_a_value(self):
        got = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
        got["etl_s"] = float("nan")
        metrics, errors = run.select_metrics(SPEC, 0, got)
        self.assertNotIn("etl_s", metrics)
        self.assertEqual(len(errors), 1)
        strict_loads(run.result_line(False, 1, 1, metrics))

    def test_unreadable_steal_is_null(self):
        with mock.patch("builtins.open", side_effect=OSError("no /proc")):
            self.assertIsNone(run.steal_ticks())
        ticks = run.steal_ticks()
        self.assertTrue(ticks is None or isinstance(ticks, int))
        self.assertTrue(math.isfinite(run.canary_ms()))


class SpecTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_contract_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        self.assertLessEqual(len((ROOT / "BENCHMARK.json").read_bytes()), 64 << 10)
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["name"], self.NAME)
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))

    def test_every_emitted_metric_is_declared(self):
        """Names the JVM half writes into its metric maps (literal keys,
        plus the per-dimension and per-query families) are exactly the
        declared ones; run.py adds error_rate to the per-layer set."""
        src = (HERE / "scala" / "graft" / "perfbench" / "Main.scala").read_text()
        e2e = set(re.findall(r'metrics\("([^"$]+)"\)\s*=', src))
        layer = set(re.findall(r'layer\("([^"$]+)"\)\s*=', src)) | {"error_rate"}
        layer |= {f"dims.{d}.s" for d in gen.REFRESH_DIMS + ["dim_tempo"]}
        layer |= {f"kpi.{q}.ms" for q in gen.KPI_OPS}
        self.assertEqual(e2e, {m["name"] for m in SPEC["end_to_end"]})
        self.assertEqual(layer, {m["name"] for m in SPEC["per_layer"]})
