"""The benchmark's own tests.

    python3 perfbench/selftest.py      (from the repository root, ~5 min)

- the corpus generator writes a byte-identical corpus for a seed, and a
  different one for another seed;
- the traced composition writes the same store as OntologyPipeline.run
  (counts and content hash), via a --trace 1 run of etl_many_files;
- the correctness gate counts deliberately wrong outputs as failed: a store
  with a dropped edge partition, a store with an extra deprecated term, and
  a registry result with one changed row.
"""
import hashlib
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

ROOT = Path.cwd()
SCRATCH = ROOT / ".bench_work" / "selftest"


def bench(workload, seed, trace, keep=False):
    """Runs the benchmark command; returns its last output line as JSON."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)] + (["--keep-work"] if keep else [])
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def work_result(workload, seed, trace):
    return json.loads((ROOT / ".bench_work" / f"{workload}-s{seed}-t{trace}" / "result.json").read_text())


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).iterdir()):
        h.update(p.name.encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def corpus(self, seed, name):
        classes, _ = build.build(ROOT)
        out = SCRATCH / name
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run(["java", "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Corpus",
                        str(seed), "500", "4", str(out), "src/test/resources/obo"], check=True)
        return tree_digest(out)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.corpus(7, "a"), self.corpus(7, "b"))
        self.assertNotEqual(self.corpus(7, "a"), self.corpus(8, "c"))


class TracedPipelineTest(unittest.TestCase):
    def test_traced_store_equals_pipeline_store(self):
        # run.py fails the run when the traced store's content hash or its
        # layer row counts differ from OntologyPipeline.run's store
        out = bench("etl_many_files", 3, 1)
        self.assertTrue(out["correct"], out)
        self.assertEqual(out["failed"], 0)


class GateTest(unittest.TestCase):
    def test_wrong_store_counts_as_failed(self):
        self.assertTrue(bench("etl_many_files", 4, 0, keep=True)["correct"])
        result = work_result("etl_many_files", 4, 0)
        self.assertEqual(run.check_etl(result, trace=False), 0)
        store = Path(result["etl_stores"][0])
        copy = SCRATCH / "store"
        shutil.copytree(store, copy)
        shutil.rmtree(next((store / "ontologies/edges/from_id=CL").glob("to_id=GO")))
        self.assertEqual(run.check_etl(result, trace=False), 1)
        extra = next((copy / "phenotypes/deprecated_terms.txt").glob("part-*"))
        extra.write_text(extra.read_text() + "CL_9999999\n")
        result["etl_stores"] = [str(copy)]
        self.assertEqual(run.check_etl(result, trace=False), 1)

    def test_wrong_registry_result_counts_as_failed(self):
        self.assertTrue(bench("registry_iterative", 4, 0, keep=True)["correct"])
        result = work_result("registry_iterative", 4, 0)
        self.assertEqual(run.check_registry(result), 0)
        out = Path(result["registry_outputs"]["g_cc_incremental"])
        con = duckdb.connect()
        rows = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        wrong = SCRATCH / "wrong.parquet"
        rows.query("r", "SELECT id, CASE WHEN id = 1 THEN component + 1 ELSE component END "
                        "AS component FROM r").write_parquet(str(wrong))
        for f in out.glob("*.parquet"):
            f.unlink()
        shutil.copy(wrong, out / "part-0.parquet")
        self.assertEqual(run.check_registry(result), 1)


if __name__ == "__main__":
    SCRATCH.mkdir(parents=True, exist_ok=True)
    try:
        unittest.main(verbosity=2)
    finally:
        for d in (SCRATCH, ROOT / ".bench_work/etl_many_files-s4-t0",
                  ROOT / ".bench_work/registry_iterative-s4-t0"):
            shutil.rmtree(d, ignore_errors=True)
