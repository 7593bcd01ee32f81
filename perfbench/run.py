"""Benchmark command: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the product and the benchmark when
their sources changed (perfbench/build.py), runs perfbench.Main on
local[N] (N = min(4, cores)), checks the outputs outside the timed region
(ETL stores read back with DuckDB against the generator's counts and the
macrophage goldens; registry results against SparkEntry.oracleSql in
DuckDB; lookup answers are checked in the JVM against generator truth),
prints the run's base record, and prints as its last line
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) of BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_many_files", "store_lookup", "registry_iterative")
# per-layer metric prefixes each workload measures; the others read 0
LAYERS = {
    "etl_many_files": ("owl_reader.", "triple_ops.", "graph_ops.", "graph_sink.", "pipeline.",
                       "trace.", "spark."),
    "store_lookup": ("text_index.", "query.", "spark."),
    "registry_iterative": ("registry.", "spark."),
}
HEAP = "3g"
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
JVM_TIMEOUT_S = 165

GOLDEN_EDGES = sorted([
    ("CL", "0000113", "SUB_CLASS_OF", "CL"), ("CL", "0000145", "SUB_CLASS_OF", "CL"),
    ("CL", "0000576", "DEVELOPS_FROM", "CL"), ("CL", "0000766", "SUB_CLASS_OF", "CL"),
    ("GO", "0031268", "CAPABLE_OF", "CL"), ("NCBITaxon", "9606", "PRESENT_IN_TAXON", "CL")])
GOLDEN_XREFS = ["ZFA:0009141", "CALOHA:TS-0587", "MESH:D008264", "FMA:83585", "BTO:0000801",
                "FMA:63261"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def text_lines(path):
    return sorted(line for f in sorted(glob.glob(f"{path}/part-*"))
                  for line in Path(f).read_text().splitlines())


def parquet(path, depth):
    return f"read_parquet('{path}/{'*/' * depth}*.parquet', hive_partitioning=1)"


def store_errors(con, store, expected):
    """Mismatches of one written store against the generator's counts."""
    errors = []
    for part in ("ontologies", "phenotypes"):
        d, exp = f"{store}/{part}", expected[part]
        vertices, edges = parquet(f"{d}/vertices", 1), parquet(f"{d}/edges", 2)
        got = {
            "kept": con.sql(f"SELECT count(*) FROM {vertices}").fetchone()[0],
            "edges_kept": con.sql(f"SELECT count(*) FROM {edges}").fetchone()[0],
            "deprecated": len(text_lines(f"{d}/deprecated_terms.txt")),
            "edge_labels": len(text_lines(f"{d}/edge_labels.txt")),
        }
        errors += [f"{part}.{k}: {v} != {exp[k]}" for k, v in got.items() if v != exp[k]]
        dangling = con.sql(f"""SELECT count(*) FROM {edges} e WHERE NOT EXISTS
            (SELECT 1 FROM {vertices} v WHERE v.id = e.from_id AND v.number = e.from_number)
            OR NOT EXISTS
            (SELECT 1 FROM {vertices} v WHERE v.id = e.to_id AND v.number = e.to_number)""").fetchone()[0]
        if dangling:
            errors.append(f"{part}: {dangling} edges with a missing endpoint")
    d = f"{store}/ontologies"
    edges = sorted(con.sql(f"""SELECT to_id, to_number, label, source FROM {parquet(f"{d}/edges", 2)}
        WHERE from_id = 'CL' AND from_number = '0000235'""").fetchall())
    if edges != GOLDEN_EDGES:
        errors.append(f"macrophage edges {edges}")
    attrs = con.sql(f"""SELECT map_extract(attrs, 'hasDbXref')[1], map_extract(attrs, 'label')[1]
        FROM {parquet(f"{d}/vertices", 1)} WHERE id = 'CL' AND number = '0000235'""").fetchall()
    if attrs != [(GOLDEN_XREFS, ["macrophage"])]:
        errors.append(f"macrophage attrs {attrs}")
    return errors


def store_digest(con, store):
    """Content hash of a store: every table's rows and every text line, sorted."""
    h = hashlib.sha256()
    for part in ("ontologies", "phenotypes"):
        d = f"{store}/{part}"
        for table, depth in (("vertices", 1), ("edges", 2)):
            rows = con.sql(f"SELECT CAST(t AS VARCHAR) AS r FROM {parquet(f'{d}/{table}', depth)} t "
                           "ORDER BY r").fetchall()
            h.update("\n".join(r[0] for r in rows).encode())
        for text in ("deprecated_terms.txt", "edge_labels.txt"):
            h.update("\n".join(text_lines(f"{d}/{text}")).encode())
    return h.hexdigest()


def check_etl(result, trace):
    """Number of failed checks over the run's stores (and the traced store)."""
    con = duckdb.connect()
    expected = json.loads(Path(result["expected"]).read_text())
    failed = 0
    for store in result["etl_stores"]:
        errors = store_errors(con, store, expected)
        for e in errors:
            print(f"perfbench: {store}: {e}", file=sys.stderr)
        failed += bool(errors)
    if trace:
        m = result["metrics"]
        rows = {"owl_reader.parse.rows_out": expected["raw_statements"]}
        for layer, key in (("triple_ops.collect", "collected"), ("triple_ops.dedup", "unique"),
                           ("graph_ops.vertices", "vertices"), ("graph_ops.edges", "edges_built"),
                           ("graph_ops.integrity", "edges_kept")):
            rows[f"{layer}.rows_out"] = expected["ontologies"][key] + expected["phenotypes"][key]
        same = store_digest(con, result["traced_store"]) == store_digest(con, result["reference_store"])
        wrong = {k: (m.get(k), v) for k, v in rows.items() if m.get(k) != v}
        if not same or wrong:
            print(f"perfbench: traced pipeline differs: same store={same}, rows={wrong}", file=sys.stderr)
            failed += 1
    return failed


def rows_of(con, sql):
    """Rows of a query with columns in name order, sorted; None sorts first."""
    rel = con.sql(sql)
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    return [rel.columns[i] for i in order], sorted(
        rows, key=lambda r: tuple((x is not None, str(type(x)), x) for x in r))


def check_registry(result):
    """Number of entries whose result differs from its DuckDB oracle."""
    con = duckdb.connect()
    for t in ("customer", "orders", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{result['sf_dir']}/{t}.parquet/*.parquet')")
    failed = 0
    for entry, out in sorted(result["registry_outputs"].items()):
        sql = result["oracle_sql"].get(entry)
        try:
            ok = sql is not None and rows_of(con, f"SELECT * FROM read_parquet('{out}/*.parquet')") == \
                rows_of(con, sql)
        except duckdb.Error as e:
            print(f"perfbench: {entry}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {entry} differs from its oracle", file=sys.stderr)
            failed += 1
    return failed


def metrics_out(spec, measured, workload, trace):
    names = spec["per_layer" if trace else "end_to_end"]
    out = {}
    for m in names:
        name = m["name"]
        if name not in measured:
            if not trace or name.startswith(LAYERS[workload]):
                raise RuntimeError(f"metric {name} was not measured")
            measured[name] = 0.0
        out[name] = {"value": measured[name], "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-work", action="store_true", help="keep the run's outputs (selftest)")
    args = ap.parse_args()

    root = Path.cwd()
    fixtures = root / "src/test/resources/obo"
    if not (root / "src/main/scala").is_dir() or not (fixtures / "macrophage.owl").is_file():
        fail("run from the repository root: product sources or OWL fixtures not found")
    spec = json.loads((root / "BENCHMARK.json").read_text())
    classes, digest = build.build(root)

    cores = min(4, len(os.sched_getaffinity(0)))
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = root / ".bench_work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={root / 'perfbench/log4j2.properties'}",
        "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace), str(work),
        str(fixtures), str(cores)]
    # Spark's and the product's scratch stay inside the work dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), GRAFT_SCRATCH_DIR=str(work / "tmp"))
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not (work / "result.json").is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM failed ({rc})")
    result = json.loads((work / "result.json").read_text())

    attempted, failed = result["attempted"], result["failed"]
    if args.workload == "etl_many_files":
        failed += check_etl(result, args.trace)
        attempted += args.trace  # the traced-vs-pipeline store comparison
    elif args.workload == "registry_iterative":
        failed += check_registry(result)

    expected = json.loads(Path(result["expected"]).read_text()) if "expected" in result else {}
    base = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "master": f"local[{cores}]",
            "corpus_bytes": expected.get("corpus_bytes"),
            "raw_statements": expected.get("raw_statements"),
            "sf_dir": os.path.relpath(result["sf_dir"], root) if "sf_dir" in result else None,
            "heap": HEAP, "commit": digest[:12]}
    metrics = metrics_out(spec, result["metrics"], args.workload, args.trace)
    records = root / ".bench_work" / "records"
    records.mkdir(exist_ok=True)
    spans = work / "spans.jsonl"
    (records / f"{name}.json").write_text(json.dumps({
        "base": base, "attempted": attempted, "failed": failed, "metrics": metrics,
        "spans": [json.loads(s) for s in spans.read_text().splitlines()] if spans.is_file() else []},
        indent=1))
    if not args.keep_work:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"base": base}))
    print(json.dumps({"correct": failed == 0 and attempted >= 1, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
