#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It compiles the engine and the
harness (perfbench/src) with the Scala compiler that ships in Spark's
jars, generates the workload's inputs from the seed, runs the harness in
one local[nproc] JVM, checks every output and prints the metrics. With
--trace 0 the last line holds the end-to-end metrics, with --trace 1 the
per-layer ones. Everything it writes stays under perfbench/.build and
perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import metrics  # noqa: E402

TPCH = ["q1_pricing_summary", "q2_min_per_group", "q3_shipping_priority",
        "q4_priority_exists", "q5_local_supplier_volume", "q6_revenue_forecast",
        "q7_nation_volume", "q8_market_share", "q9_profit_rollup", "q10_returned_items",
        "q11_important_value", "q12_ship_priority", "q13_order_count_dist",
        "q14_promo_revenue", "q15_top_supplier", "q16_supplier_count", "q17_small_quantity",
        "q18_large_volume_customer", "q19_disjunctive", "q20_dominant_supplier",
        "q21_waiting_supplier", "q22_global_sales"]
TWINS = ["doc_wordcount", "doc_inverted_index", "doc_filter_group_count"]

# tables: relational scale factor, documents, embeddings; corpus: files, words per
# file; warm_reps: untimed repetitions first (the JIT is still compiling the
# gated workloads' code through their first two); min_reps: timed repetitions at
# least, whatever --seconds says. BENCHMARK.json lists the workloads the
# regression gate runs; the others run by hand.
WORKLOADS = {
    "mr_text": {"tables": (0.001, 100, 100), "corpus": (32, 40_000),
                "warm_reps": 2, "min_reps": 5, "ops": [("mr", "wc"), ("mr", "indexer")]},
    "query_mix": {"tables": (0.001, 500, 500), "shuffle": True, "warm_reps": 1,
                  "min_reps": 1, "ops": [("query", q) for q in TPCH + TWINS]},
    "graph_loops": {"tables": (0.001, 150, 100), "warm_reps": 2, "min_reps": 4,
                    "ops": [("query", q) for q in [
                        "graph_label_propagation", "graph_modularity", "graph_kcore",
                        "graph_pagerank_dups"]]},
    "dedup_pipeline": {"tables": (0.001, 300, 100), "warm_reps": 1, "min_reps": 1,
                       "ops": [("query", q) for q in [
                           "pipeline_corpus_build", "dedup_lsh_pairs", "dedup_lsh_precision",
                           "dedup_method_agreement", "doc_contamination_sweep"]]},
}
WARM_QUERY = "q1_pricing_summary"
FIXTURE_VERSION = "5"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BenchError(f"no Scala compiler among Spark's jars in {jars}")
    return f"{jars}/*"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BenchError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(jars):
    """Compile the engine and the harness once per source digest."""
    files = sources()
    digest = source_digest(files)
    out = BENCH / ".build" / digest
    if (out / "classes").is_dir():
        return out / "classes", digest
    tmp = out / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    log(f"compiling {len(files)} sources")
    t = time.time()
    proc = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                           "-nowarn", "-classpath", jars, "-d", str(tmp), f"@{argfile}"],
                          capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise BenchError(f"compile failed:\n{proc.stdout[-4000:]}{proc.stderr[-4000:]}")
    tmp.rename(out / "classes")
    log(f"compiled in {time.time() - t:.1f} s")
    return out / "classes", digest


def fixture(workload, seed):
    """The workload's inputs for `seed`, generated once and kept."""
    spec = WORKLOADS[workload]
    sizes = hashlib.sha256(repr((FIXTURE_VERSION, spec["tables"], spec.get("corpus")))
                           .encode()).hexdigest()[:8]
    d = BENCH / ".work" / "fixtures" / f"{workload}-{seed}-{sizes}"
    counts_file = d / "corpus_counts.json"
    if not (d / "complete").exists():
        shutil.rmtree(d, ignore_errors=True)
        sf, docs, vecs = spec["tables"]
        gen.tables(str(d / "tables"), seed, sf, docs, vecs)
        if "corpus" in spec:
            files, words = spec["corpus"]
            counts, docs_of = gen.corpus(str(d / "corpus"), seed, files, words)
            counts_file.write_text(json.dumps({"counts": counts, "docs": docs_of}))
        (d / "complete").write_text("")
    corpus = json.loads(counts_file.read_text()) if counts_file.exists() else None
    return d, corpus


def op_lines(workload, seed, fixture_dir):
    spec = WORKLOADS[workload]
    ops = list(spec["ops"])
    if spec.get("shuffle"):
        random.Random(seed).shuffle(ops)
    return [f"mr {name} {fixture_dir / 'corpus'}" if kind == "mr" else f"query {name}"
            for kind, name in ops]


def jvm(classes, jars, work, args):
    """Run the harness; returns the wall time at launch (epoch seconds)."""
    cmd = [java(), "-Xms128m", "-Xmx2g", "-Xss8m"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{classes}:{jars}", "graftbench.Harness"] + args
    (work / "tmp").mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    logfile = work / "jvm.log"
    with open(logfile, "a") as lf:
        launched = time.time()
        try:
            proc = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness timed out after {JVM_TIMEOUT_S} s (log: {logfile})")
    if proc.returncode != 0:
        tail = logfile.read_text(errors="replace")[-3000:]
        raise BenchError(f"harness exited with {proc.returncode}:\n{tail}")
    return launched


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def check_outputs(result, workload, fixture_dir, corpus, out):
    """Failed checks as (rep, op, reason): every kept query output against
    the oracle, both MapReduce outputs against the generator's counts."""
    import oracle  # pandas and DuckDB load only when there is something to check
    bad = []
    for name, sql in sorted(result["oracle_sql"].items()):
        if not sql:
            bad.append((0, name, "no oracle SQL"))
            continue
        reason = oracle.compare(out / "warm" / name,
                                oracle.expected(str(fixture_dir / "tables"), name, sql))
        if reason:
            bad.append((0, name, reason))
    last_rep = max(s["rep"] for s in result["spans"] if s["kind"] == "rep")
    for kind, app in WORKLOADS[workload]["ops"]:
        if kind == "mr":
            for rep, sub in ((0, "warm"), (last_rep, "timed")):
                reason = oracle.check_mr(out / sub / f"mr_{app}", app,
                                         corpus["counts"], corpus["docs"])
                if reason:
                    bad.append((rep, f"mr_{app}", reason))
    return bad


def run(a):
    jars = spark_jars()
    classes, digest = build(jars)
    fixture_dir, corpus = fixture(a.workload, a.seed)
    work = BENCH / ".work" / f"run-{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "ops.txt").write_text("\n".join(op_lines(a.workload, a.seed, fixture_dir)) + "\n")
    tables = str(fixture_dir / "tables")

    res_file = work / "result.json"
    w = WORKLOADS[a.workload]
    min_reps = 2 if a.trace else w["min_reps"]
    launched = jvm(classes, jars, work, [tables, str(work / "ops.txt"), str(work / "out"),
                                         str(a.seconds), str(w["warm_reps"]),
                                         str(min_reps), WARM_QUERY,
                                         str(a.trace), str(res_file)])
    result = json.loads(res_file.read_text())
    setup_s = result["setup_done_ms"] / 1000 - launched

    bad = check_outputs(result, a.workload, fixture_dir, corpus, work / "out")
    for scratch in ("out", "spark-local", "tmp"):
        shutil.rmtree(work / scratch, ignore_errors=True)
    failures = [{"rep": f["rep"], "op": f["op"], "error": f["error"]} for f in result["failures"]]
    failures += [{"rep": r, "op": op, "error": f"wrong output: {why}"} for r, op, why in bad
                 if not any(f["rep"] == r and f["op"] == op for f in failures)]
    op_spans = [s for s in result["spans"] if s["kind"] == "op"]
    attempted = len(op_spans)
    failed = len(failures)

    host = dict(result["host"], nproc=nproc(), mem_total_kb=mem_total_kb(),
                python=platform.python_version(), commit=commit(), sources=digest,
                seed=a.seed, workload=a.workload, trace=a.trace)
    print("host " + json.dumps(host, sort_keys=True))
    print("failures " + json.dumps(failures))
    frac = metrics.fail_frac(attempted, failed)
    print(f"fail_frac = {frac:.4f} ({failed} of {attempted} operations)")
    if a.trace:
        values = metrics.per_layer(result, nproc())
        units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    else:
        values, info = metrics.end_to_end(result, setup_s)
        values["ok_frac"] = 1.0 - frac
        units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        print(f"repetitions = {info['repetitions']}, operations = {info['operations']}, "
              f"highest quantile with >= 10 operations beyond it = {info['tail_quantile']}")
    for k in sorted(values):
        print(f"{k} = {values[k]:.6g} {units.get(k, '')}")
    missing = set(units) - set(values)
    if missing:
        raise BenchError(f"metrics not computed: {sorted(missing)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    try:
        run(a)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
