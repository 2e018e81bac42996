"""Repository benchmark: one workload, one seed, one result line.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program (benchmark/build.py),
generates the workload's inputs from the seed, drives the program for
the given seconds in one JVM (benchmark/src/Harness.scala), checks its
outputs, and prints as the last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A traced run also
traces half of its operations, states the tracing overhead against the
other half, and keeps its spans under .bench_build/traces/. A readable summary
goes to stderr. See benchmark/README.md.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("pipeline_daily", "pipeline_rebuild", "query_mix")
# query_mix reads the repository's TPC-H-style test tables at scale 0.1
# (TESTDATA.md), kept as they are under benchmark/tables/.
TABLES = os.path.join(HERE, "tables", "sf0.1")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "op_mean_s": "s",
              "heap_live_end_mb": "MB"}
PACKS = ["core", "podcast", "dedup", "similarity", "text", "multimodal", "streaming",
         "sink", "pipeline", "curation", "temporal", "sketch", "search", "graph"]
PER_LAYER = {
    "run.daily_s": "s", "run.retries": "count",
    "ops.bronze_write_s": "s", "ops.validate_s": "s", "ops.silver_write_s": "s",
    "ops.lookup_calls": "count", "ops.lookup_ids": "count", "ops.lookup_s": "s",
    "ops.lookup_useful_ratio": "ratio", "ops.silver_files": "count",
    "ops.silver_bytes": "bytes", "store.bytes_per_row": "bytes",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.rows_added": "count",
    "queries.build_s": "s", "queries.count_s": "s", "queries.eager_jobs": "count",
    **{f"queries.{p}_s": "s" for p in PACKS},
    "plan.nodes": "count", "plan.exchanges": "count", "plan.broadcasts": "count",
    "spark.plan_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.job_covered_s": "s", "spark.driver_gap_s": "s",
    "spark.task_busy_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_records": "count", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "trace.overhead_frac": "ratio"}
# Gold-rebuild layers, reported by the pipeline_rebuild workload only.
REBUILD_LAYERS = {"gold.rebuild_s": "s", "gold.rows_read": "count",
                  "gold.files_read": "count", "gold.csv_bytes": "bytes"}
# The JVM must end well inside the 180 s a run is allowed.
HARNESS_TIMEOUT_S = 150


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_harness(root, classes, a):
    work = os.path.join(root, ".bench_build", "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
            "benchmark.Harness", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--tables", TABLES]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                           timeout=HARNESS_TIMEOUT_S)
    if p.returncode != 0:
        with open(os.path.join(work, "harness.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    with open(os.path.join(work, "record.json")) as f:
        rec = json.load(f)
    rec["work"], rec["traced"] = work, bool(a.trace)
    return rec


def oracle_check(root, rec):
    """query_mix: compare each warm-pass result with DuckDB running the
    query's oracle SQL, through tools/compare.py (same normalisation,
    type-strict). Returns {query: oracle row count} for the passes and
    the set of queries that failed."""
    spec = importlib.util.spec_from_file_location(
        "compare", os.path.join(root, "tools", "compare.py"))
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        compare.main(TABLES, os.path.join(rec["work"], "results"))
    rows, failed = {}, set()
    for line in out.getvalue().splitlines():
        m = re.match(r"PASS (\S+) \((\d+) rows\)", line)
        if m:
            rows[m.group(1)] = int(m.group(2))
        elif line.startswith("FAIL "):
            failed.add(line.split()[1].rstrip(":"))
            log("oracle " + line[:300])
    queries = {o["query"] for o in rec["ops"]}
    failed |= {q for q in queries if q not in rows}
    return rows, failed


def mark_failures(root, rec):
    ops = rec["ops"]
    if rec["workload"] == "query_mix":
        rows, bad = oracle_check(root, rec)
        for o in ops:
            if o["ok"] and (o["query"] in bad or o["rows"] != rows.get(o["query"])):
                o["ok"] = False
                o["error"] = o["error"] or "result differs from the DuckDB oracle"
    for o in ops:
        if not o["ok"]:
            log(f"failed op {o['trace']}: {o['error'][:300]}")
    return len(ops), sum(1 for o in ops if not o["ok"])


def samples(rec):
    """One value per operation: a date's wall time, or a query's fastest
    timed execution (min of passes, as graft.Bench takes)."""
    if rec["workload"] != "query_mix":
        return [o["seconds"] for o in rec["ops"]]
    by_q = {}
    for o in rec["ops"]:
        by_q.setdefault(o["query"], []).append(o["seconds"])
    return [min(v) for v in by_q.values()]


def tail(values):
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile, n). Below 20 samples no percentile at or above
    the median has ten beyond it; p75 is used and the record says so."""
    s, n = sorted(values), len(values)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return statistics.quantiles(s, n=4, method="inclusive")[2] if n > 1 else s[0], 75.0, n


def end_to_end(rec):
    v = samples(rec)
    t, pct, n = tail(v)
    return {"setup_s": rec["setup_s"], "op_p50_s": statistics.median(v), "op_tail_s": t,
            "op_mean_s": statistics.fmean(v),
            "heap_live_end_mb": rec["heap_live_end_mb"]}, pct, n


def overhead(rec):
    """Traced over untraced time of the same operations: a traced run
    traces half of them (dates in the order T U U T, each query in one
    of timed passes 1 and 2; pass 0 is left out)."""
    t, u = {}, {}
    for o in rec["ops"]:
        if o["trace"].endswith("@0"):
            continue
        key = o["query"] if rec["workload"] == "query_mix" else "date"
        (t if o["traced"] else u).setdefault(key, []).append(o["seconds"])
    both = [k for k in t if k in u]
    return (sum(statistics.fmean(t[k]) for k in both) /
            sum(statistics.fmean(u[k]) for k in both) - 1.0)


def summary(rec, m, pct, n, attempted, failed):
    w = rec["workload"]
    kind = "query" if w == "query_mix" else "day"
    lines = [f"{w}{' (traced run)' if rec['traced'] else ''}: setup_s={m['setup_s']:.3f}",
             f"{kind}_p50_s={m['op_p50_s']:.4f}",
             f"{kind}_tail_s={m['op_tail_s']:.4f} (p{pct:.1f} of n={n})"]
    if w == "query_mix":
        lines.append(f"mix_s={m['op_mean_s'] * n:.3f}")
    else:
        lines.append(f"store_bytes_per_row={float(rec['checks']['store_bytes_per_row']):.2f}")
    lines += [f"fail_frac={failed / attempted:.4f} ({failed}/{attempted})",
              f"heap_live_end_mb={m['heap_live_end_mb']:.1f}"]
    log("  ".join(lines))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the raw per-operation record here")
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala/graft", "tools/compare.py"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"run from the repository root: {need} not found in {root}")
            return 2
    classes = build.build(root)
    rec = run_harness(root, classes, a)
    attempted, failed = mark_failures(root, rec)
    if a.record:
        with open(a.record, "w") as f:
            json.dump({k: rec[k] for k in ("workload", "setup_s", "heap_live_end_mb", "ops",
                                            "checks")}, f, indent=1)
    m, pct, n = end_to_end(rec)
    summary(rec, m, pct, n, attempted, failed)
    if a.trace:
        units = dict(PER_LAYER, **(REBUILD_LAYERS if a.workload == "pipeline_rebuild" else {}))
        layers = {k: rec["layers"].get(k, 0.0) for k in units}
        layers["trace.overhead_frac"] = overhead(rec)
        traces = os.path.join(root, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json")
        shutil.copyfile(os.path.join(rec["work"], "spans.json"), spans)
        log(f"spans: {spans}  trace.overhead_frac={layers['trace.overhead_frac']:.4f}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}
    shutil.rmtree(rec["work"], ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
