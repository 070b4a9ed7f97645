#!/usr/bin/env python3
"""Link-prediction benchmark: times the engine's p1 and p2 programs and the
near-dup / pair-graph query family from outside, through their public calls.

    python3 linkbench/run.py --workload p1_citation --seed 1 --seconds 20 --trace 0

Run from the repository root. It compiles the engine and the benchmark
(linkbench/build.py) when the sources changed, generates the workload's
inputs from --seed (untimed), runs one JVM with one Spark session at
local[nproc], and prints one JSON line last: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones. The exit code is 0 only when
every correctness check passed. A full record of the run (iterations,
spans, counters, Spark configuration, disk headroom) is written under
.bench_build/linkbench/runs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchmath  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "linkbench")

# Input sizes, fixed per workload (the seed changes the content, not the
# size). p1 runs at a tenth of the paper's 27,770 papers so that a run fits
# the benchmark's time budget; edge counts keep the paper's ratios.
SIZES = {
    "p1_citation": {"papers": 2777},
    "p2_discovery": {"documents": 10000, "twin_share": 0.0},
    "pair_family": {"documents": 2000, "twin_share": 0.4},
}
WORKLOADS = list(SIZES)
# The DuckDB oracles of the pair family are quadratic replays (about 550 s
# at 3,000 documents), so the oracle check runs on its own, smaller corpus
# from the same generator: run.py --workload pair_family --oracle.
ORACLE_DOCUMENTS = 300
HEAP = "3g"
JVM_TIMEOUT_S = 165
ORACLE_TIMEOUT_S = 120
FAMILY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "embeddings"]


def generate(workload, seed, data, oracle):
    size = SIZES[workload]
    if workload == "p1_citation":
        return gen.gen_p1(data, seed, size["papers"])
    docs = ORACLE_DOCUMENTS if oracle else size["documents"]
    return gen.gen_documents(data, seed, docs, size["twin_share"])


def run_jvm(classpath, workload, data, work, seconds, trace, out, dump):
    cores = len(os.sched_getaffinity(0))
    launched = time.time_ns()
    cmd = ["java", "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           ] + build.ADD_OPENS + [
        "-cp", classpath, "linkbench.Main",
        "--workload", workload, "--data", data, "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores),
        "--launched-ns", str(launched), "--work", work, "--out", out]
    if dump:
        cmd += ["--dump", dump]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:  # timed out, or this process was stopped
            proc.kill()
            proc.wait()


def oracle_check(data, dump):
    """Compares the dumped pair_family results with SparkEntry's DuckDB
    oracle SQL through tools/compare.py (the Verify/compare path). That
    script opens views on all ten corpus tables; the ones this workload
    does not generate get an empty stand-in."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in FAMILY_TABLES:
        pq.write_table(pa.table({"unused": pa.array([], pa.int64())}),
                       os.path.join(data, t + ".parquet"))
    try:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                            data, dump], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return False, "oracle compare timed out"
    sys.stderr.write(r.stdout)
    return r.returncode == 0, r.stdout.strip().splitlines()[-1:]


def nonrepeating(iterations):
    """Counters that differ between plain iterations, with every value seen:
    per-iteration totals and, where the iteration set job groups per query,
    per-query counts. Outputs are checked separately (they must repeat)."""
    seen = {}
    for it in iterations:
        if it["kind"] == "traced":
            continue
        for k in ("jobs", "stages", "tasks", "shuffle_records", "exchanges"):
            seen.setdefault(k, []).append(it["counters"][k])
        for g, c in it["groups"].items():
            for k, v in c.items():
                if k != "plan_nodes":
                    seen.setdefault(g + "." + k, []).append(v)
    return {k: v for k, v in sorted(seen.items()) if len(set(v)) > 1}


def output_mismatches(iterations):
    """Iterations whose exact outputs differ from the warm-up's."""
    ref = iterations[0]["outputs"]
    return [it["id"] for it in iterations[1:]
            if it["outputs"] and ref and it["outputs"] != ref]


def end_to_end(res, plain):
    c = [it["counters"] for it in plain]
    return {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": benchmath.median([it["wall_s"] for it in plain]),
        "cpu_s": benchmath.median([x["cpu_ns"] for x in c]) / 1e9,
        "shuffle_mb": benchmath.median([x["shuffle_bytes"] for x in c]) / 1e6,
        "f1": benchmath.median([it["quality"]["f1"] for it in plain]),
        "recall": benchmath.median([it["quality"]["recall"] for it in plain]),
    }


def per_layer(res, plain, traced):
    """Per-layer metrics: span times and counts from the traced iterations,
    engine counters from the plain iterations of the same run."""
    out = {}
    cores = res["record"]["nproc"]
    spans_by_it = {}
    for s in res["spans"]:
        spans_by_it.setdefault(s["iteration"], []).append(s)
    rows = []
    for it in traced:
        spans = spans_by_it[it["id"]]
        selfs = benchmath.self_times(spans)
        row = dict(it["layer"])
        layer_self = {}
        for s in spans:
            secs = (s["end_ns"] - s["start_ns"]) / 1e9
            name = s["name"]
            if name == "iteration":
                row["trace.traced_wall_s"] = secs
                row["trace.bench_self_s"] = selfs[s["id"]] / 1e9
                continue
            layer = name.split(".")[0]
            layer_self[layer] = layer_self.get(layer, 0) + selfs[s["id"]] / 1e9
            key = name + (".build_s" if layer == "frames" else "_s")
            row[key] = row.get(key, 0.0) + secs
            if name == "ml.train":
                row["ml.train_jobs"] = s["counters"]["jobs"]
            if name == "operators.self_join":
                cand = res["extras"].get("operators.candidates", 0)
                row["operators.candidates"] = cand
                row["operators.pairs_out"] = s["counters"]["join_rows"]
                row["operators.verify_yield"] = benchmath.ratio(
                    s["counters"]["join_rows"], cand)
                row["operators.cpu_ns_per_candidate"] = benchmath.ratio(
                    s["counters"]["cpu_ns"], cand)
        for layer, v in layer_self.items():
            row["self.%s_s" % layer] = v
        rows.append(row)
    for k in sorted({k for r in rows for k in r}):
        out[k] = benchmath.median([r.get(k, 0.0) for r in rows])

    c = [it["counters"] for it in plain]
    walls = [it["wall_s"] for it in plain]
    tasks = [t for x in c for t in x["task_ms"]]

    def med(key, scale=1.0):
        return benchmath.median([x[key] for x in c]) * scale

    out.update({
        "spark.jobs": med("jobs"), "spark.stages": med("stages"),
        "spark.tasks": med("tasks"), "spark.exchanges": med("exchanges"),
        "spark.shuffle_records": med("shuffle_records"),
        "spark.spill_mb": med("spill_bytes", 1e-6),
        "spark.gc_s": med("gc_ms", 1e-3),
        "spark.task_p50_ms": benchmath.percentile(tasks, 50) if tasks else 0.0,
        "spark.task_max_ms": benchmath.median(
            [max(x["task_ms"]) if x["task_ms"] else 0 for x in c]),
        "spark.busy_frac": benchmath.median(
            [x["run_ms"] / 1e3 / (w * cores) for x, w in zip(c, walls)]),
        "trace.overhead_s": out.get("trace.traced_wall_s", 0.0)
        - benchmath.median(walls),
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--oracle", action="store_true",
                    help="pair_family only: also compare every query's output "
                    "with its DuckDB oracle (tools/compare.py), on a %d-document "
                    "corpus" % ORACLE_DOCUMENTS)
    args = ap.parse_args()
    # a stopped benchmark still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("linkbench: terminated"))
    if args.oracle and args.workload != "pair_family":
        ap.error("--oracle applies to pair_family")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(spec_path):
        sys.exit("linkbench: run from a checkout of the engine "
                 "(src/main/scala/graft and BENCHMARK.json not found)")
    with open(spec_path) as f:
        spec = json.load(f)

    classpath = build.ensure_built(ROOT, BUILD_DIR)

    run_id = "%s-s%d-t%d%s" % (args.workload, args.seed, args.trace,
                               "-oracle" if args.oracle else "")
    work = os.path.join(BUILD_DIR, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    manifest = generate(args.workload, args.seed, data, args.oracle)
    out = os.path.join(work, "result.json")
    dump = os.path.join(work, "oracle_dump") if args.oracle else None
    try:
        code = run_jvm(classpath, args.workload, data, work, args.seconds,
                       args.trace, out, dump)
        if code != 0 or not os.path.isfile(out):
            sys.exit("linkbench: benchmark JVM %s" % (
                "timed out" if code is None else "exited with %s" % code))
        with open(out) as f:
            res = json.load(f)

        its = res["iterations"]
        plain = [it for it in its if it["kind"] == "plain" and it["quality"]]
        traced = [it for it in its if it["kind"] == "traced" and it["quality"]]
        if not plain or (args.trace and not traced):
            for it in its:
                for p in it["problems"]:
                    sys.stderr.write("linkbench: iteration %s: %s\n" % (it["id"], p))
            sys.exit("linkbench: no iteration completed")
        problems = [(it["id"], p) for it in its for p in it["problems"]]
        mismatched = output_mismatches(its)
        problems += [(i, "outputs differ from the warm-up iteration's")
                     for i in mismatched]
        failed_ids = {i for i, _ in problems}
        attempted, failed = len(its), len(failed_ids)
        if dump:
            ok, detail = oracle_check(data, dump)
            attempted += 1
            if not ok:
                failed += 1
                problems.append(("oracle", detail))
        if "extras_error" in res["extras"]:
            problems.append(("extras", res["extras"]["extras_error"]))
            failed += 1

        repeats = nonrepeating(its)
        if args.trace:
            computed = per_layer(res, plain, traced)
            computed["repeat.nonrepeating"] = len(repeats)
            wanted = spec["per_layer"]
        else:
            computed = end_to_end(res, plain)
            wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(computed.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in wanted}

        record = dict(res, manifest=manifest, seed=args.seed, metrics=metrics,
                      nonrepeating_counters=repeats, problems=problems,
                      unreported=sorted(set(computed) - set(metrics)))
        runs = os.path.join(BUILD_DIR, "runs")
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(runs, run_id + ".json"), "w") as f:
            json.dump(record, f)
        for i, p in problems:
            sys.stderr.write("linkbench: check failed (iteration %s): %s\n" % (i, p))
        for k, v in repeats.items():
            sys.stderr.write("linkbench: counter does not repeat: %s %s\n" % (k, v))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
