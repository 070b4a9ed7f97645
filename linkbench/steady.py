#!/usr/bin/env python3
"""Runs the benchmark over several seeds and checks that it is steady.

    python3 linkbench/steady.py --seeds 1-10 --out runs.jsonl
    python3 linkbench/steady.py --report runs.jsonl [--against other.jsonl]

For each workload and end-to-end metric it prints the median over seeds and
the spread (quartile distance / median) next to the metric's bound from
BENCHMARK.json. With --against, it also checks that the medians of the
first set are not worse than those of the second by more than the bound.
Run from the repository root.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchmath  # noqa: E402

ROOT = os.path.dirname(HERE)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(spec, workloads, seeds, out):
    with open(out, "a") as f:
        for w in workloads:
            for seed in seeds:
                t0 = time.time()
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                     "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                    stderr=subprocess.DEVNULL, text=True)
                lines = r.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if lines else None
                row = {"workload": w, "seed": seed, "exit": r.returncode,
                       "run_s": time.time() - t0, "result": result}
                f.write(json.dumps(row) + "\n")
                f.flush()
                print("%-13s seed %-3d exit %d  %.1f s" % (w, seed, r.returncode,
                                                           row["run_s"]), flush=True)


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def values(rows, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in rows
            if r["workload"] == workload and r["result"]]


def report(spec, rows, against):
    ok = True
    workloads = sorted({r["workload"] for r in rows})
    for w in workloads:
        runs = [r for r in rows if r["workload"] == w]
        bad = [r["seed"] for r in runs if r["exit"] != 0 or not r["result"]]
        print("%s: %d runs, %d failed, %.1f s per run" % (
            w, len(runs), len(bad), benchmath.median([r["run_s"] for r in runs])))
        ok &= not bad
        for m in spec["end_to_end"]:
            v = values(rows, w, m["name"])
            if len(v) < 2:
                continue
            s = benchmath.spread(v)
            line = "  %-11s median %-12.6g spread %6.3f  bound %.2f" % (
                m["name"], benchmath.median(v), s, m["bound"])
            ok &= s <= m["bound"]
            line += "  %s" % ("steady" if s <= m["bound"] / 3 else
                              "within bound" if s <= m["bound"] else "TOO WIDE")
            if against:
                p = values(against, w, m["name"])
                within = benchmath.within_bound(p, v, m["bound"], m["better"])
                ok &= within
                line += "  vs other set %+.3f %s" % (
                    benchmath.worse_by(benchmath.median(p), benchmath.median(v),
                                       m["better"]), "ok" if within else "WORSE")
            print(line)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", help="seed range, e.g. 1-10")
    ap.add_argument("--workloads", help="comma list (default: all)")
    ap.add_argument("--out", help="append run results to this JSON-lines file")
    ap.add_argument("--report", help="report on a JSON-lines file of results")
    ap.add_argument("--against", help="second result file to compare medians with")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    path = args.report
    if args.seeds:
        workloads = args.workloads.split(",") if args.workloads else \
            [w["name"] for w in spec["workloads"]]
        path = args.out or os.path.join(ROOT, ".bench_build", "linkbench",
                                        "steady.jsonl")
        collect(spec, workloads, seeds_of(args.seeds), path)
    if not path:
        ap.error("give --seeds or --report")
    against = load(args.against) if args.against else None
    sys.exit(0 if report(spec, load(path), against) else 1)


if __name__ == "__main__":
    main()
