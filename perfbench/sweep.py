#!/usr/bin/env python3
"""Runs the benchmark many times and summarizes the spread of its figures.

    python3 perfbench/sweep.py --workload W [--seeds 1-10] [--label first] \
        [--out perfbench/results/end_to_end.json]
    python3 perfbench/sweep.py --workload W --traced [--out perfbench/results/traced.json]

Run from the root of a checkout, like run.py. The first form runs
`run.py --trace 0` once per seed and reports, for every end-to-end metric,
the median and the spread: (Q3 - Q1) / median over the runs, with the
quartiles of `statistics.quantiles(values, n=4)`. The second form runs
`run.py --trace 1` twice on one seed and reports every per-layer metric of
both runs and whether each count repeats exactly. With --out, the summary is
merged into that JSON file under the workload (and, for the first form, the
label); without it, it is printed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
COUNTS = ("build.jobs", "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
          "streaming.batches", "streaming.state_rows", "shuffle.write_mb", "shuffle.read_mb",
          "shuffle.spill_mb", "cache.plans_leaked", "cache.rdds_leaked")


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed (seed {seed}, exit {r.returncode}):\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["details"] = json.loads(lines[-2])
    result["run_s"] = time.time() - t0
    print(f"seed {seed}: {round(result['run_s'], 1)} s "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                     if not trace or k == "trace.overhead_frac"), file=sys.stderr, flush=True)
    return result


def spreads(workload, seeds, seconds, bounds):
    runs = [run(workload, s, seconds, 0) for s in seeds]
    metrics = {}
    for name, unit in ((k, v["unit"]) for k, v in runs[0]["metrics"].items()):
        values = [r["metrics"][name]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4)
        metrics[name] = {"unit": unit, "median": statistics.median(values), "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / statistics.median(values),
                         "bound": bounds.get(name), "values": values}
    return {"runs": len(runs), "seeds": seeds,
            "run_s_median": round(statistics.median(r["run_s"] for r in runs), 2),
            "correct_runs": sum(r["correct"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs), "metrics": metrics}


def traced(workload, seed, seconds):
    runs = [run(workload, seed, seconds, 1) for _ in range(2)]
    a, b = (r["metrics"] for r in runs)
    return {"seed": seed, "correct_runs": sum(r["correct"] for r in runs),
            "counts_repeat": {k: a[k]["value"] == b[k]["value"] for k in COUNTS},
            "trace_overhead_frac": [r["metrics"]["trace.overhead_frac"]["value"] for r in runs],
            "runs": {k: [a[k]["value"], b[k]["value"]] for k in a}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--label", default="first")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    if args.traced:
        summary = traced(args.workload, seeds_of(args.seeds)[0], seconds)
    else:
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        summary = spreads(args.workload, seeds_of(args.seeds), seconds, bounds)
    if not args.out:
        print(json.dumps(summary, indent=1))
        return
    out = Path(args.out)
    doc = json.loads(out.read_text()) if out.exists() else {}
    if args.traced:
        doc[args.workload] = summary
    else:
        doc.setdefault(args.workload, {})[args.label] = summary
    out.write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
