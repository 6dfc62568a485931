"""Record baseline runs of the benchmark into ``loopbench/baseline.json``.

    python3 loopbench/baseline.py --batches 101-110,201-210 --traced 101-103

Each ``--batches`` range is one batch of seeds. Every workload in
BENCHMARK.json runs once per seed, untraced, each run its own process;
seeds, batches and workloads are interleaved so host drift spreads over
all of them. For each batch and end-to-end metric the file keeps the
median and the interquartile spread relative to the median
(``statistics.quantiles(values, n=4)``), and how far the later batches'
medians move from the first batch's, against the metric's bound.
``--traced`` seeds (a subset of the first batch) run once more with
``--trace 1``, right after their untraced run, so both see the same
host speed; the tracing overhead is the median over those seeds of
traced ``trace.run_p50_s`` minus untraced ``run_p50_s``. Every run's
result line is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    detail = next((json.loads(x[7:]) for x in lines if x.startswith("detail ")), {})
    print(workload, seed, trace, p.returncode, round(time.perf_counter() - t0, 1),
          file=sys.stderr, flush=True)
    return {"seed": seed, "trace": trace, "exit": p.returncode,
            "process_s": round(time.perf_counter() - t0, 1), "result": res,
            "detail": detail}


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q[0], "q3": q[2],
            "iqr_over_median": (q[2] - q[0]) / med}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", default="101-110,201-210")
    ap.add_argument("--traced", default="101-103")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    batches = [seeds(b) for b in args.batches.split(",")]
    traced_seeds = set(seeds(args.traced)) if args.traced else set()
    if not traced_seeds <= set(batches[0]):
        ap.error("--traced seeds must be in the first batch")
    runs = {w: [[] for _ in batches] for w in names}
    traced = {w: [] for w in names}
    for i in range(max(len(b) for b in batches)):
        for w in names:
            for k, b in enumerate(batches):
                if i < len(b):
                    runs[w][k].append(one(w, b[i], bench["run_seconds"], 0))
                    if k == 0 and b[i] in traced_seeds:
                        traced[w].append(one(w, b[i], bench["run_seconds"], 1))

    out = {"command": "python3 loopbench/baseline.py --batches %s --traced %s"
                      % (args.batches, args.traced),
           "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        sums = []
        for batch in runs[w]:
            ok = [r["result"]["metrics"] for r in batch if r["result"].get("correct")]
            sums.append({m["name"]: summary([x[m["name"]]["value"] for x in ok])
                         for m in bench["end_to_end"]})
        entry = {"batches": sums, "runs": runs[w], "traced_runs": traced[w]}
        entry["batch_median_shift"] = [
            {m["name"]: {"shift": s[m["name"]]["median"] / sums[0][m["name"]]["median"] - 1,
                         "bound": m["bound"]} for m in bench["end_to_end"]}
            for s in sums[1:]]
        untraced = {r["seed"]: r["result"]["metrics"]["run_p50_s"]["value"]
                    for r in runs[w][0] if r["result"].get("metrics")}
        pairs = [(r["result"]["metrics"]["trace.run_p50_s"]["value"], untraced[r["seed"]])
                 for r in traced[w] if r["result"].get("metrics") and r["seed"] in untraced]
        if pairs:
            entry["tracing_overhead"] = {
                "seeds": len(pairs),
                "traced_run_p50_s": statistics.median(t for t, _ in pairs),
                "untraced_run_p50_s": statistics.median(u for _, u in pairs),
                "overhead_s": statistics.median(t - u for t, u in pairs)}
        out["workloads"][w] = entry
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
