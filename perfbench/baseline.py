"""Record a baseline: every workload over several seeds, then the median
and quartiles of every metric.

    python3 perfbench/baseline.py --seeds 1-10 --trace 0 1 \\
        --out perfbench/baseline.json

Each run is ``perfbench/run.py`` in a fresh process, from the checkout
root, with the run length of BENCHMARK.json. Quartiles are those of
``statistics.quantiles(values, n=4)``; ``spread`` is their distance as a
share of the median, the figure each end-to-end bound is set against.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys

from run import ROOT, overhead_of, run_seconds, spawn

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def summarize(values: list) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "runs": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, nargs="+", default=[0, 1])
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]

    runs = []
    for trace in args.trace:
        for name in names:
            for seed in args.seeds:
                got = spawn(name, seed, run_seconds(), trace)
                if got is None:
                    return 1
                runs.append({"workload": name, "seed": seed, "trace": trace,
                             "record": got[0], "result": got[1]})
                print(name, seed, trace, json.dumps(got[1]["metrics"]),
                      file=sys.stderr)

    out = {"host": {"cores": len(os.sched_getaffinity(0)),
                    "cpu": cpu_model()},
           "seconds": run_seconds(), "seeds": args.seeds, "workloads": {}}
    for name in names:
        mine = [r for r in runs if r["workload"] == name]
        metrics: dict = {}
        for r in mine:
            for key, m in r["result"]["metrics"].items():
                metrics.setdefault(key, (m["unit"], []))[1].append(m["value"])
        out["workloads"][name] = {
            "why": mine[0]["record"]["why"],
            "correct": all(r["result"]["correct"] for r in mine),
            "failed": sum(r["result"]["failed"] for r in mine),
            "attempted": sum(r["result"]["attempted"] for r in mine),
            "metrics": {k: {"unit": u, **summarize(v)}
                        for k, (u, v) in metrics.items()},
            "inputs": {r["seed"]: r["record"]["inputs"] for r in mine
                       if r["trace"] == 0},
        }
        traced = {r["seed"]: r["record"] for r in mine if r["trace"] == 1}
        plain = {r["seed"]: r["record"] for r in mine if r["trace"] == 0}
        both = sorted(set(traced) & set(plain))
        if both:
            diffs = [overhead_of(plain[s], traced[s]) for s in both]
            out["workloads"][name]["tracing_overhead"] = {
                k: summarize([d[k] for d in diffs]) for k in diffs[0]}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
