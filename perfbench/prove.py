#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report, per workload and
end-to-end metric, the median and the spread (inter-quartile distance
over the median) next to the metric's bound. Run from the checkout root:

    python3 perfbench/prove.py --runs 10 [--workload ingest] [--first-seed 1]

Writes every run's result line and the summary to perfbench/out/prove.json.
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs, summary = [], {}
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(line)
            runs.append({"workload": w, "seed": seed, "exit": p.returncode,
                         "wall_s": time.time() - t0, "result": res})
            print(f"{w} seed {seed}: exit {p.returncode}, {time.time() - t0:.0f} s, "
                  f"failed {res.get('failed')}/{res.get('attempted')}", flush=True)
            for m, v in res.get("metrics", {}).items():
                values[m].append(v["value"])
        summary[w] = {}
        for m, vs in values.items():
            if len(vs) >= 2:
                s = metrics.spread(vs)
                summary[w][m] = {"median": statistics.median(vs), "spread": s,
                                 "bound": bounds[m], "n": len(vs)}
                print(f"  {m:12s} median {statistics.median(vs):10.4g}  spread {s:6.3f}"
                      f"  bound {bounds[m]}", flush=True)
    (HERE / "out").mkdir(exist_ok=True)
    (HERE / "out" / "prove.json").write_text(json.dumps(
        {"runs": runs, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
