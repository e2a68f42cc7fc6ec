"""Run-to-run spread of the end-to-end metrics, against their bounds.

    python3 perfbench/spread.py --runs 10 [--first-seed 100] [workload ...]

From the root of a checkout, runs the benchmark command ``--runs``
times per workload, each with its own seed, and prints for every
end-to-end metric the median and the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median, next to the metric's bound and a third of it. Raw results
are appended to ``.perfbench_work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import time

ROOT = os.getcwd()


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    bench = load_bench()
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    log = open(os.path.join(ROOT, ".perfbench_work", "spread.jsonl"), "a")
    for w in names:
        values: dict[str, list[float]] = {}
        walls: list[float] = []
        for k in range(args.runs):
            seed = args.first_seed + k
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            elapsed = time.perf_counter() - t0
            walls.append(elapsed)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            timings = [x for x in out.stderr.splitlines() if x.startswith("generate ")]
            log.write(json.dumps({"workload": w, "seed": seed, **res,
                                  "elapsed_s": elapsed,
                                  "timings": timings[-1:]}) + "\n")
            log.flush()
            if not res["correct"]:
                print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} failed")
            for name, v in res["metrics"].items():
                values.setdefault(name, []).append(v["value"])
        print(f"{w} ({args.runs} runs, {statistics.mean(walls):.1f} s a run)")
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < m["bound"] / 3 else (
                "within bound" if spread <= m["bound"] else "OVER BOUND")
            print(f"  {m['name']:<18} median {med:10.3f} {m['unit']:<4} "
                  f"spread {spread:6.3f}  bound {m['bound']:.2f} "
                  f"(third {m['bound'] / 3:.3f})  {flag}")


if __name__ == "__main__":
    main()
