"""Self-check of the benchmark itself, at a tiny input size.

    python3 perfbench/selfcheck.py [workload ...]

From the root of a checkout, for each workload (default: all in
BENCHMARK.json) it runs ``run.py`` three times at ``--size tiny``:

* ``--trace 0``: every end-to-end metric is printed with its unit, the
  outputs are correct and nothing failed;
* ``--trace 1``: every per-layer metric is printed with its unit; the
  ratio of ``trace.cycle_cpu_s`` to the untraced ``cycle_cpu_s`` is
  printed as the tracing overhead;
* ``--corrupt``: one row is dropped from each checked output, and the
  run must count that as failed operations.

It also runs the benchmark in a directory that holds only
``BENCHMARK.json`` and ``perfbench/``, where it must exit non-zero
without printing a result. Exits non-zero if any assertion fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(bench: dict, workload: str, *extra: str,
        cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [*bench["command"], "--workload", workload, "--seed", "11",
           "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-3000:])
        return p.returncode, None


def expect(cond: bool, what: str, problems: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        problems.append(what)


def metrics_ok(out: dict | None, specs: list[dict]) -> bool:
    if out is None:
        return False
    got = out["metrics"]
    return all(s["name"] in got and got[s["name"]]["unit"] == s["unit"]
               and isinstance(got[s["name"]]["value"], (int, float))
               for s in specs)


def main(argv: list[str]) -> int:
    bench = load_bench()
    names = argv or [w["name"] for w in bench["workloads"]]
    problems: list[str] = []
    for w in names:
        rc, plain = run(bench, w, "--size", "tiny", "--trace", "0")
        expect(rc == 0 and metrics_ok(plain, bench["end_to_end"]),
               f"{w}: every end-to-end metric printed with its unit", problems)
        expect(bool(plain and plain["correct"] and plain["failed"] == 0
                    and plain["attempted"] > 0),
               f"{w}: outputs correct, 0 of {plain and plain['attempted']} failed",
               problems)
        rc, traced = run(bench, w, "--size", "tiny", "--trace", "1")
        expect(rc == 0 and metrics_ok(traced, bench["per_layer"]),
               f"{w}: every per-layer metric printed with its unit", problems)
        if plain and traced:
            ratio = (traced["metrics"]["trace.cycle_cpu_s"]["value"]
                     / plain["metrics"]["cycle_cpu_s"]["value"])
            print(f"     {w}: tracing overhead {100 * (ratio - 1):+.1f}% of cycle_cpu_s")
        rc, bad = run(bench, w, "--size", "tiny", "--trace", "0", "--corrupt")
        expect(bool(bad and not bad["correct"] and bad["failed"] > 0),
               f"{w}: a dropped output row counts as failed "
               f"({bad and bad['failed']} of {bad and bad['attempted']})", problems)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out = run(bench, names[0], cwd=bare)
    expect(rc != 0 and out is None,
           "without the package: non-zero exit and no result", problems)
    shutil.rmtree(bare, ignore_errors=True)
    print("selfcheck: " + ("FAILED " + "; ".join(problems) if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
