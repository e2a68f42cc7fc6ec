"""One benchmark run: one workload in a fresh process.

    python3 perfbench/run.py --workload trips --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench_work/`` (not timed as set-up);
2. sets up five times -- ``get_spark`` at ``local[nproc]`` with
   ``nproc`` shuffle partitions, then a tiny warm-up pass over the
   workload's own calls -- and reports the median as ``setup_s``;
3. runs the cold cycle, then two warm cycles, and reports medians over
   the warm ones. The count is fixed, not ``--seconds``: warm cycles keep
   getting faster while the JIT compiles, so a run that fitted in more
   of them would report a later, faster point of that curve. Two warm
   cycles take about ``run_seconds`` on a 4-vCPU host, and the cold
   cycle, set-ups and checks take three times that again;
4. checks every output against its ground truth or DuckDB twin;
5. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1``.

``--trace 1`` turns the Spark UI on, runs every span under its own job
group, writes the spans and per-layer metrics to
``.perfbench_work/trace-<workload>-<seed>.json`` and reports the traced
warm cycles as ``trace.cycle_s`` (wall) and ``trace.cycle_cpu_s``; the
ratio of the latter to the untraced ``cycle_cpu_s`` of the same seed is
the tracing overhead (``selfcheck.py`` prints it).

``--size tiny`` and ``--corrupt`` exist for ``selfcheck.py``: a tiny
input, and one row dropped from every checked output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 5
WARM_CYCLES = 2


class Ctx:
    def __init__(self, args, tracer):
        self.seed = args.seed
        self.size = args.size
        self.corrupt = args.corrupt
        self.tracer = tracer
        self.work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what} {detail}", file=sys.stderr)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(ctx, traced: bool):
    from jobsity_data_pipeline_spark.session import get_spark

    n = nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.port": "0"})
    spark = get_spark(app_name=f"perfbench-{os.getpid()}", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def cpu_times() -> tuple[float, float]:
    """(run, steal) CPU seconds so far. Run is the user and system time
    of this process and every process below it -- the driver JVM and
    Spark's Python workers -- including children they have reaped, so
    other tenants of the machine do not count. Steal is the machine's:
    time the hypervisor gave to other guests while this one wanted to
    run."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        rest = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(rest[1])
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    mine, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        mine += ticks.get(pid, 0)
        todo.extend(c for c, pp in parent.items() if pp == pid)
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    hz = os.sysconf("SC_CLK_TCK")
    return mine / hz, steal / hz


def jvm_heap_retained_mb(spark) -> float:
    """Heap still in use after a full GC: what the run keeps pinned."""
    jvm = spark._jvm
    # Spark's ContextCleaner frees broadcast and shuffle state only after
    # a GC has cleared the weak references to it; collect once more after it
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def stop_jvm(spark) -> None:
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, bench: dict) -> dict:
    from tracing import Tracer
    import workloads as W

    tracer = Tracer(traced=bool(args.trace))
    ctx = Ctx(args, tracer)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    try:
        return measure(args, bench, ctx, W.WORKLOADS[args.workload](ctx))
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
        shutil.rmtree(ctx.work, ignore_errors=True)


def measure(args, bench, ctx, wl) -> dict:
    from tracing import attach_spark_metrics

    tracer = ctx.tracer
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "local")
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # the small JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    t_gen = time.perf_counter()
    wl.generate()
    t_gen = time.perf_counter() - t_gen

    # set-up: fresh SparkContexts (the first also launches the JVM), each
    # followed by the warm-up pass; median wall is setup_s
    starts, warms = [], []
    for _ in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = start_spark(ctx, tracer.traced)
        t1 = time.perf_counter()
        tracer.bind(ctx.spark)
        wl.warmup()
        starts.append(t1 - t0)
        warms.append(time.perf_counter() - t1)
    setup = [a + b for a, b in zip(starts, warms)]
    # spans of the discarded set-ups would point at dead job groups
    tracer.spans.clear()
    tracer.groups.clear()

    cycles, cpu, steal = [], [], []
    heap_mb = 0.0
    for i in range(1 + WARM_CYCLES):
        tracer.cycle = i
        c0, t0 = cpu_times(), time.perf_counter()
        try:
            wl.cycle(i)
        except Exception:
            traceback.print_exc()
            ctx.attempted += 1
            ctx.failed += 1
            break
        cycles.append(time.perf_counter() - t0)
        c1 = cpu_times()
        cpu.append(c1[0] - c0[0])
        steal.append(c1[1] - c0[1])
    if cycles:
        heap_mb = jvm_heap_retained_mb(ctx.spark)
    ops = [s for s in tracer.spans if s.get("op")]
    ctx.attempted += len(ops)
    t_check = time.perf_counter()
    if len(cycles) >= 2:
        try:
            wl.check()
        except Exception:
            traceback.print_exc()
            ctx.attempted += 1
            ctx.failed += 1

    t_check = time.perf_counter() - t_check
    print(f"generate {t_gen:.2f}s, session starts {[round(x, 2) for x in starts]}, "
          f"warm-ups {[round(x, 2) for x in warms]}, "
          f"cycles {[round(x, 2) for x in cycles]}, "
          f"cycle cpu {[round(x, 2) for x in cpu]}, "
          f"cycle steal {[round(x, 2) for x in steal]}, checks {t_check:.2f}s",
          file=sys.stderr)
    last = [f"{s['name']} {s['wall']:.2f}" for s in ops
            if s["cycle"] == len(cycles) - 1]
    print(f"last cycle: {', '.join(last)}", file=sys.stderr)
    warm = cycles[1:] or cycles or [0.0]
    if not tracer.traced:
        metrics = {
            "setup_s": statistics.median(setup),
            "cycle_cpu_s": statistics.median(cpu[1:] or [0.0]),
            "cold_cpu_s": cpu[0] if cpu else 0.0,
            "jvm_heap_retained_mb": heap_mb,
        }
    else:
        attach_spark_metrics(tracer, ctx.spark)
        names = [m["name"] for m in bench["per_layer"]]
        m = {name: 0.0 for name in names}
        m["session.start_s"] = statistics.median(starts)
        m["session.warmup_s"] = statistics.median(warms)
        m["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(ctx.spark)
        m["session.cold_s"] = cycles[0] if cycles else 0.0
        m["session.cycle_steal_s"] = statistics.median(steal[1:] or [0.0])
        m["trace.cycle_s"] = statistics.median(warm)
        m["trace.cycle_cpu_s"] = statistics.median(cpu[1:] or [0.0])
        m["trace.spans"] = len(tracer.spans)
        if len(cycles) >= 2:
            wl.layers(m)
            layer_spark_totals(tracer, m, len(warm))
        metrics = {k: m[k] for k in names}
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"metrics": metrics, "cycles": cycles, "setup": setup,
                       "spans": tracer.spans}, f, default=str)
    units = {m["name"]: m["unit"] for m in
             bench["end_to_end"] + bench["per_layer"]}
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def layer_spark_totals(tracer, m, n_warm) -> None:
    """Per warm cycle, Spark's job, stage and task metrics of each
    layer's spans (each job counted once, on its innermost span)."""
    from tracing import STAGE_FIELDS

    fields = [s for s, _ in STAGE_FIELDS.values()] + ["stages", "tasks", "jobs"]
    for sp in tracer.spans:
        if sp["cycle"] < 1:
            continue
        for f in fields:
            key = f"{sp['layer']}.spark.{f}"
            if key in m:
                m[key] += sp.get(f, 0) / n_warm


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # part of the command line every benchmark of the repo takes; the
    # measured span is the fixed set of warm cycles described above
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    # the package under test is imported from the checkout being measured
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "jobsity_data_pipeline_spark")):
        print("jobsity_data_pipeline_spark/ not found in the working directory",
              file=sys.stderr)
        return 2
    result = run(args, bench)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
