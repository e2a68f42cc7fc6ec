"""The benchmark's workloads.

Each workload generates its inputs from the seed (``generate``), warms
its own code path at a tiny size (``warmup``, part of set-up), runs one
full cycle of its public calls per ``cycle`` call (cycle 0 is the cold
one in a fresh process), checks its outputs (``check``) and derives its
per-layer numbers from the spans of a traced run (``layers``).

Every call into ``jobsity_data_pipeline_spark`` or ``__spark_entry__``
sits inside a span; an ``op`` attribute marks the spans whose walls are
the workload's operations.
"""

from __future__ import annotations

import os
import shutil
import statistics

import gen
import oracle
import pyarrow.parquet as pq
from tracing import descendants, driver_only_s

from jobsity_data_pipeline_spark.pipeline import trips as TP
from jobsity_data_pipeline_spark.sources import snapshot as SN
from jobsity_data_pipeline_spark.streaming import stream as ST


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = self.sizes[ctx.size]

    def dir(self, *parts) -> str:
        return os.path.join(self.ctx.work, self.name, *parts)


# -- trips: batch ingest, re-ingest and the views -------------------------

TRIPS_VIEWS = {
    "weekly_avg_by_region": TP.weekly_avg_by_region,
    "regions_for_datasource":
        lambda t: TP.regions_for_datasource(t, oracle.DATASOURCE),
    "latest_datasource": TP.latest_datasource,
    "trip_groups": TP.trip_groups,
    "bbox_weekly_avg": lambda t: TP.bbox_weekly_avg(t, *oracle.BBOX),
}


class Trips(Workload):
    """The reference's own job, both ways: batch CSVs ingested,
    re-ingested under new batch ids and viewed; then smaller drops
    replayed one per micro-batch through the same snapshot upsert."""

    name = "trips"
    # sized so that a run, with its cold and two warm cycles, fits the
    # run budget: two files is the fewest that still overlap, and each
    # drop adds one micro-batch of fixed cost to every cycle
    sizes = {"full": {"files": 2, "rows": 20_000, "drops": 5, "drop_rows": 300},
             "tiny": {"files": 2, "rows": 500, "drops": 3, "drop_rows": 200}}

    def generate(self):
        s, seed = self.size, self.ctx.seed
        self.batch = gen.trips_files(self.dir("csv"), seed, s["files"], s["rows"])
        self.drops = gen.trips_files(self.dir("drops"), seed + 1, s["drops"],
                                     s["drop_rows"], time_ordered=True)
        self.warm = gen.trips_files(self.dir("warm"), seed + 2, 1, 200)
        self.results: dict = {}

    def warmup(self):
        # the batch path only: a first streaming query costs several
        # seconds more, paid once by the cold cycle instead of by every
        # one of the set-ups
        ctx = self.ctx
        table = self.dir("warm-table")
        shutil.rmtree(table, ignore_errors=True)
        with ctx.tracer.span("warmup", "session"):
            batch = TP.with_trip_key(
                TP.read_trips_csv(ctx.spark, self.warm["files"][0]))
            SN.upsert_batch(batch, 0, table)
            noop(TP.weekly_avg_by_region(SN.read_latest(ctx.spark, table)))

    def cycle(self, i):
        self._batch(self.dir(f"table-{i}"))
        self.results["stream_table"] = self._replay(self.dir("drops"),
                                                    self.dir(f"run-{i}"))

    def _batch(self, table):
        ctx, tr = self.ctx, self.ctx.tracer
        for phase, base in (("ingest", 0), ("reingest", 1000)):
            for j, path in enumerate(self.batch["files"]):
                with tr.span(f"{phase}:{j}", "snapshot", op=phase) as sp:
                    with tr.span("read_trips_csv", "trips"):
                        batch = TP.with_trip_key(TP.read_trips_csv(ctx.spark, path))
                    with tr.span("latest_manifest", "snapshot"):
                        man = SN.latest_manifest(table)
                    sp["prior_files"] = len(man["files"]) if man else 0
                    with tr.span("upsert_batch", "snapshot"):
                        sp["outcome"] = SN.upsert_batch(batch, base + j, table)
            self.results[f"version_after_{phase}"] = (
                SN.latest_manifest(table)["version"])
        with tr.span("read_latest", "snapshot", op="read_latest"):
            hist = SN.read_latest(ctx.spark, table)
        views = {}
        for name, fn in TRIPS_VIEWS.items():
            with tr.span(f"view:{name}", "trips", op="view", view=name):
                views[name] = fn(hist)
                noop(views[name])
        self.results["views"] = views
        self.results["table"] = table

    def _replay(self, drops, run):
        ctx, tr = self.ctx, self.ctx.tracer
        table, ckpt = os.path.join(run, "table"), os.path.join(run, "ckpt")
        with tr.span("replay", "stream", op="replay") as sp:
            with tr.span("read_trips_stream", "stream"):
                src = ST.read_trips_stream(ctx.spark, drops,
                                           max_files_per_trigger=1)
            with tr.span("dedup_stream", "stream"):
                dedup = ST.dedup_stream(src)
            with tr.span("start_snapshot_upsert", "snapshot"):
                q = SN.start_snapshot_upsert(dedup, table, ckpt)
            tr.adopt_group(str(q.runId), sp)
            q.awaitTermination()
            with tr.span("ingest_status", "stream"):
                sp["status"] = ST.ingest_status(q)
        sp["progress"] = [p for p in q.recentProgress if p.get("numInputRows")]
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
        return table

    def check(self):
        ctx = self.ctx
        want = self.batch["distinct_rows"]
        table = self.results["table"]
        for phase in ("ingest", "reingest"):
            version = self.results[f"version_after_{phase}"]
            got = SN.read_version(ctx.spark, table, version).count()
            ctx.check(f"hist rows after {phase}", got == want - ctx.corrupt,
                      f"{got} != {want}")
        expect = oracle.trips_view_digests(self.batch["files"])
        for name, df in self.results["views"].items():
            rows = [tuple(r) for r in df.collect()]
            ok = oracle.digest(df.columns, rows, ctx.corrupt) == expect[name]
            ctx.check(f"view {name} matches duckdb", ok)
        want = self.drops["distinct_rows"]
        got = SN.read_latest(ctx.spark, self.results["stream_table"]).count()
        ctx.check("stream hist rows", got == want - ctx.corrupt, f"{got} != {want}")
        n = len(self.drops["files"])
        batches = [len(s["progress"]) for s in ctx.tracer.ops("replay")]
        ctx.check("one micro-batch per drop", all(b == n for b in batches),
                  f"{batches} != {n}")

    def layers(self, m):
        tr = self.ctx.tracer
        ingest, reingest = tr.ops("ingest"), tr.ops("reingest")
        m["snapshot.upsert_s"] = median(s["wall"] for s in ingest)
        m["snapshot.reingest_upsert_s"] = median(s["wall"] for s in reingest)
        m["snapshot.prior_files_p50"] = median(s["prior_files"] for s in ingest)
        m["snapshot.prior_files_last"] = ingest[-1]["prior_files"]
        m["snapshot.skipped_duplicate"] = sum(
            s["outcome"] == "skipped_duplicate" for s in ingest + reingest)
        m["snapshot.read_latest_s"] = median(s["wall"] for s in tr.ops("read_latest"))
        views = tr.ops("view")
        n_cycles = len({s["cycle"] for s in views})
        for name in TRIPS_VIEWS:
            m[f"trips.view_s.{name}"] = median(
                s["wall"] for s in views if s["view"] == name)
        m["trips.view_s"] = sum(s["wall"] for s in views) / n_cycles
        table = self.results["table"]
        files = [os.path.join(r, f) for r, _d, fs in os.walk(table)
                 for f in fs if f.endswith(".parquet")]
        m["snapshot.files_written"] = len(files)
        m["snapshot.empty_files_written"] = sum(
            pq.ParquetFile(f).metadata.num_rows == 0 for f in files)
        m["snapshot.versions_published"] = len(SN.history(table))
        m["snapshot.live_files"] = len(SN.latest_manifest(table)["files"])
        m["snapshot.bytes_written_per_input_byte"] = (
            _tree_bytes(table) / self.batch["distinct_csv_bytes"])

        replays = tr.ops("replay")
        prog = [p for s in replays for p in s["progress"]]
        dur = [p["batchDuration"] for p in prog]
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        m["stream.batches"] = median(len(s["progress"]) for s in replays)
        m["stream.replay_s"] = median(s["wall"] for s in replays)
        m["stream.batch_ms_p50"] = median(dur)
        m["stream.add_batch_ms_p50"] = median(add)
        m["stream.trigger_overhead_ms_p50"] = median(d - a for d, a in zip(dur, add))
        growth = []
        for s in replays:
            d = [p["batchDuration"] for p in s["progress"]][1:]
            k = min(10, len(d) // 2)
            if k:
                growth.append(median(d[-k:]) / median(d[:k]))
        m["stream.batch_growth"] = median(growth)
        m["stream.state_rows_total"] = replays[-1]["status"]["state_rows_total"] or 0
        m["stream.rows_per_s"] = median(
            self.drops["input_rows"] / s["wall"] for s in replays)
        stream_table = self.results["stream_table"]
        m["stream.live_files"] = len(SN.latest_manifest(stream_table)["files"])
        m["stream.bytes_written_per_input_byte"] = (
            _tree_bytes(stream_table) / self.drops["distinct_csv_bytes"])


# -- registered queries: construction-bound and execution-bound -------------

# emb_kcenter_sample: farthest-point selection, one driver round-trip
# per pick, so construction jobs are most of its wall.
# emb_ann_recall is left out for time alone: about 25 s cold and 9 s
# warm at sf0.01, more than the whole warm cycle the run budget allows.
# emb_dedup_stats is left out because its output is wrong on about a
# quarter of the seeds: connected_components stops after max_iter=20
# rounds of label propagation, and the near-duplicate graph of 500
# isotropic vectors (the same shape as the reference corpus at sf0.01)
# often needs more. It belongs back here once the propagation runs to
# convergence.
ITERATIVE = ("emb_kcenter_sample",)
RELATIONAL = ("q1_pricing_summary", "q18_large_orders", "weekly_avg_by_region")
CORPUS = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings")


class Queries(Workload):
    name = "queries"
    sizes = {"full": {"sf_iterative": 0.01, "sf_relational": 0.02},
             "tiny": {"sf_iterative": 0.004, "sf_relational": 0.002}}

    def generate(self):
        s = self.size
        self.sf = {"iterative": self.dir("sf-iterative"),
                   "relational": self.dir("sf-relational")}
        gen.corpus_tables(self.sf["iterative"], self.ctx.seed, s["sf_iterative"])
        gen.corpus_tables(self.sf["relational"], self.ctx.seed, s["sf_relational"])
        gen.corpus_tables(self.dir("sf-warm"), self.ctx.seed + 1, 0.001)
        import __spark_entry__ as E
        self.fns = E.queries()
        self.sql = E.oracle_sql()
        self.last: dict = {}

    def plan(self):
        return [(k, "iterative") for k in ITERATIVE] + [
            (k, "relational") for k in RELATIONAL]

    def warmup(self):
        self._run("q1_pricing_summary", "warmup", self.dir("sf-warm"))

    def cycle(self, i):
        for key, kind in self.plan():
            self.last[key] = self._run(key, kind, self.sf[kind])

    def _run(self, key, kind, sf_dir):
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span(f"q:{key}", "operators", op="query", key=key, kind=kind):
            with tr.span("construct", "operators", phase="construct"):
                df = self.fns[key](ctx.spark, sf_dir)
            with tr.span("execute", "operators", phase="execute"):
                noop(df)
        return df

    def check(self):
        ctx = self.ctx
        for kind in ("iterative", "relational"):
            keys = [k for k, kd in self.plan() if kd == kind]
            expect = oracle.query_digests({k: self.sql[k] for k in keys},
                                          self.sf[kind], CORPUS)
            for k in keys:
                df = self.last[k]
                rows = [tuple(r) for r in df.collect()]
                ok = oracle.digest(df.columns, rows, ctx.corrupt) == expect[k]
                ctx.check(f"query {k} matches oracle_sql", ok)

    def layers(self, m):
        tr = self.ctx.tracer
        warm, cold = tr.ops("query"), tr.ops("query", warm=False)
        n_cycles = max(len({s["cycle"] for s in warm}), 1)

        def phase(spans, name):
            return [c for s in spans for c in descendants(tr.spans, s)
                    if c.get("phase") == name]

        def per_cycle(xs):
            return sum(xs) / n_cycles

        rel = [s for s in warm if s["kind"] == "relational"]
        m["operators.relational.construct_s"] = per_cycle(
            c["wall"] for c in phase(rel, "construct"))
        m["operators.relational.execute_s"] = per_cycle(
            c["wall"] for c in phase(rel, "execute"))
        m["operators.construct_s"] = per_cycle(c["wall"] for c in phase(warm, "construct"))
        m["operators.execute_s"] = per_cycle(c["wall"] for c in phase(warm, "execute"))
        m["operators.memo_build_s"] = (
            sum(s["wall"] for s in cold) - per_cycle(s["wall"] for s in warm))
        cj = per_cycle(c["jobs"] for c in phase(warm, "construct"))
        ej = per_cycle(c["jobs"] for c in phase(warm, "execute"))
        m["operators.construct_jobs"] = cj
        m["operators.execute_jobs"] = ej
        m["operators.s_per_job"] = per_cycle(s["wall"] for s in warm) / max(cj + ej, 1)
        m["operators.cold_construct_jobs"] = sum(
            c["jobs"] for c in phase(cold, "construct"))
        m["spark.driver_only_s"] = per_cycle(
            driver_only_s(s, descendants(tr.spans, s)) for s in warm)
        for key in ITERATIVE:
            w = [s for s in warm if s["key"] == key]
            c = [s for s in cold if s["key"] == key]
            m[f"q.{key}.construct_s"] = median(x["wall"] for x in phase(w, "construct"))
            m[f"q.{key}.execute_s"] = median(x["wall"] for x in phase(w, "execute"))
            m[f"q.{key}.cold_s"] = sum(x["wall"] for x in c)
            m[f"q.{key}.construct_jobs"] = median(
                x["jobs"] for x in phase(w, "construct"))


WORKLOADS = {w.name: w for w in (Trips, Queries)}
