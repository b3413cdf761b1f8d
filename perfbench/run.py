"""Benchmark of the INE pipeline and the registered queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the project. It drives the program from
outside, through public functions only: ``session.get_spark``,
``__spark_entry__.queries()`` / ``oracle_sql()`` and
``plans.pipeline.run_pipeline`` fed by ``plans.view_catalog``. One session
on ``local[<cores>]``, one caller in a closed loop: each operation starts
after the previous one ended. A warm-up pass (part of ``setup_s``), then
at least three timed passes and at least ``--seconds`` of pass time. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import checks
import eventlog
import ine_gen
import procs
import spans
import tables_gen

PACKAGE = "data_pipeline_ine_spark"
WORK_DIR = ".perfbench_work"

# Fixed query lists, cut to fit the run-time budget (README.md).
# sql_headline still runs but is not in BENCHMARK.json (README.md).
SQL_HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q18_large_volume", "v_consolidation",
    "window_top_day", "rollup_revenue", "asof_last_click", "sessionize_batch",
    "sliding_6h_3h",
)
CURATION_TEXT = (
    "near_dup_buckets", "ann_kmeans_topk", "dedup_survivors", "quality_scores",
    "curation_v3",
)
QUERY_WORKLOADS = {"sql_headline": SQL_HEADLINE, "curation_text": CURATION_TEXT}
TABLES_SF = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# Views with 1, 2, 5 and 7 members, over the A1, A2, A3, A7 and A8 shapes.
INE_VIEWS = ("v_mp25_mensual", "v_mar_mensual", "v_temperatura", "v_nox_anual")
RUN_DATE = "2024-06-30"
MIN_PASSES = 3
TMP_CACHE_MARK = "spark_graft_"
# The session factory's 8g default lets the collector defer work, so the
# peak resident set would follow garbage, not the run's working set.
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "pass_s": "s", "scan_bytes": "bytes", "shuffle_bytes": "bytes"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    def __init__(self, args, root: str, work: str):
        self.args, self.root, self.work = args, root, work
        self.tracer = spans.Tracer() if args.trace else None
        self.windows: list[tuple[int, int]] = []
        self.pass_s: list[float] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.tmp_cache_touched: list[str] = []
        self.layer: dict[str, float] = {}
        # sampled in the traced run only: the sampling thread takes the
        # interpreter lock the driver needs for plan construction
        self.rss = procs.RssSampler() if args.trace else None
        self.install_s = 0.0
        self.started = procs.process_start_epoch()

    def mark(self, what: str) -> None:
        log(f"[{time.time() - self.started:7.2f}s] {what}")

    def span(self, name: str, label: str = ""):
        return self.tracer.span(name, label) if self.tracer else nullcontext()

    # ------------------------------------------------------------ set-up

    def environment(self) -> None:
        for d in ("local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"), TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            SPARK_GRAFT_CPUS=str(self.cores), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
        tempfile.tempdir = None
        os.chdir(self.work)
        sys.path.insert(0, self.root)
        sys.addaudithook(self._audit)

    def _audit(self, event: str, args) -> None:
        if event in ("open", "os.listdir", "os.scandir", "os.mkdir", "os.remove",
                     "os.rename", "shutil.rmtree", "os.rmdir", "glob.glob"):
            if args and TMP_CACHE_MARK in str(args[0]):
                self.tmp_cache_touched.append(f"{event} {args[0]}")

    def guard_py4j(self) -> None:
        """Every path the JVM is given crosses py4j as command text."""
        from py4j import clientserver, java_gateway

        run = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            send = cls.send_command

            def send_command(self, command, *a, _send=send, **kw):
                if TMP_CACHE_MARK in command:
                    run.tmp_cache_touched.append(f"py4j {command[:200]!r}")
                return _send(self, command, *a, **kw)

            cls.send_command = send_command

    def session(self):
        from data_pipeline_ine_spark.session import get_spark

        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        t = time.time()
        spark = get_spark(master=f"local[{self.cores}]", extra_conf=conf)
        self.layer["session.get_spark_s"] = time.time() - t
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # ------------------------------------------------------------ the loop

    def timed_passes(self, one_pass, after_pass) -> None:
        """At least three timed passes, and at least ``--seconds`` of them, so
        the median drops one pass that the machine slowed down or that still
        carries JIT cost."""
        measured, n = 0.0, 0
        while True:
            n += 1
            if self.tracer:
                self.tracer.pass_no = n
            t0 = time.time()
            out = one_pass()
            t1 = time.time()
            self.windows.append((int(t0 * 1e3), int(t1 * 1e3) + 1))
            self.pass_s.append(t1 - t0)
            measured += t1 - t0
            self.mark(f"pass {n}: {t1 - t0:.2f}s")
            after_pass(out)
            if n >= MIN_PASSES and measured >= self.args.seconds:
                if self.rss:
                    self.rss.stop()  # the checks that follow are the benchmark's own
                return

    # ------------------------------------------------------------ workloads

    def queries(self, spark, names: tuple[str, ...], tables_dir: str) -> None:
        t = time.time()
        import __spark_entry__ as entry

        self.layer["spark_entry.import_s"] = self.install_s + time.time() - t
        registry, oracle_sql = entry.queries(), entry.oracle_sql()
        for name in names:
            src = inspect.getsource(registry[name])
            if TMP_CACHE_MARK in src or "/tmp" in src:
                self.problems.append(f"{name} uses a /tmp index cache")

        def one_pass():
            kept, failed, took = {}, 0, []
            for name in names:
                try:
                    t0 = time.time()
                    with self.span("spark_entry.construct", name):
                        df = registry[name](spark, tables_dir)
                    t1 = time.time()
                    with self.span("spark_entry.execute", name):
                        df.write.format("noop").mode("overwrite").save()
                    took.append(f"{name} {t1 - t0:.2f}+{time.time() - t1:.2f}")
                    kept[name] = df
                except Exception:  # counted as a failed operation
                    failed += 1
                    log(f"{name} failed:\n{traceback.format_exc()}")
            log("construct+execute s: " + ", ".join(took))
            return kept, failed

        if self.tracer:
            self.tracer.pass_no = 0
        one_pass()
        self.setup_end = time.time()
        self.mark("warm-up pass done")
        last: dict = {}

        def after_pass(out):
            kept, failed = out
            self.attempted += len(names)
            self.failed += failed
            last.clear()
            last.update(kept)

        self.timed_passes(one_pass, after_pass)
        # DuckDB runs the oracles on its own thread while Spark collects.
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(checks.Oracle, tables_dir, TABLES).result()
            try:
                expected = {n: pool.submit(oracle.run, oracle_sql[n]) for n in last}
                got = {n: [tuple(r) for r in df.collect()] for n, df in last.items()}
                tested = False
                for name, df in last.items():
                    o_cols, o_rows = expected[name].result()
                    for p in checks.compare_output(df.columns, got[name], o_cols, o_rows):
                        self.problems.append(f"{name}: {p}")
                    if o_rows and not tested:
                        self.problems += checks.self_test_oracle(o_cols, o_rows)
                        tested = True
                if not tested:
                    self.problems.append("self-test: no query output had rows")
            finally:
                pool.submit(oracle.close).result()

    def ine_pipeline(self, spark, files: dict) -> None:
        from data_pipeline_ine_spark.plans import pipeline
        from data_pipeline_ine_spark.plans.view_catalog import reference_views

        views = {n: reference_views()[n] for n in INE_VIEWS}
        paths = {ds: files[ds].path for v in views.values() for ds in v.members}
        out_dir = os.path.join(self.work, "layer")
        gen = checks.generated_values(files)
        ref = {n: checks.reference_step4(files, v) for n, v in views.items()}

        def one_pass():
            return pipeline.run_pipeline(spark, paths, views, out_dir, run_date=RUN_DATE)

        if self.tracer:
            self.tracer.pass_no = 0
        one_pass()
        self.setup_end = time.time()
        self.mark("warm-up pass done")
        state = {}

        def after_pass(report):
            for name, view in views.items():
                layer = checks.read_layer(os.path.join(out_dir, "views", name))
                metrics = report["metrics"][name]
                for p in checks.layer_properties(view, layer, metrics, gen, RUN_DATE):
                    self.problems.append(f"{name}: {p}")
                self.attempted += 1
                parity = checks.step4_parity(view, layer.rows, ref[name])
                if parity:
                    self.failed += 1
                    state.setdefault(name, parity[0])
                if layer.rows and "self_test" not in state:
                    state["self_test"] = checks.self_test_ine(
                        view, layer, metrics, gen, RUN_DATE, ref[name])

        self.timed_passes(one_pass, after_pass)
        self.problems += state.pop("self_test", ["self-test: every view was empty"])
        for name, why in state.items():
            log(f"step-4 parity: {name}: {why}")

    # ------------------------------------------------------------ metrics

    def metrics(self, log_dir: str) -> dict:
        ev = eventlog.EventLog(log_dir)
        per_pass = [ev.counters(w) for w in self.windows]
        for n, c in enumerate(per_pass, 1):
            log(f"pass {n} counters: {c}")

        def med(values) -> float:
            return statistics.median(values)

        if not self.args.trace:
            vals = {
                "setup_s": self.setup_s,
                "pass_s": med(self.pass_s),
                "scan_bytes": med(c.scan_bytes for c in per_pass),
                "shuffle_bytes": med(c.shuffle_write_bytes for c in per_pass),
            }
            return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}

        log("spans: " + json.dumps(self.tracer.dump()))
        for n in range(1, len(self.windows) + 1):
            log(f"pass {n} py4j calls by caller: {self.tracer.py4j_callers(n)}")
            log(f"pass {n} jobs by query (construct, execute): " + json.dumps({
                q: [len(ev.jobs_in([(int(s.start * 1e3), int(s.end * 1e3) + 1)]))
                    for s in self.tracer.spans if s.pass_no == n and s.label == q]
                for q in dict.fromkeys(s.label for s in self.tracer.spans if s.label)}))
        names, units = per_layer_names()
        out = dict.fromkeys(names, 0.0)
        out.update(self.layer)
        out["peak_rss_mb"] = self.rss.peak / 2**20
        log("peak resident MB by pid: " + json.dumps(
            {p: round(b / 2**20) for p, b in self.rss.peak_by_pid.items()}))
        rows = []
        t = self.tracer
        for n, (c, dur) in enumerate(zip(per_pass, self.pass_s), 1):
            total = dict.fromkeys([*spans.PIPELINE_FUNCS.values(), "spark_entry.construct",
                                   "spark_entry.execute"], 0.0)
            for s in t.spans:
                if s.pass_no == n and s.name in total:
                    total[s.name] += s.end - s.start
            r = {f"{k}_s": v for k, v in total.items()}
            r.update({f"{k}.construct_s": v for k, v in t.self_times(n).items()
                      if k.startswith("operators.")})
            r.update({
                "sources.observation_csv.jobs": len(ev.jobs_in(
                    t.windows("sources.observation_csv.build_fact_table", n))),
                "sources.sinks.write_layer_jobs": len(ev.jobs_in(
                    t.windows("sources.sinks.write_layer", n))),
                "spark_entry.construct_jobs": len(ev.jobs_in(
                    t.windows("spark_entry.construct", n))),
                "plans.pipeline.csv_scans": c.csv_scans,
                "sources.sinks.layer_bytes": c.output_bytes,
                "py4j.calls": t.counts(n).get(spans.PY4J, 0),
                "executor_cpu_s": c.executor_cpu_s,
                "spark.jobs": c.jobs, "spark.stages": c.stages, "spark.tasks": c.tasks,
                "spark.idle_s": max(dur - c.busy_s, 0.0),
                "spark.executor_run_s": c.executor_run_s, "spark.gc_s": c.gc_s,
                "spark.python_worker_s": c.python_worker_s,
                "spark.shuffle_read_bytes": c.shuffle_read_bytes,
                "spark.spill_bytes": c.spill_bytes,
            })
            rows.append(r)
        for k in names:
            if k in rows[0]:
                out[k] = med(r.get(k, 0.0) for r in rows)
        extra = sorted({k for r in rows for k in r if k not in out})
        if extra:
            log(f"per-layer metrics not listed in BENCHMARK.json: {extra}")
        return {k: {"value": out[k], "unit": units[k]} for k in names}

    # ------------------------------------------------------------ main

    def main(self) -> dict:
        self.cores = len(os.sched_getaffinity(0))
        self.environment()
        wl = self.args.workload
        if wl == "ine_pipeline":
            from data_pipeline_ine_spark.plans.view_catalog import reference_views, station_map

            t = time.time()
            files = ine_gen.generate(os.path.join(self.work, "ine_csv"), self.args.seed,
                                     reference_views(), station_map())
        else:
            t = time.time()
            tables_dir = os.path.join(self.work, "tables")
            tables_gen.generate(tables_dir, self.args.seed, TABLES_SF)
        gen_s = time.time() - t
        self.mark(f"inputs generated in {gen_s:.2f}s")
        if self.tracer:
            t = time.time()
            spans.install(self.tracer, PACKAGE)
            # the wrapping imports what __spark_entry__ would import first
            self.install_s = time.time() - t
        self.guard_py4j()

        if self.rss:
            self.rss.start()
        spark = self.session()
        self.mark("session started")
        try:
            if wl == "ine_pipeline":
                self.ine_pipeline(spark, files)
            else:
                self.queries(spark, QUERY_WORKLOADS[wl], tables_dir)
            self.setup_s = self.setup_end - self.started - gen_s
            self.mark("checked")
        finally:
            if self.rss:
                self.rss.stop()
            stop_session(spark)
        self.mark("session stopped")
        left = procs.wait_descendants_gone(60)
        if left:
            raise RuntimeError(f"processes still alive after the session stopped: {left}")
        if self.tmp_cache_touched:
            self.problems.append(f"a /tmp index cache was touched: {self.tmp_cache_touched[:3]}")
        metrics = self.metrics(os.path.join(self.work, "eventlog"))
        for p in self.problems:
            log(f"CHECK FAILED: {p}")
        return {"correct": not self.problems, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def stop_session(spark) -> None:
    """Stop the session and the JVM it started, then wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def per_layer_names() -> tuple[list[str], dict[str, str]]:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                           "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer"]]
    return names, {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ine_pipeline", *QUERY_WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(root, PACKAGE, "__init__.py"))):
        log(f"run from the root of a checkout of the project: {root} has no "
            f"__spark_entry__.py or {PACKAGE}/")
        return 2
    base = os.path.join(root, WORK_DIR)
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = Run(args, root, work).main()
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
