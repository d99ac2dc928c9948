#!/usr/bin/env python3
"""Benchmark runner: one workload, one process, closed loop, one client.

    python3 perfbench/run.py --workload etl_medallion --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/``, sets up (SparkSession, registry import, two
untimed warm-up passes, the first checked against DuckDB), then runs timed
passes over the workload's operations for ``--seconds`` seconds. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``; the
per-layer metrics with ``--trace 1``, where timed passes alternate untraced
and traced so the tracing overhead is measured in the same process).
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipelines_using_llm_spark"

#: registry rows whose warm wall time is mostly execution of the final plan
QUERY_EXEC = (
    "basket_triangles",
    "q1_pricing_summary",
    "monthly_event_gold",
    "cohort_retention_daily",
)
#: registry rows whose warm wall time is mostly the ``fn(spark, sf)`` call
QUERY_BUILD = ("user_value_ewma_chunked", "embedding_pca_projection")
ETL_OPS = ("medallion", "merged_silver", "gold_stream")
WORKLOADS = ("etl_medallion", "query_exec", "query_build")
#: timed passes per run, at least
MIN_PASSES = 3
#: catalog scale factor per workload (lineitem ≈ 6M·sf rows)
CATALOG_SF = {"etl_medallion": 0.002, "query_exec": 0.001, "query_build": 0.001}


def _process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(work: str) -> dict:
    """Engine settings every run uses; returned for the run record."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    driver_gb = max(1, min(2, mem_kb // (1024 * 1024) // 4))
    env = {
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # The JVM extracts native libraries to java.io.tmpdir and keeps
        # perf data under /tmp unless told otherwise.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    for k, v in env.items():
        os.environ[k] = v
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the driver JVM to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _quantiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]


class Run:
    """State of one benchmark run: session, registry, inputs, results."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.workload = args.workload
        self.rng = random.Random(args.seed)
        self.spark = None
        self.registry = None
        self.counters = None
        self.tracer = None
        self.listener = None
        self.oracles: dict[str, object] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.op_lat: list[float] = []
        self.op_by_name: dict[str, list[float]] = {}
        self.warmup_ops: list[tuple[str, float]] = []
        self.traced_pass_s: list[float] = []
        self.setup_s = 0.0
        self.layer: dict[str, float] = {}
        self.layer_passes: list[dict[str, float]] = []
        self.spans_all: list = []
        self.op_jobs: dict[str, list[int]] = {}
        self.pass_no = 0
        self.cat_dir = os.path.join(work, "catalog")
        self.med_dir = os.path.join(work, "medallion")
        self.out_dir = os.path.join(work, "out")

    # ---------------------------------------------------------------- inputs
    def generate(self) -> dict:
        import gen

        info = {"catalog_sf": CATALOG_SF[self.workload]}
        info["catalog_rows"] = gen.write_catalog(
            self.cat_dir, self.args.seed, CATALOG_SF[self.workload]
        )
        if self.workload == "etl_medallion":
            info["medallion"] = gen.write_medallion(
                self.med_dir, self.args.seed, gen.MedallionParams()
            )
            m = info["medallion"]
            self.input_rows = (m["rows"] + m["increment_total_rows"]
                               + info["catalog_rows"]["orders"]
                               + info["catalog_rows"]["lineitem"])
            self.input_bytes = m["input_bytes"]
        else:
            self.input_rows = sum(info["catalog_rows"].values())
        self.ops = {"etl_medallion": ETL_OPS, "query_exec": QUERY_EXEC,
                    "query_build": QUERY_BUILD}[self.workload]
        # query_build keeps one seeded order; the other workloads reshuffle
        # every pass from the seed.
        self.fixed_order = self.rng.sample(self.ops, len(self.ops))
        return info

    def order(self) -> list[str]:
        if self.workload == "query_build":
            return self.fixed_order
        return self.rng.sample(self.ops, len(self.ops))

    # ----------------------------------------------------------------- setup
    def setup(self) -> None:
        """Start the SparkSession and import the registry."""
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PACKAGE}.session")
        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        registry = importlib.import_module(f"{PACKAGE}.registry")
        self.registry = registry.all_queries()
        t2 = time.perf_counter()
        self.mods = {
            m: importlib.import_module(f"{PACKAGE}.{m}")
            for m in ("operators.caching", "plans.medallion", "plans.audit",
                      "sinks.writers", "sinks.rollup", "sources.tables",
                      "streaming.ingest")
        }
        import counters

        self.counters = counters.SparkCounters(self.spark)
        self.jvm_pid = counters.jvm_pid(self.spark)
        if self.args.trace:
            self._add_listener()
        self.layer["session.start_s"] = t1 - t0
        self.layer["registry.import_s"] = t2 - t1

    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        run = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                run.stream_runs[str(event.runId)] = run.current_op

            def onQueryProgress(self, event):
                p = event.progress
                run.stream_progress.append(
                    (str(p.runId), p.numInputRows, dict(p.durationMs),
                     p.processedRowsPerSecond))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                run.stream_done.add(str(event.runId))

        self.stream_runs: dict[str, str | None] = {}
        self.stream_progress: list = []
        self.stream_done: set[str] = set()
        self.current_op = None
        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    # ------------------------------------------------------------------- ops
    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def run_op(self, name: str, check: bool) -> tuple[float, dict]:
        """Run one operation under its own job group; returns (seconds,
        per-operation facts for the per-layer metrics)."""
        from pyspark.sql import functions as F

        spark = self.spark
        group = f"pb-{self.pass_no}-{name}"
        self.counters.set_group(group)
        facts: dict = {"group": group}
        out = os.path.join(self.out_dir, f"p{self.pass_no}")
        caching = self.mods["operators.caching"]
        if self.tracer is not None:
            self.current_op = group
        t0 = time.perf_counter()
        if name == "medallion":
            tables = self.mods["sources.tables"]
            bronze = tables.load_table(spark, f"{self.med_dir}/bronze", "events")
            with self._span("plans.run_medallion") as sp:
                res = self.mods["plans.medallion"].run_medallion(
                    spark, bronze, f"{out}/medallion", key=["user_id", "ts"],
                    metric_cols=["value", "event_type"], ts_col="ts",
                    tiebreaker=[F.col("event_id").desc()],
                )
            facts["medallion"] = res
            facts["medallion_span"] = sp
        elif name == "merged_silver":
            with self._span("plans.build"):
                df = self.registry["merged_orders_silver"].fn(spark, self.cat_dir)
            if self.tracer is not None:
                facts["build_jobs"] = len(self.counters.job_ids([group]))
            self.mods["sinks.writers"].write_table(df, f"{out}/merged", mode="overwrite")
        elif name == "gold_stream":
            with self._span("streaming.stream_gold_rollup"):
                self.mods["streaming.ingest"].stream_gold_rollup(
                    spark, f"{self.med_dir}/increments", f"{out}/rollup",
                    f"{out}/rollup_ckpt",
                )
        else:
            with self._span("plans.build"):
                df = self.registry[name].fn(spark, self.cat_dir)
            if self.tracer is not None:
                facts["build_jobs"] = len(self.counters.job_ids([group]))
            with self._span("plans.analyze"):
                df._jdf.queryExecution().executedPlan()
            if self.tracer is not None:
                with self._span("audit.plan_report"):
                    facts["exchanges"] = self.mods["plans.audit"].plan_report(df).exchanges
            with self._span("plans.execute"):
                if check:
                    facts["pdf"] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        caching.release_barriers()
        spark.catalog.clearCache()
        return time.perf_counter() - t0, facts

    # ------------------------------------------------------------ correctness
    def check(self, name: str, facts: dict) -> list[str]:
        """Compare one operation's output with DuckDB; returns problems."""
        import oracle

        corrupt = self.args.corrupt_output
        spark = self.spark
        out = os.path.join(self.out_dir, f"p{self.pass_no}")
        if name == "medallion":
            return oracle.check_medallion(
                spark, facts["medallion"], f"{self.med_dir}/bronze/events.parquet",
                f"{out}/medallion", corrupt)
        if name == "gold_stream":
            rollup = self.mods["sinks.rollup"].read_rollup(spark, f"{out}/rollup", ["value"])
            return oracle.check_rollup(rollup.toPandas(), f"{self.med_dir}/increments",
                                       corrupt)
        if name == "merged_silver":
            spark_pdf = spark.read.parquet(f"{out}/merged").toPandas()
            spec = self.registry["merged_orders_silver"]
        else:
            spark_pdf = facts["pdf"]
            spec = self.registry[name]
        if spec.oracle is None:
            return [] if len(spark_pdf) else ["empty output (no oracle)"]
        if name not in self.oracles:
            self.oracles[name] = oracle.duckdb_frame(self.cat_dir, spec.oracle)
        return oracle.compare(spark_pdf, self.oracles[name], corrupt)

    # ---------------------------------------------------------------- passes
    def one_pass(self, warmup: bool, traced: bool, check: bool = False) -> tuple[float, float]:
        """Run every operation once, checking outputs if ``check``; returns
        (pass seconds, seconds spent checking, which the pass excludes).
        Warm-up passes record no latencies."""
        import counters

        self.pass_no += 1
        self.tracer = None
        stack = contextlib.ExitStack()
        if traced:
            import spans

            self.tracer = spans.Tracer()
            stack.enter_context(spans.patched(self.tracer))
            gc0 = counters.gc_totals(self.spark)
            self.stream_progress.clear()
        check_s = 0.0
        per_op: list[tuple[str, float, dict]] = []
        t0 = time.perf_counter()
        with stack:
            for name in self.order():
                self.attempted += 1
                try:
                    with (self.tracer.operation(f"{self.pass_no}:{name}", f"op.{name}")
                          if traced else contextlib.nullcontext()):
                        dt, facts = self.run_op(name, check=check)
                    if traced:
                        self._await_streams()
                        facts["jobs"] = self.counters.job_ids(
                            [facts["group"]] + [r for r, g in self.stream_runs.items()
                                                if g == facts["group"]])
                        facts["spark"] = self.counters.summarize(facts["jobs"], dt)
                        self.op_jobs.setdefault(name, []).append(len(facts["jobs"]))
                    if warmup:
                        self.warmup_ops.append((name, round(dt, 3)))
                    if check:
                        c0 = time.perf_counter()
                        problems = self.check(name, facts)
                        check_s += time.perf_counter() - c0
                        if problems:
                            self.failed += 1
                            self.failures.append(f"{name}: {problems}")
                    if not (warmup or traced):
                        self.op_lat.append(dt)
                        self.op_by_name.setdefault(name, []).append(dt)
                    per_op.append((name, dt, facts))
                except Exception:  # an operation failed: count it, run the next
                    self.failed += 1
                    self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
        wall = time.perf_counter() - t0 - check_s
        if traced:
            gc1 = counters.gc_totals(self.spark)
            self.layer_passes.append(self._pass_layers(per_op, wall, gc0, gc1))
            self.spans_all.extend(self.tracer.spans)
            self.tracer = None
        self._cleanup_outputs()
        return wall, check_s

    def _await_streams(self, timeout: float = 5.0) -> None:
        """Listener events arrive asynchronously: wait until every stream
        this operation started has reported termination."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if all(r in self.stream_done for r in self.stream_runs):
                return
            time.sleep(0.01)

    def _cleanup_outputs(self) -> None:
        shutil.rmtree(os.path.join(self.out_dir, f"p{self.pass_no}"), ignore_errors=True)

    # ------------------------------------------------------------- per layer
    def _pass_layers(self, per_op, wall, gc0, gc1) -> dict[str, float]:
        import spans

        recorded = self.tracer.spans
        m: dict[str, float] = {k: 0.0 for k in PER_LAYER_ZERO}

        def total(name: str) -> float:
            return sum(s.end - s.start for s in recorded if s.name == name)

        m["plans.build_s"] = total("plans.build")
        m["plans.analyze_s"] = total("plans.analyze")
        m["plans.execute_s"] = total("plans.execute")
        m["sources.load_s"] = total("sources.load_table")
        m["sources.input_bytes"] = float(sum(s.attrs.get("bytes", 0) for s in recorded
                                             if s.name == "sources.load_table"))
        m["cleaning.s"] = total("cleaning.clean")
        m["sinks.rollup_s"] = total("sinks.incremental_rollup")
        m["caching.release_s"] = total("caching.release_barriers")
        writes = [s for s in recorded if s.name == "sinks.write_table"]
        m["sinks.write_calls"] = float(len(writes))
        m["sinks.files_written"] = float(sum(s.attrs.get("files", 0) for s in writes))
        m["sinks.bytes_written"] = float(sum(s.attrs.get("bytes", 0) for s in writes))
        for s in writes:
            base = os.path.basename(s.attrs.get("path", ""))
            layer = base if base in ("bronze", "silver", "gold") else "other"
            m[f"sinks.write_s.{layer}"] += s.end - s.start
        for name, secs in spans.self_times(recorded).items():
            layer = name.split(".", 1)[0]
            if f"self_s.{layer}" in m:
                m[f"self_s.{layer}"] += secs
        for name, dt, facts in per_op:
            m["plans.build_jobs"] += facts.get("build_jobs", 0)
            m["audit.exchanges"] += facts.get("exchanges", 0)
            for k, v in facts.get("spark", {}).items():
                m[k] += v
            if "medallion" in facts:
                res, sp = facts["medallion"], facts["medallion_span"]
                m["quality.gate_s"] = res.timings.get("quality_gate", 0.0)
                m["cleaning.rows_in"] = float(res.bronze_rows)
                m["cleaning.rows_out"] = float(res.silver_rows)
                m["cleaning.keep_ratio"] = res.silver_rows / res.bronze_rows
                m["medallion.jobs"] = float(len(facts["jobs"]))
                last_write = max((s.end for s in writes if s.parent == sp.id), default=sp.end)
                m["medallion.readback_s"] = sp.end - last_write
                m["medallion.rows_per_s"] = res.bronze_rows / (sp.end - sp.start)
                out = os.path.join(self.out_dir, f"p{self.pass_no}", "medallion")
                stored = sum(spans._dir_files(f"{out}/{d}")[1]
                             for d in ("bronze", "silver", "gold"))
                m["sinks.stored_bytes_per_input_byte"] = stored / self.input_bytes
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        m["spark.core_busy_frac"] = m["spark.executor_run_s"] / (wall * cores)
        mine = f"pb-{self.pass_no}-"
        batches = [p for p in self.stream_progress
                   if p[1] > 0 and (self.stream_runs.get(p[0]) or "").startswith(mine)]
        if batches:
            m["streaming.batches"] = float(len(batches))
            m["streaming.batch_p50_s"] = statistics.median(
                p[2].get("triggerExecution", 0) for p in batches) / 1000.0
            m["streaming.addbatch_p50_s"] = statistics.median(
                p[2].get("addBatch", 0) for p in batches) / 1000.0
            busy = sum(p[2].get("triggerExecution", 0) for p in batches) / 1000.0
            m["streaming.rows_per_s"] = sum(p[1] for p in batches) / busy if busy else 0.0
        m["jvm.gc_s"] = gc1[0] - gc0[0]
        m["jvm.gc_count"] = float(gc1[1] - gc0[1])
        return m


#: per-layer metrics (name, unit); every one is reported for every
#: workload, 0 where the workload does not exercise the layer
PER_LAYER = (
    ("session.start_s", "s"), ("registry.import_s", "s"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("plans.analyze_s", "s"), ("plans.execute_s", "s"),
    ("audit.exchanges", "count"),
    ("spark.exec_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.executor_run_s", "s"), ("spark.core_busy_frac", "ratio"),
    ("spark.driver_gap_s", "s"),
    ("sources.load_s", "s"), ("sources.input_bytes", "bytes"),
    ("quality.gate_s", "s"),
    ("cleaning.s", "s"), ("cleaning.rows_in", "count"),
    ("cleaning.rows_out", "count"), ("cleaning.keep_ratio", "ratio"),
    ("sinks.write_s.bronze", "s"), ("sinks.write_s.silver", "s"),
    ("sinks.write_s.gold", "s"), ("sinks.write_s.other", "s"),
    ("sinks.write_calls", "count"), ("sinks.files_written", "count"),
    ("sinks.bytes_written", "bytes"), ("sinks.rollup_s", "s"),
    ("sinks.stored_bytes_per_input_byte", "ratio"),
    ("medallion.jobs", "count"), ("medallion.readback_s", "s"),
    ("medallion.rows_per_s", "1/s"),
    ("streaming.batches", "count"), ("streaming.batch_p50_s", "s"),
    ("streaming.addbatch_p50_s", "s"), ("streaming.rows_per_s", "1/s"),
    ("caching.release_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.gc_count", "count"),
    ("self_s.plans", "s"), ("self_s.sources", "s"), ("self_s.cleaning", "s"),
    ("self_s.quality", "s"), ("self_s.sinks", "s"), ("self_s.caching", "s"),
    ("self_s.streaming", "s"), ("self_s.op", "s"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
)
PER_LAYER_ZERO = tuple(n for n, _ in PER_LAYER
                       if n not in ("session.start_s", "registry.import_s",
                                    "trace.pass_s", "trace.overhead_s"))

END_TO_END = (
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("rows_per_s", "1/s"), ("peak_rss_mb", "MiB"),
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-output", action="store_true",
                    help="drop one row of every output before it is checked "
                         "(proves the correctness gate fails the run)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _pin_environment(work)
    import counters

    run = Run(args, work)
    t_gen = time.perf_counter()
    info = run.generate()
    phases = {"generate_s": time.perf_counter() - t_gen}
    steal0 = counters.steal_s()
    record = {"workload": args.workload, "seed": args.seed, "nproc": _nproc(),
              "loadavg_start": counters.loadavg(), "env": env, "inputs": info}

    untraced_pass: list[float] = []
    try:
        t0 = time.perf_counter()
        started = _process_age_s()
        run.setup()
        _, check_s = run.one_pass(warmup=True, traced=False, check=True)
        # A second warm-up pass: on 4 cores the JVM is still compiling
        # during the pass after the first, which ran ~25% slower than later
        # passes.
        run.one_pass(warmup=True, traced=False)
        run.setup_s = started + time.perf_counter() - t0 - check_s
        phases["check_s"] = check_s
        # Closed loop: at least three passes, so one slow pass is never the
        # median; then another while it is expected to end less than half a
        # mean pass after the window.
        t_run = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(untraced_pass) > len(run.traced_pass_s)
            wall, _ = run.one_pass(warmup=False, traced=traced)
            (run.traced_pass_s if traced else untraced_pass).append(wall)
            done = time.perf_counter() - t_run
            n = len(untraced_pass) + len(run.traced_pass_s)
            if (n >= MIN_PASSES and done + done / n / 2 > args.seconds
                    and (not args.trace or len(run.traced_pass_s) >= 1)):
                break
        rss = counters.peak_rss_mb([os.getpid(), run.jvm_pid])
    finally:
        t_stop = time.perf_counter()
        if run.spark is not None:
            run.spark.stop()
            _stop_jvm()
        phases["stop_s"] = time.perf_counter() - t_stop
        if args.trace:
            run_trace = os.path.join(ROOT, ".perfbench_work",
                                     f"trace-{args.workload}-s{args.seed}.json")
            import dataclasses

            with open(run_trace, "w") as fh:
                json.dump([dataclasses.asdict(s) for s in run.spans_all], fh)
        shutil.rmtree(work, ignore_errors=True)

    record["loadavg_end"] = counters.loadavg()
    record["cpu_steal_s"] = counters.steal_s() - steal0
    pass_s = statistics.median(untraced_pass)
    if args.trace:
        metrics = {}
        for name, unit in PER_LAYER:
            if name in ("session.start_s", "registry.import_s"):
                v = run.layer[name]
            elif name == "trace.pass_s":
                v = statistics.median(run.traced_pass_s)
            elif name == "trace.overhead_s":
                v = statistics.median(run.traced_pass_s) - pass_s
            else:
                v = statistics.median(p[name] for p in run.layer_passes)
            metrics[name] = {"value": v, "unit": unit}
    else:
        values = {
            "setup_s": run.setup_s,
            "pass_s": pass_s,
            "op_p50_s": statistics.median(run.op_lat),
            # A run has 6-16 operation samples: the highest percentile with
            # ten samples beyond it would lie at or below the median, so the
            # tail is the slowest operation.
            "op_tail_s": max(run.op_lat),
            "rows_per_s": run.input_rows / pass_s,
            "peak_rss_mb": rss,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    record.update({
        "run_wall_s": _process_age_s(),
        "phases_s": phases,
        "pass_quartiles_s": _quantiles(untraced_pass),
        "passes": len(untraced_pass),
        "pass_walls_s": untraced_pass,
        "op_samples": len(run.op_lat),
        "op_median_s": {k: statistics.median(v) for k, v in run.op_by_name.items()},
        "warmup_op_s": run.warmup_ops,
        "traced_op_jobs": run.op_jobs,
        "failures": run.failures,
    })
    print("perfbench " + json.dumps(record, default=str))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
