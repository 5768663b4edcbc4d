"""Benchmark of the landing-CSV ETL path and the analytic engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload etl_day_bulk --seed 1 --seconds 5 --trace 0

One process runs one workload: it generates the inputs from ``--seed``
into a working directory under the repository root, starts Spark on
``local[nproc]``, sets up five times, runs an untimed warm-up pass
that also checks outputs, then a closed loop (one client) for at least
``--seconds`` seconds and the workload's number of passes. Each timed
pass records its wall seconds, its CPU seconds (Python plus the JVM,
without JIT compiler threads) and the CPU seconds the hypervisor
withheld meanwhile. With ``--trace 1`` it then restarts the session
with an uncompressed event log and makes one traced pass that records
spans and per-layer metrics. It prints one line per metric, then the
result as one JSON object on the last line of standard output.

The program is driven only through its public functions
(``session.get_spark``, ``io_sources.read_landing_dir`` /
``sniff_csv_dialect``, ``pipeline.transform_all`` / ``run_etl``,
``io_sinks.write_partitioned_idempotent``, ``workload.queries()``); all
timing happens here.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from datagen import write_landing, write_tables
from tracing import (
    Tracer,
    catalyst_phases,
    job_group,
    peak_rss_mb,
    read_chars,
    steal_s,
    summarize_event_logs,
    union_nodes,
    work_cpu_s,
)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "etl_neotel_sql_automation_spark"

# Nine of the 26 registered queries of the frozen stable27 set (the set
# without its bench-only xxhash64 twin), chosen to cover its query
# families inside the run budget: a TPC-H join and an aggregate,
# windows, JSON and sessionized events, both conformance specs on
# parquet input, and an as-of join.
ANALYTICS = [
    "q1_pricing_summary", "q3_top_unshipped",
    "agg_distinct_priority", "window_topk_per_priority", "json_events_extract",
    "sessionize_events", "etl_conform_conducta", "etl_conform_estados",
    "asof_events_orders",
]
# Queries whose plan construction runs Spark jobs: Python-side fixpoint
# loops and quantizer training.
ITERATIVE = ["graph_hits", "sim_ivf_pq_sampled"]
CONFORM_QUERIES = {"etl_conform_conducta", "etl_conform_estados"}
# Queries built on the operator library (``ops``) or on Python-side
# iteration; their construction is the ``ops`` layer.
OPS_QUERIES = {"sessionize_events", "asof_events_orders", *ITERATIVE}

# ``passes``: the timed loop runs at least this many passes (one
# run_etl, or one pass over the query set) and at least ``--seconds``.
# The last two workloads are not in BENCHMARK.json; see README.md.
WORKLOADS = {
    "etl_day_bulk": {"kind": "etl", "days": 1, "files_per_report": 2, "rows_per_file": 3_000, "passes": 2},
    "analytics_sf01": {"kind": "query", "sf": 0.01, "queries": ANALYTICS, "passes": 2},
    "iterative_sf01": {"kind": "query", "sf": 0.01, "queries": ITERATIVE, "passes": 2},
    "etl_backfill_small": {"kind": "etl", "days": 10, "files_per_report": 1, "rows_per_file": 300, "passes": 1},
}
N_SETUPS = 5
# In the traced run, the layers a workload does not run are measured on
# a small probe, so every per-layer figure is a measurement: two registry
# queries for the ETL workloads, one landing day of two files for the
# query workloads.
PROBES = {
    "etl": {"sf": 0.01, "queries": ["q1_pricing_summary", "asof_events_orders"]},
    "query": {"days": 1, "files_per_report": 1, "rows_per_file": 300},
}
TABLE_FOR = {"conducta": "tbl_neotel_conducta", "estados_operativos": "tbl_neotel_estados_operativos"}

END_TO_END = {"setup_s": "s", "cpu_s": "s"}
# Metrics under their per-kind names.
ALIASES = {
    "etl": {"cpu_s": "etl.cpu_s", "e2e.wall_s": "etl.wall_s", "e2e.work_per_s": "etl.rows_per_s"},
    "query": {"cpu_s": "query.suite_cpu_s", "e2e.wall_s": "query.suite_s", "e2e.work_per_s": "query.queries_per_s"},
}
PER_LAYER = {
    "e2e.wall_s": "s",
    "e2e.work_per_s": "1/s",
    "host.steal_s": "s",
    "session.start_s": "s",
    "io_sources.sniff_s": "s",
    "io_sources.sniff_read_bytes": "bytes",
    "io_sources.sniff_read_ratio": "ratio",
    "io_sources.read_landing_s": "s",
    "io_sources.construct_jobs": "count",
    "io_sources.files": "count",
    "io_sources.union_depth": "count",
    "conform.construct_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "pipeline.run_etl_s": "s",
    "pipeline.layers_sum_s": "s",
    "pipeline.jobs_per_run": "count",
    "pipeline.empty_check_s": "s",
    "pipeline.scan_amplification": "ratio",
    "io_sinks.write_s": "s",
    "io_sinks.files_written": "count",
    "io_sinks.bytes_written": "bytes",
    "io_sinks.partitions_replaced": "count",
    "workload.construct_s": "s",
    "workload.construct_jobs": "count",
    "ops.construct_s": "s",
    "ops.construct_jobs": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.tasks": "count",
    "exec.core_utilization": "ratio",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}


class Run:
    """State of one benchmark process: the session, its inputs, the
    operation counters and the samples."""

    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.samples: list[float] = []
        # per timed operation (one run_etl, or one pass over the queries):
        # wall seconds, CPU seconds and host steal seconds (see ``timed_op``)
        self.op_wall: list[float] = []
        self.op_cpu: list[float] = []
        self.op_steal: list[float] = []
        self.per_query: dict[str, list[float]] = {}
        self.rows_loaded = 0
        self.layer = dict.fromkeys(PER_LAYER, 0.0)
        self.tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
        self.spark = None
        self.info: dict = {}

    # -- bookkeeping ------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def attempt(self, what: str, fn):
        """Run ``fn`` as one operation; count it, and count it failed if
        it raises. Returns its result or None."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed operation is a measured outcome
            self.check(False, f"{what} raised\n{traceback.format_exc()}")
            return None

    # -- session ----------------------------------------------------------

    def start_session(self, extra: dict[str, str] | None = None):
        from etl_neotel_sql_automation_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            # a fixed set of JIT compiler threads, so that ``work_cpu_s``
            # can leave their CPU time out
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        }
        conf.update(extra or {})
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        return self.spark

    def restart_session(self, extra: dict[str, str] | None = None):
        self.spark.stop()
        return self.start_session(extra)

    def setup(self) -> list[float]:
        """Set up ``N_SETUPS`` times: session start (the first launches
        the JVM; later ones restart the session inside it) plus a small
        warm-up job. Returns each set-up's seconds."""
        times = []
        for i in range(N_SETUPS):
            t0 = time.perf_counter()
            if i == 0:
                self.start_session()
                self.layer["session.start_s"] = time.perf_counter() - t0
            else:
                self.restart_session()
            self.spark.range(1 << 16).selectExpr("sum(id)").collect()
            times.append(time.perf_counter() - t0)
        return times

    def stop(self) -> None:
        """Stop Spark, shut the JVM down and wait until it has exited."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = sc._gateway.proc
        self.spark.stop()
        sc._gateway.shutdown()
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
            proc.kill()
            proc.wait(timeout=30)
        self.spark = None

    @contextlib.contextmanager
    def timed_op(self):
        """Time one operation of the timed loop: wall seconds, CPU
        seconds of Python and the JVM without JIT compilation, and the
        seconds the host withheld from this machine meanwhile."""
        pid = self.spark.sparkContext._gateway.proc.pid
        w0, c0, s0 = time.perf_counter(), work_cpu_s(pid), steal_s()
        yield
        self.op_wall.append(time.perf_counter() - w0)
        self.op_cpu.append(work_cpu_s(pid) - c0)
        self.op_steal.append(steal_s() - s0)

    def peak_rss(self) -> float:
        return peak_rss_mb([os.getpid(), self.spark.sparkContext._gateway.proc.pid])


# ---------------------------------------------------------------------------
# ETL workloads
# ---------------------------------------------------------------------------


def etl_inputs(run: Run, spec: dict) -> str:
    """Write the landing directory; return a description of it."""
    days = [dt.date(2026, 9, 1) + dt.timedelta(days=i) for i in range(spec["days"])]
    run.landing = run.work / "landing"
    run.warehouse = run.work / "warehouse"
    run.manifest = m = write_landing(run.landing, run.args.seed, days, spec["files_per_report"], spec["rows_per_file"])
    run.expected = {TABLE_FOR[k]: v for k, v in m["expected"].items()}
    return (
        f"{m['files']} report files, {m['bytes'] / 1e6:.1f} MB, "
        f"{sum(m['rows'].values())} rows ({sum(m['expected'].values())} conform), {len(days)} day(s)"
    )


def etl_op(run: Run, timed: bool) -> None:
    from etl_neotel_sql_automation_spark.pipeline import run_etl

    with run.timed_op() if timed else contextlib.nullcontext():
        counts = run.attempt("run_etl", lambda: run_etl(run.spark, run.landing, run.warehouse))
    if counts is None:
        return
    run.check(counts == run.expected, f"run_etl loaded {counts}, expected {run.expected}")
    if timed:
        run.samples.append(run.op_wall[-1])
        run.rows_loaded += sum(counts.values())


def etl_final_check(run: Run) -> None:
    """After repeated loads of the same days the warehouse must hold
    each table's expected rows exactly once."""
    for table, want in run.expected.items():
        got = run.attempt(f"count {table}", lambda: run.spark.read.parquet(str(run.warehouse / table)).count())
        if got is not None:
            run.check(got == want, f"warehouse {table} holds {got} rows, expected {want}")


def _partition_files(target: Path) -> dict[str, dict[str, int]]:
    return {
        p.name: {f.name: f.stat().st_size for f in p.iterdir() if f.name.endswith(".parquet")}
        for p in target.glob("fecha=*")
    }


def etl_traced(run: Run, primary: bool) -> None:
    """Call the layer functions on the same landing input in
    ``run_etl``'s order, then ``run_etl`` whole, each under a span and
    a job group. As a probe (``primary`` false) it leaves the conform,
    Catalyst and execution figures to the workload's own pass."""
    from pyspark.sql import functions as F

    from etl_neotel_sql_automation_spark.io_sinks import write_partitioned_idempotent
    from etl_neotel_sql_automation_spark.io_sources import read_landing_dir, sniff_csv_dialect
    from etl_neotel_sql_automation_spark.pipeline import run_etl, transform_all

    spark, tr, L = run.spark, run.tracer, run.layer
    report_files = [
        p for p in sorted(run.landing.iterdir())
        if p.suffix == ".csv" and ("conducta" in p.name or "estados" in p.name)
    ]
    with tr.span("etl.layers") as layers:
        with tr.span("io_sources.sniff"):
            for p in report_files:
                before = read_chars()
                sniff_csv_dialect(p)
                L["io_sources.sniff_read_bytes"] += read_chars() - before
        L["io_sources.files"] = len(report_files)
        L["io_sources.sniff_read_ratio"] = L["io_sources.sniff_read_bytes"] / (8192 * len(report_files))
        with tr.span("io_sources.read_landing"), job_group(spark, "io_sources.read_landing") as jobs:
            raw = read_landing_dir(spark, run.landing)
            L["io_sources.construct_jobs"] = jobs()
        L["io_sources.union_depth"] = sum(union_nodes(df) for df in raw.values())
        with tr.span("conform.construct"):
            conformed = transform_all(raw)
        for df in conformed.values() if primary else ():
            for phase, secs in catalyst_phases(df).items():
                L[f"catalyst.{phase}_s"] += secs
        with tr.span("pipeline.empty_check"), job_group(spark, "pipeline.empty_check"):
            nonempty = {k: df for k, df in conformed.items() if not df.isEmpty()}
        with tr.span("io_sinks.write"), job_group(spark, "io_sinks.write"):
            for kind, df in nonempty.items():
                target = run.warehouse / TABLE_FOR[kind]
                before = _partition_files(target)
                write_partitioned_idempotent(df.withColumn("load_date", F.current_timestamp()), str(target))
                after = _partition_files(target)
                for part, files in after.items():
                    if files != before.get(part):
                        L["io_sinks.partitions_replaced"] += part in before
                        new = {f: s for f, s in files.items() if f not in before.get(part, {})}
                        L["io_sinks.files_written"] += len(new)
                        L["io_sinks.bytes_written"] += sum(new.values())
    for name in ("io_sources.sniff", "io_sources.read_landing", "pipeline.empty_check", "io_sinks.write"):
        L[f"{name}_s"] = tr.total(name)
    if primary:
        L["conform.construct_s"] = tr.total("conform.construct")
    L["pipeline.layers_sum_s"] = layers["end"] - layers["start"]

    with tr.span("pipeline.run_etl") as whole, job_group(spark, "pipeline.run_etl") as jobs:
        counts = run.attempt("traced run_etl", lambda: run_etl(spark, run.landing, run.warehouse))
        L["pipeline.jobs_per_run"] = jobs()
    if counts is not None:
        run.check(counts == run.expected, f"traced run_etl loaded {counts}, expected {run.expected}")
    L["pipeline.run_etl_s"] = whole["end"] - whole["start"]
    if primary:
        run.traced_wall = L["pipeline.run_etl_s"]
        run.exec_groups = ["pipeline.run_etl"]


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def query_inputs(run: Run, spec: dict) -> str:
    """Write the parquet tables and pick the queries; return a description."""
    from etl_neotel_sql_automation_spark import workload

    run.sf_dir = str(run.work / "tables")
    rows = write_tables(Path(run.sf_dir), spec["sf"], run.args.seed)
    registry = workload.queries()
    run.queries = {n: registry[n] for n in spec["queries"]}
    run.oracles = workload.oracle_sql()
    mb = sum(p.stat().st_size for p in Path(run.sf_dir).iterdir()) / 1e6
    return (
        f"{len(run.queries)} queries over {len(rows)} parquet tables, {mb:.1f} MB, "
        f"{sum(rows.values())} rows (scale {spec['sf']})"
    )


# _canon and _rowset apply the comparison rules of tools/check_oracle.py;
# they are repeated here so the benchmark depends on no tool script.
def _canon(v):
    """Comparable form of one cell, type-strict on int vs float."""
    import math
    from decimal import Decimal

    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (float, Decimal)):
        return ("nan",) if math.isnan(v) else ("f", float(v))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rowset(cols: list[str], rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def query_warmup_and_check(run: Run) -> None:
    """Untimed pass: collect every query and compare it with its DuckDB
    twin over the same parquet (row count, column names, exact values,
    order-insensitive)."""
    import duckdb

    con = duckdb.connect()
    try:
        for p in sorted(Path(run.sf_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        for name, fn in run.queries.items():
            def collect(fn=fn):
                df = fn(run.spark, run.sf_dir)
                return df.columns, [tuple(r) for r in df.collect()]

            got = run.attempt(name, collect)
            if got is None:
                continue
            res = con.execute(run.oracles[name])
            want_cols = [d[0] for d in res.description]
            want = res.fetchall()
            cols, rows = got
            run.check(
                sorted(cols) == sorted(want_cols) and _rowset(cols, rows) == _rowset(want_cols, want),
                f"{name}: {len(rows)} rows differ from the oracle's {len(want)}",
            )
    finally:
        con.close()


def query_pass(run: Run) -> None:
    """One timed pass: build each query and force it with the noop sink."""
    with run.timed_op():
        for name, fn in run.queries.items():
            t0 = time.perf_counter()
            ok = run.attempt(name, lambda fn=fn: fn(run.spark, run.sf_dir).write.format("noop").mode("overwrite").save() or True)
            elapsed = time.perf_counter() - t0
            if ok:
                run.attempted += 1
                run.samples.append(elapsed)
                run.per_query.setdefault(name, []).append(elapsed)
    gc.collect()


def query_traced(run: Run, primary: bool) -> None:
    """One pass where each query's construction and action run under
    its own span and job group. As a probe (``primary`` false) it
    records only the ``workload`` and ``ops`` construction figures."""
    spark, tr, L = run.spark, run.tracer, run.layer
    with tr.span("query.pass") as whole:
        for name, fn in run.queries.items():
            with tr.span("query", query=name), job_group(spark, f"q:{name}") as jobs:
                with tr.span("workload.construct") as c:
                    df = run.attempt(name, lambda fn=fn: fn(spark, run.sf_dir))
                    construct_jobs = jobs()
                if df is None:
                    continue
                construct_s = c["end"] - c["start"]
                L["workload.construct_s"] += construct_s
                L["workload.construct_jobs"] += construct_jobs
                if name in OPS_QUERIES:
                    L["ops.construct_s"] += construct_s
                    L["ops.construct_jobs"] += construct_jobs
                if primary and name in CONFORM_QUERIES:
                    L["conform.construct_s"] += construct_s
                for phase, secs in catalyst_phases(df).items() if primary else ():
                    L[f"catalyst.{phase}_s"] += secs
                with tr.span("exec.action"):
                    ok = run.attempt(name, lambda: df.write.format("noop").mode("overwrite").save() or True)
                if ok:
                    run.attempted += 1
    if primary:
        run.traced_wall = whole["end"] - whole["start"]
        run.exec_groups = [f"q:{n}" for n in run.queries]


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile of ``samples`` with at least ten samples
    beyond it, and that percentile. With ten samples or fewer no
    percentile qualifies, and the maximum is returned as p100."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def measure(run: Run) -> dict[str, float]:
    """Generate inputs, set up, warm up and check, run the timed loop
    and, with ``--trace 1``, the traced pass. Returns the end-to-end
    metrics; per-layer ones land in ``run.layer``."""
    args = run.args
    etl = run.spec["kind"] == "etl"
    t0 = time.perf_counter()
    run.info["input"] = (etl_inputs if etl else query_inputs)(run, run.spec)
    run.info["inputs_s"] = time.perf_counter() - t0

    setups = run.setup()
    if etl:
        etl_op(run, timed=False)  # warm-up; leaves the days in the warehouse
    else:
        query_warmup_and_check(run)

    start = time.perf_counter()
    passes = 0
    while passes < run.spec["passes"] or time.perf_counter() - start < args.seconds:
        if etl:
            etl_op(run, timed=True)
        else:
            query_pass(run)
        passes += 1
    if etl:
        etl_final_check(run)  # re-runs replaced the days, never duplicated them
    if not run.samples:
        raise RuntimeError("no operation completed")

    if etl:
        wall = statistics.median(run.samples)
        work = run.rows_loaded / sum(run.samples)
    else:
        wall = sum(statistics.median(v) for v in run.per_query.values())
        work = len(run.samples) / sum(run.samples)
    run.layer["e2e.wall_s"] = wall
    run.layer["e2e.work_per_s"] = work
    run.layer["host.steal_s"] = statistics.median(run.op_steal)
    run.info["setups_s"] = setups
    run.info["latency_p50_s"] = statistics.median(run.samples)
    run.info["latency_tail_s"], run.info["tail_percentile"] = tail(run.samples)
    if args.trace:
        log_dir = run.work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        run.restart_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        if etl:
            etl_traced(run, primary=True)
            query_inputs(run, PROBES["etl"])
            query_traced(run, primary=False)
        else:
            query_traced(run, primary=True)
            etl_inputs(run, PROBES["query"])
            etl_traced(run, primary=False)
        run.layer["trace.overhead_s"] = run.traced_wall - wall
    run.layer["peak_rss_mb"] = run.peak_rss()
    run.stop()
    if args.trace:
        groups = summarize_event_logs(run.work / "eventlog")
        totals: dict[str, float] = {}
        for g in run.exec_groups:
            for k, v in groups.get(g, {}).items():
                totals[k] = totals.get(k, 0.0) + v
        for k in ("task_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "tasks"):
            run.layer[f"exec.{k}"] = totals.get(k, 0.0)
        run.layer["exec.core_utilization"] = totals.get("task_s", 0.0) / (run.traced_wall * run.cores)
        etl_bytes = groups.get("pipeline.run_etl", {}).get("input_bytes", 0.0)
        run.layer["pipeline.scan_amplification"] = etl_bytes / run.manifest["bytes"]
    return {"setup_s": statistics.median(setups), "cpu_s": statistics.median(run.op_cpu)}


def report(run: Run, metrics: dict[str, float]) -> dict:
    """Print every figure by name and unit; return the result object."""
    info, kind = run.info, run.spec["kind"]
    op = "run_etl" if kind == "etl" else "query"
    print(f"workload {run.args.workload}: {info['input']}; inputs generated in {info['inputs_s']:.2f} s")
    print(f"  set-ups {', '.join(f'{s:.2f}' for s in info['setups_s'])} s")
    def show(name, unit, value):
        alias = f"  ({ALIASES[kind][name]})" if name in ALIASES[kind] else ""
        print(f"  {name} = {value:.6g} {unit}{alias}")

    for name, unit in END_TO_END.items():
        show(name, unit, metrics[name])
    for name in ("e2e.wall_s", "e2e.work_per_s", "host.steal_s"):
        show(name, PER_LAYER[name], run.layer[name])
    print(f"  {kind}.latency_p50_s = {info['latency_p50_s']:.6g} s  (median of {len(run.samples)} {op} samples)")
    print(f"  {kind}.latency_tail_s = {info['latency_tail_s']:.6g} s  "
          f"(p{info['tail_percentile']:.1f} of {len(run.samples)} {op} samples)")
    print(f"  failed_frac = {run.failed}/{run.attempted} = {run.failed / run.attempted:.4f}")
    if not run.args.trace:
        print(f"  peak_rss_mb = {run.layer['peak_rss_mb']:.6g} MB  (Python + JVM)")
    for i, (w, c, st) in enumerate(zip(run.op_wall, run.op_cpu, run.op_steal)):
        print(f"  {op if kind == 'etl' else 'pass'} {i}: wall {w:.3f} s, cpu {c:.3f} s, host steal {st:.2f} s")
    for q, v in run.per_query.items():
        print(f"  query {q}: median {statistics.median(v):.3f} s of {len(v)}")
    if run.args.trace:
        for name, unit in PER_LAYER.items():
            if not name.startswith(("e2e.", "host.")):
                print(f"  {name} = {run.layer[name]:.6g} {unit}")
    names, values = (PER_LAYER, run.layer) if run.args.trace else (END_TO_END, metrics)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} is not next to {HERE.name}/; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # keep temporary files of Python, the JVM and Spark inside the checkout
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    run = Run(args, work)
    try:
        metrics = measure(run)
    finally:
        run.stop()
        if args.trace:
            run.tracer.write(ROOT / ".perfbench_out" / f"spans-{run.tracer.run_id}.json")
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()

    result = report(run, metrics)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
