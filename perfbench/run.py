"""The repository benchmark: the reference ETL run and a registry query
pass, measured end to end and, in a separate traced run, layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It starts one local Spark session with
one worker thread per available core, through the program's own session
factory, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``; progress goes to
stderr. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (both listed in BENCHMARK.json). Everything the run writes
lives under ``.perfbench_tmp/`` in the current directory and is deleted
before it exits.

Workloads. An operation is one pipeline run or one query execution; a
pass is one pipeline run, or each query of the set once. Passes repeat
until one more would overrun ``--seconds`` (at least one). The first pass
runs in a fresh session, as a batch job or an ad-hoc query does: its time
includes code generation and Python worker start-up.

* ``etl_reference``: ``plans.retail_pipeline.run`` over a CSV generated
  from the seed with the reference dataset's quirk mix, into a fresh
  warehouse, in a fresh session: the paper's batch job. Its stage counts,
  dim and fact rows, logged stage metrics and exact revenue are checked
  against the generator's own computation, not Spark's.
* ``registry_queries``: a fixed set of relational ("warehouse") and of
  corpus registry queries (``QUERY_SETS``) over the ten registry tables
  generated from the seed at ``QUERY_SF``, read-only. Each execution's
  result is collected with ``toPandas`` and, outside the timed region,
  compared with the query's DuckDB oracle over the same files, both
  canonicalised by ``tools/check_correctness.canon``.

End-to-end metrics (trace 0), each the median over the run's passes:
``setup_s`` (median of ``SETUP_REPEATS`` set-ups: inputs, session,
warm-up query), ``wall_s`` (one pass), ``rows_per_s`` (raw CSV rows, or
rows the table scans read, per second of pass), ``query_p50_s`` (median
operation latency) and ``bytes_written_per_input_byte`` (file output
plus shuffle writes over bytes read from files, Spark's own counters).
Failed operations and wrong outputs are ``failed`` out of ``attempted``.

Per-layer metrics (trace 1), per pass, and what they should move:

* queries: ``plans.build_s`` (inside ``spark_fn``), ``spark.planning_s``
  (action call to first job), ``spark.scheduling_s`` (action wall with no
  stage running, after the first job) and ``spark.eager_jobs`` (jobs run
  while building the plan) move ``query_p50_s`` and
  ``queries.warehouse.p50_s``; ``spark.executor_*``, ``spark.python_*``,
  ``spark.shuffle_*`` and ``spark.spill_bytes`` move ``wall_s`` through
  ``queries.corpus.wall_s``. ``plans.build_s``, ``spark.planning_s``,
  ``spark.scheduling_s`` and ``spark.stage_wall_s`` are self times that
  partition every query's wall.
* ETL: the self time of each pipeline layer (``sources.ingest``,
  ``operators.clean``, ``operators.dims``, ``operators.fact``,
  ``plans.report`` and the driver's own remainder
  ``plans.driver_other``) with its Spark jobs, tasks, executor seconds
  and I/O, shuffle and spill bytes move ``rows_per_s`` and ``wall_s`` on
  etl_reference; ``operators.clean.spark.jobs`` counts the cleaning
  stage's eager jobs.
* ``host.calibration_*_s``: a fixed query timed before and after the
  passes, to compare hosts. ``host.peak_rss_mb``: peak resident memory of
  this process and its descendants (Spark JVM, Python workers) from
  /proc; it follows the JVM's garbage-collection timing, so it varies too
  much between runs to bound. ``trace.self_sum_s`` is at most
  ``trace.wall_s`` (mean traced pass).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

import datagen
from stats import median, percentile, samples_beyond, union_length
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
STARTED = time.time()

# a tenth of the reference dataset's 541,909 rows, so that one pipeline
# run in a fresh session fits the run budget
ETL_ROWS = 54_191
REFERENCE_ROWS, REFERENCE_MIN_ROWS = 541_909, 400_000
SETUP_REPEATS = 3
CALIBRATION_QUERY = "q01_clean_filters"
QUERY_SF = 0.01
# The warehouse set is every eighth relational query by warm latency on
# 4 cores, less the two with the slowest first execution (q114, q167), so
# it spans the latency range and all five modules. The corpus
# set covers the prefix index with its trigram projection, a graph loop,
# LSH, the tokenizer and a Python/Arrow UDF (media decode). Both are sized
# to the run budget; every query has a DuckDB oracle that finishes in
# seconds at QUERY_SF.
QUERY_SETS = {
    "warehouse": (
        "q11_dup_probe", "q123_k_anonymity", "q152_balance_percentiles",
        "q180_multitouch_attribution", "q183_top_supplier",
        "q190_ab_significance", "q236_ks_drift_test", "q250_dp_noisy_release",
        "q47_set_ops", "q48_cube_order_stats", "q56_scalar_subquery",
    ),
    "corpus": (
        "q156_media_decode_features", "q230_label_propagation",
        "q260_prefix_posting_report", "q32_rp_lsh_neardup",
        "q94_bpe_pair_counts",
    ),
}
SPARK_TOTALS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
    "input_records", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
PYTHON_TOTALS = ("python_run_s", "python_bytes_sent", "python_bytes_returned")
ETL_LAYERS = (
    "sources.ingest", "operators.clean", "operators.dims", "operators.fact",
    "plans.report", "plans.driver_other",
)
QUERY_LAYERS = ("plans.build_s", "spark.planning_s", "spark.scheduling_s", "spark.stage_wall_s")


class BenchError(Exception):
    """The benchmark cannot run here (missing program or inputs)."""


def spark_totals(jobs) -> dict[str, float]:
    out = dict.fromkeys(SPARK_TOTALS, 0.0)
    for j in jobs:
        out["jobs"] += 1
        for s in j.stages:
            out["tasks"] += s.tasks
            out["executor_run_s"] += s.executor_run_s
            out["executor_cpu_s"] += s.executor_cpu_s
            out["input_bytes"] += s.input_bytes
            out["input_records"] += s.input_records
            out["output_bytes"] += s.output_bytes
            out["shuffle_read_bytes"] += s.shuffle_read_bytes
            out["shuffle_write_bytes"] += s.shuffle_write_bytes
            out["spill_bytes"] += s.spill_bytes
    return out


def add_into(acc: dict[str, float], part: dict[str, float], prefix: str = "") -> None:
    for k, v in part.items():
        acc[prefix + k] = acc.get(prefix + k, 0.0) + v


def tree_peak_rss_mb() -> float:
    """Peak resident set of this process plus every live descendant (the
    Spark JVM and Python workers), summed from /proc VmHWM."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Bench:
    """One benchmark process: scratch space, Spark session, tracer."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.root = os.getcwd()
        self.cpus = len(os.sched_getaffinity(0))
        self.tmp = os.path.join(self.root, ".perfbench_tmp", str(os.getpid()))
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.reader = None
        self.attempted = 0
        self.failed = 0

    # -- lifetime --------------------------------------------------------
    def open(self) -> None:
        if not os.path.isdir(os.path.join(self.root, "retail_sales_etl_pipeline_spark")):
            raise BenchError(
                f"run from the repository root: no retail_sales_etl_pipeline_spark in {self.root}"
            )
        sys.path[:0] = [self.root, os.path.join(self.root, "tools")]
        os.makedirs(self.tmp)
        # every scratch write of Spark, its Python workers and the queries'
        # own temporary directories lands under the run's directory; the
        # JVMs keep no shared-memory perf file in /tmp
        for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
            os.environ[var] = self.tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = self.tmp

    def new_session(self):
        """(Re)start the Spark session through the program's factory."""
        from retail_sales_etl_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.ui.retainedJobs": "10000",
                "spark.ui.retainedStages": "10000",
                "spark.sql.ui.retainedExecutions": "10000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark and its JVM, wait for it, delete the scratch space."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.tmp, ignore_errors=True)
        parent = os.path.dirname(self.tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- shared steps ----------------------------------------------------
    def setup(self, make_inputs, data_dir: str) -> float:
        """Set up ``SETUP_REPEATS`` times (inputs, session, warm-up query
        over ``data_dir``) and return the median; the last session stays
        open."""
        from sparkstats import StatusReader

        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.time()
            make_inputs()
            self.new_session()
            self.calibration_query(data_dir)
            times.append(time.time() - t0)
        self.reader = StatusReader(self.spark)
        log(f"set up {SETUP_REPEATS}x: " + " ".join(f"{t:.3f}s" for t in times))
        return median(times)

    def cleanup(self) -> None:
        """Drop what a query left cached (outside the timed region)."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    def calibration_query(self, data_dir: str) -> float:
        """Time the fixed calibration query (a filtered scan) end to end."""
        from retail_sales_etl_pipeline_spark.plans.registry import load_all

        t0 = time.time()
        load_all()[CALIBRATION_QUERY].spark_fn(self.spark, data_dir).write.format(
            "noop").mode("overwrite").save()
        took = time.time() - t0
        self.cleanup()
        return took

    def calibrate(self, data_dir: str) -> float:
        """The calibration query, kept out of the next operation's records."""
        took = self.calibration_query(data_dir)
        self.reader.new_jobs()
        self.reader.new_python_metrics()
        return took

    def measure(self, one_pass) -> list[float]:
        """Call ``one_pass(i)`` (returns its timed seconds) until one more
        pass would overrun ``--seconds``; at least once."""
        walls: list[float] = []
        begin = time.time()
        while not walls or time.time() - begin + walls[-1] <= self.args.seconds:
            self.tracer.run_id = len(walls)
            walls.append(one_pass(len(walls)))
            log(f"pass {len(walls)}: {walls[-1]:.3f}s")
        return walls

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def log(msg: str) -> None:
    print(f"[{time.time() - STARTED:7.2f}s] {msg}", file=sys.stderr, flush=True)


def op_failed(what: str) -> None:
    log(f"FAILED {what}:\n{traceback.format_exc()}")


# -- etl_reference -----------------------------------------------------------

class TracedPipeline:
    """Within ``with``: the pipeline's calls into sources, operators and
    the quality/metadata logs run inside named spans."""

    STAGES = {"ingest_csv": "sources.ingest", "dim_upserts": "operators.dims",
              "fact_full_refresh": "operators.fact"}

    def __init__(self, tracer: Tracer) -> None:
        from retail_sales_etl_pipeline_spark.plans import retail_pipeline

        self.mod = retail_pipeline
        self.tracer = tracer
        self.saved: dict[str, object] = {}

    def __enter__(self):
        t, mod = self.tracer, self.mod

        def run_stage(spark, name, *a, **kw):
            with t.span(self.STAGES[name]):
                return self.saved["run_stage"](spark, name, *a, **kw)

        class Module:
            def __init__(self, inner, span):
                self._inner, self._span = inner, span

            def __getattr__(self, attr):
                v = getattr(self._inner, attr)
                return t.wrap(self._span, v) if callable(v) else v

        patches = {
            "check_csv_exists": t.wrap("sources.ingest", mod.check_csv_exists),
            "read_retail_csv": t.wrap("sources.ingest", mod.read_retail_csv),
            "clean_staging": t.wrap("operators.clean", mod.clean_staging),
            "build_fact_sales": t.wrap("operators.fact", mod.build_fact_sales),
            "run_stage": run_stage,
            "quality": Module(mod.quality, "plans.report"),
            "metadata": Module(mod.metadata, "plans.report"),
        }
        for name, value in patches.items():
            self.saved[name] = getattr(mod, name)
            setattr(mod, name, value)
        return self

    def __exit__(self, *exc) -> None:
        for name, value in self.saved.items():
            setattr(self.mod, name, value)


def etl_check(spark, res, exp: datagen.RetailExpected, warehouse: str) -> list[str]:
    """Differences between one pipeline run and the generator's answer."""
    from pyspark.sql import functions as F

    got = {
        "raw_rows": res.raw_rows, "cleaned_rows": res.cleaned_rows,
        "fact_rows": res.fact_rows, "dim_product_rows": res.dim_product_rows,
        "dim_customer_rows": res.dim_customer_rows, "dim_date_rows": res.dim_date_rows,
        "revenue": res.total_revenue,
        "stage_rows": tuple((m.stage_name, m.rows_before, m.rows_after)
                            for m in res.stage_metrics),
    }
    fact = spark.read.parquet(os.path.join(warehouse, "fact_sales"))
    rows, revenue = fact.agg(
        F.count("*"), F.sum("total_amount").cast("decimal(38,2)").cast("string")
    ).collect()[0]
    got["warehouse_fact_rows"], got["warehouse_revenue"] = rows, revenue
    logged = spark.read.parquet(os.path.join(warehouse, "stage_metrics")).collect()
    got["logged_stage_rows"] = tuple(sorted(
        (r["stage_name"], r["rows_before"], r["rows_after"]) for r in logged))
    want = {k: getattr(exp, k) for k in got if hasattr(exp, k)}
    want.update(warehouse_fact_rows=exp.fact_rows, warehouse_revenue=exp.revenue,
                logged_stage_rows=tuple(sorted(exp.stage_rows)))
    return [f"{k}: got {got[k]!r}, expected {want[k]!r}" for k in want if got[k] != want[k]]


def run_etl(b: Bench) -> dict:
    from retail_sales_etl_pipeline_spark.plans import retail_pipeline

    csv_path = os.path.join(b.tmp, "online_retail.csv")
    expected: list[datagen.RetailExpected] = []
    calib_dir = os.path.join(b.tmp, "calibration")

    def make_inputs() -> None:
        expected[:] = [datagen.write_retail_csv(csv_path, ETL_ROWS, b.args.seed)]
        datagen.write_sf_tables(calib_dir, 0.001, 0)

    setup_s = b.setup(make_inputs, calib_dir)
    exp = expected[0]
    min_rows = ETL_ROWS * REFERENCE_MIN_ROWS // REFERENCE_ROWS
    calib = [b.calibrate(calib_dir)] if b.args.trace else []
    layers: dict[str, float] = {}
    checks: list[tuple] = []
    bytes_in = bytes_out = 0.0

    def one_pass(i: int) -> float:
        nonlocal bytes_in, bytes_out
        warehouse = os.path.join(b.tmp, f"warehouse_{i}")
        b.attempted += 1
        t0 = time.time()
        try:
            with TracedPipeline(b.tracer) if b.args.trace else nullcontext():
                with b.tracer.span("plans.driver_other"):
                    res = retail_pipeline.run(b.spark, csv_path, warehouse, min_rows=min_rows)
        except Exception:  # noqa: BLE001 -- count it, keep measuring
            op_failed(f"pipeline run {i}")
            b.failed += 1
            res = None
        wall = time.time() - t0
        jobs = b.reader.new_jobs()
        totals = spark_totals(jobs)
        bytes_in += totals["input_bytes"]
        bytes_out += totals["output_bytes"] + totals["shuffle_write_bytes"]
        if b.args.trace:
            add_into(layers, etl_layers(b, jobs))
        if res is not None:
            checks.append((res, warehouse))
        else:
            shutil.rmtree(warehouse, ignore_errors=True)
        return wall

    walls = b.measure(one_pass)
    if b.args.trace:
        calib.append(b.calibrate(calib_dir))
    for res, warehouse in checks:  # verified outside the timed region
        diffs = etl_check(b.spark, res, exp, warehouse)
        if diffs:
            b.failed += 1
            log("WRONG pipeline output: " + "; ".join(diffs))
        shutil.rmtree(warehouse, ignore_errors=True)
    wall = median(walls)
    if b.args.trace:
        per = {k: v / len(walls) for k, v in layers.items()}
        per.update(calibration(calib), **{"trace.wall_s": sum(walls) / len(walls),
                                          "host.peak_rss_mb": tree_peak_rss_mb()})
        return b.result({k: (v, unit_of(k)) for k, v in full_layer_metrics(per).items()})
    return b.result({
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (exp.raw_rows / wall, "1/s"),
        "query_p50_s": (wall, "s"),
        "bytes_written_per_input_byte": (bytes_out / max(bytes_in, 1.0), "B/B"),
    })


def etl_layers(b: Bench, jobs) -> dict[str, float]:
    """Self time and Spark totals per pipeline layer, for one run."""
    t = b.tracer
    run = [i for i, s in enumerate(t.spans) if s.run_id == t.run_id]
    out: dict[str, float] = {}
    for i in run:
        add_into(out, {f"{t.spans[i].name}_s": t.self_time(i)})
    by_span: dict[str, list] = {}
    for j in jobs:
        i = t.innermost(j.submitted, t.run_id)
        name = t.spans[i].name if i is not None else "plans.driver_other"
        by_span.setdefault(name, []).append(j)
    for name in ETL_LAYERS:
        add_into(out, spark_totals(by_span.get(name, [])), f"{name}.spark.")
    add_into(out, spark_totals(jobs), "spark.")
    add_into(out, b.reader.new_python_metrics(), "spark.")
    stage_iv = [(s.start, s.end) for j in jobs for s in j.stages]
    root = t.spans[run[0]]
    out["spark.stage_wall_s"] = union_length(stage_iv, root.start, root.end)
    out["trace.self_sum_s"] = sum(t.self_time(i) for i in run)
    return out


# -- registry query workloads -----------------------------------------------

def oracle_answers(data_dir: str, names, registry, canon) -> dict[str, tuple]:
    """Canonical result of each query's DuckDB oracle over ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {name: canon(con.execute(registry[name].oracle).df()) for name in names}
    finally:
        con.close()


def run_queries(b: Bench) -> dict:
    from check_correctness import canon
    from retail_sales_etl_pipeline_spark.plans.registry import load_all

    names = sorted(n for names in QUERY_SETS.values() for n in names)
    data_dir = os.path.join(b.tmp, "data")

    def make_inputs() -> None:
        datagen.write_sf_tables(data_dir, QUERY_SF, b.args.seed)

    setup_s = b.setup(make_inputs, data_dir)
    registry = load_all()
    calib = [b.calibrate(data_dir)] if b.args.trace else []
    latencies: dict[str, list[float]] = {n: [] for n in names}
    layers: dict[str, float] = {}
    totals: dict[str, float] = {}
    results: list[tuple[str, tuple | None]] = []

    def one_pass(_: int) -> float:
        total = 0.0
        for name in names:
            b.attempted += 1
            t0 = t1 = time.time()
            try:
                with b.tracer.span("query"):
                    with b.tracer.span("plans.build"):
                        df = registry[name].spark_fn(b.spark, data_dir)
                    t1 = time.time()
                    with b.tracer.span("spark.execute"):
                        result = df.toPandas()
            except Exception:  # noqa: BLE001 -- count it, keep measuring
                op_failed(name)
                result = None
            took = time.time() - t0
            log(f"{name} {took:.3f}s")
            total += took
            latencies[name].append(took)
            results.append((name, canon(result) if result is not None else None))
            b.cleanup()
            jobs = b.reader.new_jobs()
            add_into(totals, spark_totals(jobs))
            if b.args.trace:
                add_into(layers, query_layers(b, jobs, t0, t1, t0 + took))
        return total

    walls = b.measure(one_pass)
    if b.args.trace:
        calib.append(b.calibrate(data_dir))
    # every result is checked against its oracle, outside the timed region
    expected = oracle_answers(data_dir, names, registry, canon)
    for name, got in results:
        if got != expected[name]:
            b.failed += 1
            log(f"WRONG {name}: {got}, oracle {expected[name]}")
    wall = median(walls)
    if b.args.trace:
        per = {k: v / len(walls) for k, v in layers.items()}
        for part, members in QUERY_SETS.items():
            mine = [t for n in members for t in latencies[n]]
            per[f"queries.{part}.wall_s"] = sum(mine) / len(walls)
            per[f"queries.{part}.p50_s"] = percentile(mine, 0.5)
        per.update(calibration(calib), **{"trace.wall_s": sum(walls) / len(walls),
                                          "host.peak_rss_mb": tree_peak_rss_mb()})
        return b.result({k: (v, unit_of(k)) for k, v in full_layer_metrics(per).items()})
    bytes_out = totals["output_bytes"] + totals["shuffle_write_bytes"]
    pooled = [t for ts in latencies.values() for t in ts]
    log(f"query_p50_s over {len(pooled)} executions, {samples_beyond(len(pooled), 0.5)} above it")
    return b.result({
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (totals["input_records"] / sum(walls), "1/s"),
        "query_p50_s": (percentile(pooled, 0.5), "s"),
        "bytes_written_per_input_byte": (bytes_out / max(totals["input_bytes"], 1.0), "B/B"),
    })


def query_layers(b: Bench, jobs, t0: float, t1: float, t2: float) -> dict[str, float]:
    """One query split into plan build (inside ``spark_fn``), planning
    (action call to its first job), time with a stage running, and the
    rest of the action's wall (scheduling, AQE re-planning, collection)."""
    exec_jobs = [j for j in jobs if j.submitted >= t1]
    first = min((j.submitted for j in exec_jobs), default=t2)
    planning = max(0.0, min(first, t2) - t1)
    stage_iv = [(s.start, s.end) for j in exec_jobs for s in j.stages]
    stage_wall = union_length(stage_iv, t1 + planning, t2)
    out = {
        "plans.build_s": t1 - t0,
        "spark.planning_s": planning,
        "spark.stage_wall_s": stage_wall,
        "spark.scheduling_s": (t2 - t1) - planning - stage_wall,
        "spark.eager_jobs": float(len(jobs) - len(exec_jobs)),
    }
    out["trace.self_sum_s"] = sum(out[k] for k in QUERY_LAYERS)
    add_into(out, spark_totals(jobs), "spark.")
    add_into(out, b.reader.new_python_metrics(), "spark.")
    return out


# -- metrics catalogue -------------------------------------------------------

def per_layer_names() -> list[str]:
    names = [f"queries.{part}.{m}" for part in QUERY_SETS for m in ("wall_s", "p50_s")]
    names += list(QUERY_LAYERS) + ["spark.eager_jobs"]
    names += [f"spark.{k}" for k in SPARK_TOTALS + PYTHON_TOTALS]
    for layer in ETL_LAYERS:
        names.append(f"{layer}_s")
        names += [f"{layer}.spark.{k}" for k in SPARK_TOTALS]
    names += ["host.calibration_start_s", "host.calibration_end_s", "host.peak_rss_mb",
              "trace.self_sum_s", "trace.wall_s"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_sent") or name.endswith("bytes_returned"):
        return "B"
    return "count"


def calibration(calib: list[float]) -> dict[str, float]:
    return {"host.calibration_start_s": calib[0], "host.calibration_end_s": calib[-1]}


def full_layer_metrics(per: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric, 0 where the workload has no such layer."""
    return {name: float(per.get(name, 0.0)) for name in per_layer_names()}


WORKLOADS = {
    "etl_reference": run_etl,
    "registry_queries": run_queries,
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = Bench(args)
    try:
        bench.open()
        result = WORKLOADS[args.workload](bench)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
