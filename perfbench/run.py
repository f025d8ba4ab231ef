#!/usr/bin/env python3
"""Benchmark of the engine: one client in a closed loop, one process,
``local[nproc]``, queries run one after another through the public
builders in ``workloads.ALL_QUERIES`` and materialised through the
noop sink.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

A run:

1. points every scratch directory into ``perfbench/.work``;
2. sets up ``SETUP_CYCLES`` times from cold: each cycle launches a
   fresh JVM, starts the Spark session in it and loads every table the
   workload reads (``setup_s`` is the median cycle); the last cycle's
   JVM serves the rest of the run;
3. runs a warm-up pass that fills the stagers and caches and checks
   every query's output against its DuckDB oracle, then ``WARM_PASSES``
   more untimed passes for the JIT;
4. runs at least ``MIN_PASSES`` timed passes and starts no further one
   that would end past ``--seconds``, the query order of each pass
   shuffled by ``--seed``; after each timed pass it runs a fixed
   plain-PySpark reference job ``REF_REPS`` times (twice that, untimed,
   after the untimed passes). The end-to-end pass timings are each
   query's fastest timed execution, scaled by the reference job's
   median time to a nominal machine speed. With
   ``--trace 1`` untraced and traced passes alternate and the per-layer
   metrics are reported instead of the end-to-end ones.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is a JSON report with the
stamp, every timing sample and every failure. METRICS.md defines each
metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
DATA = HERE / "data" / "sf0.01"
sys.path.insert(0, str(HERE))

from stats import geomean, median, percentile, quartiles, tail_percentile  # noqa: E402
from tracing import NAMED_OPERATORS as OPERATORS  # noqa: E402

SETUP_CYCLES = 2

# A slice of bench.HEADLINE, one query per operator family, where
# driver-side work (construction, planning, per-job scheduling) dominates.
HEADLINE_SLICE = (
    "boolean_retrieval", "revenue_by_nation", "quality_score", "brute_force_topk",
)
# Each workload: its queries, and the tables they read, which every
# set-up cycle loads.
WORKLOADS = {
    # the headline slice, record_linkage for executor work in
    # operators.dedup, kcore for a graph loop
    "batch": (
        (*HEADLINE_SLICE, "record_linkage", "kcore"),
        ("documents", "lineitem", "orders", "customer", "supplier", "nation",
         "region", "embeddings"),
    ),
    # micro-batches, a state store and the foreachBatch write path
    "stream": (("streaming_snapshot_sink", "streaming_hourly_counts"), ("events",)),
}
# untimed passes after the cold one; the JIT keeps speeding passes up
# for a few more, but a run cannot afford to wait for all of them
WARM_PASSES = 1
MIN_PASSES = 3
# reference job runs after each timed pass
REF_REPS = 3

# unit of every metric (METRICS.md defines them)
UNITS = {
    "setup_s": "s", "pass_s": "s", "query_geomean_s": "s",
    "session.get_spark_s": "s", "process.peak_rss_mb": "MB",
    "sources.load_table_s": "s", "sources.load_table_calls": "count",
    "sources.ensure_min_parallelism_s": "s", "sources.ensure_min_parallelism_jobs": "count",
    "sources.text_s": "s", "sources.other_s": "s",
    "workloads.construct_s": "s", "workloads.construct_jobs": "count",
    "workloads.build_self_s": "s", "plans.self_s": "s",
    **{f"operators.{op}.self_s": "s" for op in (*OPERATORS, "other")},
    **{f"operators.{op}.jobs": "count" for op in (*OPERATORS, "other")},
    "execute.s": "s", "execute.plan_s": "s", "execute.jobs": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.tasks_failed_frac": "frac", "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s", "engine.gc_s": "s",
    "engine.shuffle_write_mb": "MB", "engine.shuffle_read_mb": "MB",
    "engine.spill_disk_mb": "MB", "engine.input_mb": "MB", "engine.output_mb": "MB",
    "engine.jvm_heap_peak_mb": "MB", "engine.core_busy_frac": "frac",
    "engine.driver_only_s": "s",
    "streaming.self_s": "s", "streaming.batches": "count",
    "streaming.empty_batch_frac": "frac", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_commit_s": "s",
    "streaming.microbatch_p50_s": "s", "streaming.microbatch_p90_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_frac": "frac",
    "trace.unattributed_s": "s",
}


REQUIRED = (
    "mapreduce_assignments_spark/__init__.py",
    "tools/check_correctness.py",
    "bench.py",
)


@dataclass
class Execution:
    query: str
    pass_no: int
    kind: str  # "check", "warm", "timed" or "traced"
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    steal_s: float = 0.0
    error: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.pass_no}-{self.query}"


@dataclass
class Run:
    data_dir: str
    executions: list = field(default_factory=list)
    failures: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    get_spark_s: list = field(default_factory=list)
    passes: list = field(default_factory=list)  # (kind, [Execution])
    app_id: str = ""
    driver_memory: str = ""


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


# -- environment -----------------------------------------------------


def prepare_env(trace: bool) -> dict:
    """Point every scratch location (Python tempfile, Spark local dirs,
    JVM temp, warehouse, event log) into perfbench/.work and return the
    Spark confs that go with it."""
    dirs = {k: WORK / k for k in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    tempfile.tempdir = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["spark-local"])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
    }
    if trace:
        for old in dirs["eventlog"].iterdir():  # earlier runs' logs
            old.unlink()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": str(dirs["eventlog"]),
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return conf


# -- Spark session ---------------------------------------------------


class Engine:
    """The Spark session under test, relaunched from cold on demand."""

    def __init__(self, conf: dict):
        from mapreduce_assignments_spark.session import get_spark

        self.get_spark = get_spark
        self.conf = conf
        self.spark = None
        self._stopped = []  # keep stopped sessions alive: the package memoises by id()

    def start(self) -> float:
        """Stop the current session and its JVM, launch a fresh JVM with a
        new session in it, and return the seconds that took (launch
        included, shutdown not)."""
        if self.spark is not None:
            self.shutdown()
            self._stopped.append(self.spark)
        t0 = time.perf_counter()
        self.spark = self.get_spark("perfbench", extra_conf=self.conf)
        return time.perf_counter() - t0

    @property
    def sc(self):
        return self.spark.sparkContext

    def job_count(self) -> int:
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    def flush_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit
        (it exits when its stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Time the hypervisor has taken from this machine's CPUs, per CPU."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK / os.cpu_count()


def reset_peak_rss(pid) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # the high-water mark then counts from process start


def peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# -- executions ------------------------------------------------------


class Oracle:
    """DuckDB oracle check with tools/check_correctness.py's _canon."""

    def __init__(self, data_dir: str):
        import importlib.util

        import duckdb

        spec = importlib.util.spec_from_file_location(
            "check_correctness", ROOT / "tools" / "check_correctness.py"
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        self.canon = mod._canon
        self.con = duckdb.connect()
        for t in mod.TABLES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def check(self, name: str, cols, rows) -> str | None:
        from mapreduce_assignments_spark import workloads

        sql = workloads.ORACLE.get(name)
        if sql is None:
            return None if rows else "no oracle and no rows"
        cur = self.con.execute(sql)
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
        if sorted(cols) != sorted(d_cols):
            return f"schema {sorted(cols)} vs oracle {sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"{len(rows)} rows vs oracle {len(d_rows)}"
        if self.canon(rows, cols) != self.canon(d_rows, d_cols):
            return "values differ from the oracle"
        return None


def execute(run: Run, engine: Engine, mb, ex: Execution, tracer=None, oracle=None):
    from mapreduce_assignments_spark import workloads

    build = workloads.ALL_QUERIES[ex.query]
    spark = engine.spark

    def span(layer):
        return tracer.span(layer) if tracer else nullcontext()

    engine.sc.setJobGroup(ex.group, ex.query)
    mb.current = (ex.pass_no, ex.query)
    jobs0 = engine.job_count()
    steal0 = steal_s()
    ex.start = time.time()
    try:
        with span("workloads"):
            df = build(spark, run.data_dir)
        if oracle is not None:
            rows = [tuple(r) for r in df.collect()]
            ex.error = oracle.check(ex.query, df.columns, rows)
        else:
            if tracer:
                with span("execute.plan"):
                    df._jdf.queryExecution().executedPlan()
            with span("execute"):
                df.write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 — a failing query is a reported failure
        ex.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    ex.end = time.time()
    ex.steal_s = steal_s() - steal0
    engine.flush_listeners()
    ex.jobs = engine.job_count() - jobs0
    mb.current = None
    if ex.error is None and ex.kind != "check" and ex.query.startswith("streaming_"):
        if mb.input_batches((ex.pass_no, ex.query)) == 0:
            ex.error = "no micro-batch read input rows"
    run.executions.append(ex)
    if ex.error:
        run.failures.append(f"pass {ex.pass_no} {ex.query}: {ex.error}")
    return ex


# Confs the reference job pins in its own SQL session, so that a change
# to the package's SQL defaults does not reach it (broadcast off: the
# join shuffles).
REFERENCE_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}
# The reference job's median time on a 4-vCPU virtual machine: the
# machine speed at which the end-to-end timings are stated.
REFERENCE_NOMINAL_S = 0.35


class Reference:
    """A fixed job written against plain PySpark, none of the package's
    code: lineitem joined to orders and aggregated, through the noop
    sink. Run in the same JVM right after each pass, its median time
    tracks how fast the machine runs Spark during the run."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark.newSession()
        for k, v in REFERENCE_CONF.items():
            self.spark.conf.set(k, v)
        self.data_dir = data_dir
        self.samples: list[float] = []

    def run(self, reps: int) -> None:
        from pyspark.sql import functions as F

        # its own job group, so the event log attributes its jobs to no query
        self.spark.sparkContext.setJobGroup("perfbench-reference", "reference")
        for _ in range(reps):
            t0 = time.perf_counter()
            li = self.spark.read.parquet(f"{self.data_dir}/lineitem.parquet")
            o = self.spark.read.parquet(f"{self.data_dir}/orders.parquet")
            (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority", "l_returnflag")
                .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), F.count("*"))
                .write.format("noop").mode("overwrite").save()
            )
            self.samples.append(time.perf_counter() - t0)


def run_pass(run, engine, mb, pass_no, kind, order, tracer=None, oracle=None):
    done = [
        execute(run, engine, mb, Execution(q, pass_no, kind), tracer, oracle)
        for q in order
    ]
    run.passes.append((kind, done))


def memo_guard(run: Run) -> None:
    """Every timed or traced pass of a query must schedule as many jobs
    through the noop sink as the untimed warm pass did; otherwise a memo
    filled on the way served a later pass. (A memo the cold check pass
    filled serves the warm pass too, which this cannot see.)"""
    warm = {ex.query: ex.jobs for ex in run.executions if ex.kind == "warm"}
    for ex in run.executions:
        if ex.kind in ("check", "warm") or ex.error:
            continue
        if ex.jobs != warm[ex.query]:
            ex.error = f"scheduled {ex.jobs} jobs, warm pass {warm[ex.query]}"
            run.failures.append(f"pass {ex.pass_no} {ex.query}: {ex.error}")


# -- metrics ---------------------------------------------------------


def query_samples(run: Run, kind: str) -> dict[str, list[float]]:
    """Per query, the times of its executions of this kind."""
    samples: dict[str, list[float]] = {}
    for ex in run.executions:
        if ex.kind == kind:
            samples.setdefault(ex.query, []).append(ex.seconds)
    return samples


def query_best(run: Run, kind: str) -> dict[str, float]:
    """Per query, its fastest execution of this kind: bench.py's
    min-of-N, which drops passes that other load on the machine or a
    still-compiling JIT slowed down."""
    return {q: min(v) for q, v in query_samples(run, kind).items()}


def end_to_end(run: Run, reference_s: list[float]) -> dict:
    """setup_s as measured; the pass timings scaled to the machine speed
    at which the reference job takes REFERENCE_NOMINAL_S, which takes
    out the drift of a shared machine's speed between runs."""
    speed = REFERENCE_NOMINAL_S / median(reference_s)
    best = [t * speed for t in query_best(run, "timed").values()]
    return {
        "setup_s": median(run.setup_s),
        "pass_s": sum(best),
        # a sub-second query weighs as much as a slow one
        "query_geomean_s": geomean(best),
    }


def per_layer(run: Run, tracers: list, mb, cores: int, rss_mb: float) -> dict:
    from eventlog import engine_metrics, read_event_log
    from listener import MicroBatchStats

    traced = [done for k, done in run.passes if k == "traced"]
    out: dict[str, list] = {}

    def add(name, value):
        out.setdefault(name, []).append(value)

    log_files = sorted((WORK / "eventlog").glob(f"{run.app_id}*"))
    with open(log_files[0]) as f:
        log = read_event_log(f)
    for done, tracer in zip(traced, tracers):
        layers = tracer.layer_totals()

        def self_s(layer):
            return layers.get(layer, {}).get("self_s", 0.0)

        def jobs(layer):
            return layers.get(layer, {}).get("jobs", 0)

        wall = sum(e.seconds for e in done)
        add("sources.load_table_s", self_s("sources.load_table"))
        add("sources.load_table_calls", layers.get("sources.load_table", {}).get("calls", 0))
        add("sources.ensure_min_parallelism_s", self_s("sources.ensure_min_parallelism"))
        add("sources.ensure_min_parallelism_jobs", jobs("sources.ensure_min_parallelism"))
        add("sources.text_s", self_s("sources.text"))
        add("sources.other_s", self_s("sources.other"))
        add("workloads.construct_s", layers.get("workloads", {}).get("total_s", 0.0))
        add("workloads.construct_jobs", layers.get("workloads", {}).get("total_jobs", 0))
        add("workloads.build_self_s", self_s("workloads"))
        add("plans.self_s", self_s("plans"))
        for op in (*OPERATORS, "other"):
            add(f"operators.{op}.self_s", self_s(f"operators.{op}"))
            add(f"operators.{op}.jobs", jobs(f"operators.{op}"))
        add("execute.s", self_s("execute"))
        add("execute.plan_s", self_s("execute.plan"))
        add("execute.jobs", jobs("execute"))
        add("streaming.self_s", self_s("streaming"))
        accounted = sum(v["self_s"] for v in layers.values())
        add("trace.unattributed_s", wall - accounted)
        add("trace.pass_s", wall)
        windows = [(e.query, e.group, e.start, e.end) for e in done]
        for k, v in engine_metrics(log, windows, cores).items():
            add(f"engine.{k}", v)
        tags = {(e.pass_no, e.query) for e in done}
        summary = MicroBatchStats.summarize(mb.select(tags))
        for k in ("batches", "empty_batch_frac", "add_batch_s", "query_planning_s",
                  "wal_commit_s", "state_rows", "state_commit_s",
                  "microbatch_p50_s", "microbatch_p90_s"):
            add(f"streaming.{k}", summary[k])
    metrics = {k: median(v) for k, v in out.items()}
    metrics["session.get_spark_s"] = median(run.get_spark_s)
    metrics["process.peak_rss_mb"] = rss_mb
    # each query's fastest execution on both sides, unscaled
    untraced = sum(query_best(run, "timed").values())
    metrics["trace.untraced_pass_s"] = untraced
    metrics["trace.overhead_frac"] = sum(query_best(run, "traced").values()) / untraced - 1
    return metrics


def stamp(args, run: Run) -> dict:
    import hashlib

    import pyspark

    digest = hashlib.sha256()
    for p in sorted((ROOT / "mapreduce_assignments_spark").rglob("*.py")):
        digest.update(p.read_bytes())
    rev = None
    if (ROOT / ".git").exists():  # an exported checkout has no history
        rev = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    return {
        "git_rev": rev,
        "source_sha256": digest.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "seed": args.seed,
        "pyspark": pyspark.__version__,
        "driver_memory": run.driver_memory,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


# -- main ------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        fail(f"not inside a checkout of the engine (missing {', '.join(missing)})")
    trace = bool(args.trace)
    queries, tables = WORKLOADS[args.workload]
    conf = prepare_env(trace)

    sys.path.insert(0, str(ROOT))
    import bench
    from mapreduce_assignments_spark.sources.tables import load_table

    from listener import MicroBatchStats, attach
    from tracing import Tracer

    if not set(HEADLINE_SLICE) <= set(bench.HEADLINE):
        fail("HEADLINE_SLICE must be a subset of bench.HEADLINE")
    run = Run(str(DATA))
    rng = random.Random(args.seed)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    engine = Engine(conf)
    try:
        for _ in range(SETUP_CYCLES):
            get_spark_s = engine.start()
            t0 = time.perf_counter()
            for name in tables:
                load_table(engine.spark, run.data_dir, name).schema
            run.get_spark_s.append(get_spark_s)
            run.setup_s.append(get_spark_s + time.perf_counter() - t0)
        run.app_id = engine.sc.applicationId
        run.driver_memory = engine.sc.getConf().get("spark.driver.memory")
        mb = MicroBatchStats()
        attach(engine.spark, mb)

        def shuffled():
            order = list(queries)
            rng.shuffle(order)
            return order

        run_pass(run, engine, mb, 0, "check", shuffled(), oracle=Oracle(run.data_dir))
        reference = Reference(engine.spark, run.data_dir)
        for n in range(WARM_PASSES):
            run_pass(run, engine, mb, 1 + n, "warm", shuffled())
            reference.run(2 * REF_REPS)  # the reference's own warm-up
        reference.samples.clear()

        pid = engine.jvm_pid()
        for p in (pid, os.getpid()):
            reset_peak_rss(p)
        tracers = []
        t_end = time.time() + args.seconds
        n = 0
        last = 0.0  # seconds the last pass took
        # start no pass that would end past --seconds, so runs keep their length
        while n < MIN_PASSES or time.time() + last < t_end or (trace and not tracers):
            t_pass = time.time()
            if trace and n % 2 == 1:
                tracer = Tracer(engine.job_count, clock=time.time)
                tracer.install()
                try:
                    run_pass(run, engine, mb, n + 1 + WARM_PASSES, "traced", shuffled(), tracer=tracer)
                finally:
                    tracer.uninstall()
                tracers.append(tracer)
            else:
                run_pass(run, engine, mb, n + 1 + WARM_PASSES, "timed", shuffled())
                reference.run(REF_REPS)
            last = time.time() - t_pass
            n += 1
        rss = peak_rss_mb(pid) + peak_rss_mb(os.getpid())
    finally:
        engine.shutdown()

    memo_guard(run)
    failed = sum(1 for e in run.executions if e.error)
    if trace:
        values = per_layer(run, tracers, mb, cores, rss)
    else:
        values = end_to_end(run, reference.samples)
    metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(values.items())}

    timed = [sum(e.seconds for e in done) for k, done in run.passes if k == "timed"]
    timed_ex = [e for e in run.executions if e.kind == "timed"]
    per_query = query_samples(run, "timed")
    all_samples = [s for v in per_query.values() for s in v]
    tail = tail_percentile(len(all_samples))
    mb_trig = MicroBatchStats.summarize(mb.select())["trigger_s"]
    report = {
        "stamp": stamp(args, run),
        "setup_s_samples": run.setup_s,
        "get_spark_s_samples": run.get_spark_s,
        "warmup_s": sum(e.seconds for e in run.passes[0][1]),
        "warmup_query_s": {e.query: e.seconds for e in run.passes[0][1]},
        "timed_passes": len(timed),
        "pass_s_samples": timed,
        "pass_s_quartiles": quartiles(timed),
        "query_samples_s": dict(sorted(per_query.items())),
        "reference_samples_s": reference.samples,
        "raw_pass_s": sum(query_best(run, "timed").values()),
        "raw_query_geomean_s": geomean(list(query_best(run, "timed").values())),
        # share of the timed passes the hypervisor took from each CPU
        "steal_frac": sum(e.steal_s for e in timed_ex) / sum(e.seconds for e in timed_ex),
        "query_samples": len(all_samples),
        "query_tail": (
            {f"p{tail}_s": percentile(all_samples, tail)} if tail else "fewer than 20 samples"
        ),
        "query_jobs": {e.query: e.jobs for e in timed_ex},
        "microbatches": len(mb_trig),
        "failed_frac": failed / len(run.executions),
        "failures": run.failures,
        "output_check": "pass" if not any(
            e.error for e in run.executions if e.kind == "check") else "FAIL",
    }
    print(json.dumps(report))
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"# output check: {report['output_check']}, failed_frac "
          f"{report['failed_frac']:.3f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.executions),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
