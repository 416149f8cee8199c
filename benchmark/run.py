#!/usr/bin/env python3
"""Benchmark: HistoryLoad and the batch query registry, end to end and per layer.

    python3 benchmark/run.py --workload historyload --seed 1 --seconds 12 --trace 0

Runs one workload in one process: a closed loop with a single client,
one table load or one query at a time, on ``local[N]`` with
``N = min(4, cpus)``.  The fixture tables are copied, and
``etl_source`` is generated from ``--seed``, into a fresh per-run
directory under ``.benchrun/`` (with its own artifact root, temp,
output and Spark local directories) that is removed when the run ends.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it records
the run's setting (master, parallelism, versions, heap, seed, host load).
A traced run also writes its spans to ``.benchrun/traces/``.
See ``benchmark/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HASH_SEED = "0"
DRIVER_MEM = "2g"
SETUP_ROUNDS = 3
MIN_REGISTRY_EXECUTIONS = 100
UPDATEDBY = "redshiftadmin"

WORKLOADS = {
    # untimed passes before the timed ones (on the registry, the pass
    # that collects every query's rows for the check)
    "historyload": {"sf": "0.01", "etl_rows": 200_000, "warm_passes": 2},
    "registry_sf0.01": {"sf": "0.01", "etl_rows": 0, "warm_passes": 1},
}
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "artifacts.prebuild_s": "s",
    "readers.load_table_s": "s", "readers.load_table_calls": "count",
    "queries.build_s": "s", "queries.build_py4j": "count", "python.cpu_s": "s",
    "catalyst.plan_s": "s", "catalyst.plan_py4j": "count",
    "spark.exec_s": "s", "spark.exec_py4j": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.input_rows": "count",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB", "pyworker.cpu_s": "s",
    "pipeline.transform_s": "s", "sinks.overwrite_load_s": "s",
    "sinks.files": "count", "sinks.mb": "MB",
}
MB = 1024.0 * 1024.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=("0.01", "0.001"), default=None,
                    help="override the workload's scale factor (quick test)")
    ap.add_argument("--etl-rows", type=int, default=None,
                    help="override the etl_source row count (quick test)")
    ap.add_argument("--max-passes", type=int, default=None,
                    help="stop after this many timed passes (quick test)")
    return ap.parse_args(argv)


class Run:
    """One benchmark run: its directories, session, tracer and counters."""

    def __init__(self, args) -> None:
        self.args = args
        self.conf = dict(WORKLOADS[args.workload])
        if args.sf is not None:
            self.conf["sf"] = args.sf
        if args.etl_rows is not None:
            self.conf["etl_rows"] = args.etl_rows
        self.dir = os.path.join(ROOT, ".benchrun", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.data = os.path.join(self.dir, "data")
        self.out = os.path.join(self.dir, "out")
        self.tmp = os.path.join(self.dir, "tmp")
        self.local = os.path.join(self.dir, "spark-local")
        for d in (self.data, self.out, self.tmp, self.local):
            os.makedirs(d)
        self.cpus = min(4, len(os.sched_getaffinity(0)))
        self.spark = None
        self.probe = None
        from probes import Tracer

        self.tracer = Tracer(bool(args.trace))
        self.layer: Counter = Counter()
        self.per_pass: list[Counter] = []
        self.env: dict = {}

    # -- environment -------------------------------------------------------
    def isolate(self) -> None:
        """Fresh artifact root, temp and Spark local dirs; fixed core count and heap."""
        import tempfile

        self.env["spark_graft_cpus_seen"] = os.environ.get("SPARK_GRAFT_CPUS")
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": self.local,
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        })
        tempfile.tempdir = self.tmp

    def start_session(self):
        from aws_pandas_etl_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"bench-{self.args.workload}",
            extra_conf={
                "spark.local.dir": self.local,
                # the JVM's own temp files (native libraries, artifact
                # dirs) stay in the run directory, and a killed JVM
                # leaves no perf-data file in the system temp dir
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Run a first job and a first parquet scan on the new session."""
        spark = self.spark
        spark.range(1000).selectExpr("sum(id)").collect()
        spark.read.parquet(os.path.join(self.data, "nation.parquet")).count()

    def setup(self) -> None:
        """Set up SETUP_ROUNDS times from cold (JVM launch, session start,
        warm-up) and keep the last session; the median round is the
        set-up time.  Ending a round's JVM is not timed."""
        rounds, starts = [], []
        for _ in range(SETUP_ROUNDS):
            self.stop()
            t0 = time.perf_counter()
            starts.append(self.start_session())
            self.warm_up()
            rounds.append(time.perf_counter() - t0)
        self.setup_rounds = rounds
        self.layer["session.start_s"] = statistics.median(starts)
        from probes import JvmProbe

        self.probe = JvmProbe(self.spark)
        sc = self.spark.sparkContext
        jvm = sc._jvm
        self.env.update({
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_graft_cpus_used": self.cpus,
            "spark_version": self.spark.version,
            "java_version": str(jvm.java.lang.System.getProperty("java.version")),
            "python_version": sys.version.split()[0],
            "driver_heap_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) // (1 << 20),
            "driver_mem_conf": DRIVER_MEM,
            "pythonhashseed": os.environ.get("PYTHONHASHSEED"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "setup_rounds_s": [round(r, 4) for r in rounds],
        })

    def stop(self) -> None:
        """End the JVM and every process under it, and wait for each.

        The JVM is killed rather than stopped gracefully
        (``SparkContext.stop`` takes seconds here), and pyspark's
        handles on it are dropped, so the next ``get_spark`` launches a
        new JVM.  The run directory holding its local files is removed
        by the caller."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        from probes import descendants, wait_gone

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        under = descendants(proc.pid) if proc is not None else []
        sc = SparkContext._active_spark_context
        if sc is not None and getattr(sc, "_accumulatorServer", None):
            sc._accumulatorServer.shutdown()
        gateway.shutdown()
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)
        for pid in under:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        wait_gone(under, timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkContext._active_spark_context = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        self.spark = None

    def phase(self, name: str, t0: float) -> None:
        self.env.setdefault("phases", {})[name] = round(time.perf_counter() - t0, 3)

    # -- per-layer counters ------------------------------------------------
    def snapshot(self) -> dict:
        from probes import proc_cpu_s, pyworker_cpu_s

        p = self.probe
        jobs, stages, tasks = p.ids()
        return {
            "jobs": jobs, "stages": stages, "tasks": tasks, "gc": p.gc_s(),
            "jvm_cpu": proc_cpu_s(p.pid), "pyworker_cpu": pyworker_cpu_s(p.pid),
        }

    def pass_layers(self, before: dict, span_from: int, op_stages: Counter) -> None:
        """Close one timed pass: per-layer numbers of this pass."""
        after = self.snapshot()
        t = self.tracer
        self_s = t.self_times(span_from)
        py4j = t.py4j_by_name(span_from)
        c = Counter()
        c["readers.load_table_s"] = self_s["load_table"]
        c["queries.build_s"] = self_s["build"]
        c["queries.build_py4j"] = py4j["build"]
        c["catalyst.plan_s"] = self_s["plan"]
        c["catalyst.plan_py4j"] = py4j["plan"]
        c["spark.exec_s"] = self_s["exec"] + self_s["overwrite_load"]
        c["spark.exec_py4j"] = py4j["exec"] + py4j["overwrite_load"]
        c["pipeline.transform_s"] = self_s["transform"]
        c["sinks.overwrite_load_s"] = self_s["overwrite_load"]
        c["spark.jobs"] = after["jobs"] - before["jobs"]
        c["spark.stages"] = after["stages"] - before["stages"]
        c["spark.tasks"] = after["tasks"] - before["tasks"]
        c["jvm.gc_s"] = after["gc"] - before["gc"]
        c["jvm.cpu_s"] = after["jvm_cpu"] - before["jvm_cpu"]
        c["pyworker.cpu_s"] = after["pyworker_cpu"] - before["pyworker_cpu"]
        c["spark.input_rows"] = op_stages["input_rows"]
        for k in ("shuffle_read", "shuffle_write", "spill"):
            c[f"spark.{k}_mb"] = op_stages[k] / MB
        for k in ("readers.load_table_calls", "sinks.files", "sinks.bytes", "python.cpu_s"):
            c[k] = t.counts[k]
        c["sinks.mb"] = c.pop("sinks.bytes") / MB
        t.counts.clear()
        self.per_pass.append(c)

    def layer_metrics(self) -> dict:
        out = {}
        for name, unit in LAYER_UNITS.items():
            if name in self.layer:
                v = self.layer[name]
            else:
                v = statistics.median(p[name] for p in self.per_pass)
            out[name] = {"value": v, "unit": unit}
        return out

    # -- op-level tracing helpers ------------------------------------------
    def op_ids(self):
        return self.probe.ids()[1] if self.tracer.enabled else None

    def add_stage_totals(self, first_stage, acc: Counter) -> None:
        if self.tracer.enabled:
            acc.update(self.probe.stage_totals(first_stage, self.probe.ids()[1]))


def _quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def run_registry(run: Run) -> dict:
    from aws_pandas_etl_spark.operators import transforms
    from aws_pandas_etl_spark.plans import queries as Q
    from aws_pandas_etl_spark.sources import readers

    import checks
    from gen import STAR_TABLES
    from workloads import REGISTRY_QUERIES

    spark, data, tracer = run.spark, run.data, run.tracer
    t0 = time.perf_counter()
    Q.prebuild_shared_artifacts(spark, data)
    run.layer["artifacts.prebuild_s"] = time.perf_counter() - t0
    run.phase("prebuild_s", t0)

    # untimed passes, the first collecting the results for the oracle
    # check: pass times keep falling over the first passes of a process
    t0 = time.perf_counter()
    results: dict = {}
    for name in REGISTRY_QUERIES:
        try:
            df = Q.QUERIES[name](spark, data)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # reported by the check below as a failed query
            results[name] = exc
    for _ in range(run.conf["warm_passes"] - 1):
        for name in REGISTRY_QUERIES:
            if not isinstance(results[name], Exception):
                Q.QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()
    run.phase("warm_passes_s", t0)

    tracer.start()
    tracer.wrap(readers, "load_table", "load_table", count="readers.load_table_calls")
    for fn in ("add_row_hash", "add_audit_columns", "enforce_schema"):
        tracer.wrap(transforms, fn, "transform")
    attempts: Counter = Counter()
    raised: Counter = Counter()
    samples: list[float] = []
    passes: list[float] = []
    t_start = time.perf_counter()
    while True:
        before = run.snapshot() if tracer.enabled else None
        span_from = len(tracer.spans)
        op_stages: Counter = Counter()
        p0 = time.perf_counter()
        with tracer.span("pass"):
            for name in REGISTRY_QUERIES:
                attempts[name] += 1
                tracer.op = name
                first_stage = run.op_ids()
                with tracer.span("op"):
                    q0 = time.perf_counter()
                    try:
                        c0 = time.process_time()
                        with tracer.span("build"):
                            df = Q.QUERIES[name](spark, data)
                        tracer.counts["python.cpu_s"] += time.process_time() - c0
                        if tracer.enabled:
                            with tracer.span("plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                        samples.append(time.perf_counter() - q0)
                    except Exception:  # a failed op is counted; the loop goes on
                        traceback.print_exc()
                        raised[name] += 1
                run.add_stage_totals(first_stage, op_stages)
        passes.append(time.perf_counter() - p0)
        if tracer.enabled:
            run.pass_layers(before, span_from, op_stages)
        done = sum(attempts.values())
        if run.args.max_passes and len(passes) >= run.args.max_passes:
            break
        if time.perf_counter() - t_start >= run.args.seconds and done >= MIN_REGISTRY_EXECUTIONS:
            break
    tracer.stop()
    run.phase("timed_s", t_start)

    t0 = time.perf_counter()
    con = checks.duck_views(data, STAR_TABLES)
    bad = {}
    for name in REGISTRY_QUERIES:
        res = results[name]
        if isinstance(res, Exception):
            bad[name] = f"{type(res).__name__}: {res}"[:300]
            continue
        problem = checks.check_query(con, Q.ORACLES[name], res[0], res[1])
        if problem:
            bad[name] = problem
    con.close()
    run.phase("check_s", t0)
    failed = sum(attempts[n] if n in bad else raised[n] for n in REGISTRY_QUERIES)
    return {
        "correct": not bad,
        "attempted": sum(attempts.values()),
        "failed": failed,
        "problems": bad,
        "raised": dict(raised),
        "passes": passes,
        "samples": samples,
        "setup_extra_s": run.layer["artifacts.prebuild_s"],
    }


def run_historyload(run: Run) -> dict:
    from aws_pandas_etl_spark.operators import transforms
    from aws_pandas_etl_spark.plans import pipeline
    from aws_pandas_etl_spark.sources import readers

    import checks
    from workloads import HISTORY_TABLES, check_spec, table_spec

    spark, data, tracer = run.spark, run.data, run.tracer
    target_base = os.path.join(run.out, "landing")
    specs = {t: table_spec(t) for t in HISTORY_TABLES}
    marks: list[tuple[str, float]] = []
    op_span: list = [None]

    def source(spark_, name):
        marks.append((name, time.perf_counter()))
        if tracer.enabled:
            if op_span[0] is not None:
                tracer.end(op_span[0])
            tracer.op = name
            op_span[0] = tracer.begin("op")
        return readers.load_table(spark_, data, name)

    def one_pass(runid: int):
        marks.clear()
        results = pipeline.run(spark, specs, source, target_base, runid=runid,
                               updatedby=UPDATEDBY)
        end = time.perf_counter()
        if op_span[0] is not None:
            tracer.end(op_span[0])
            op_span[0] = None
        times = [b[1] - a[1] for a, b in zip(marks, marks[1:] + [("", end)])]
        return results, times

    # pass times keep falling over the first passes of a process
    t0 = time.perf_counter()
    for _ in range(run.conf["warm_passes"]):
        one_pass(0)
    run.phase("warm_passes_s", t0)

    tracer.start()
    tracer.wrap(readers, "load_table", "load_table", count="readers.load_table_calls")
    tracer.wrap(pipeline, "transform_table", "build", cpu="python.cpu_s")
    for fn in ("cast_bit_columns", "cast_tinyint_columns", "cast_decimal_columns",
               "cast_date_columns", "add_row_hash", "add_audit_columns",
               "standardize_column_names", "enforce_schema"):
        tracer.wrap(transforms, fn, "transform")
    if tracer.enabled:
        orig_overwrite = pipeline.overwrite_load

        def overwrite_load(df, path):
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            first_stage = run.op_ids()
            with tracer.span("overwrite_load"):
                n = orig_overwrite(df, path)
            run.add_stage_totals(first_stage, op_stages)
            files, size = checks.dir_bytes(path)
            tracer.counts["sinks.files"] += files
            tracer.counts["sinks.bytes"] += size
            return n

        tracer.replace(pipeline, "overwrite_load", overwrite_load)

    attempted = 0
    raised: Counter = Counter()
    samples: list[float] = []
    passes: list[float] = []
    rows: list[int] = []
    out_bytes: list[int] = []
    t_start = time.perf_counter()
    runid = 0
    while True:
        runid += 1
        before = run.snapshot() if tracer.enabled else None
        span_from = len(tracer.spans)
        op_stages: Counter = Counter()
        p0 = time.perf_counter()
        with tracer.span("pass"):
            results, times = one_pass(runid)
        passes.append(time.perf_counter() - p0)
        if tracer.enabled:
            run.pass_layers(before, span_from, op_stages)
        attempted += len(results)
        for r, t in zip(results, times):
            if r.status == "loaded":
                samples.append(t)
            else:
                raised[r.table] += 1
        rows.append(sum(r.rows for r in results))
        out_bytes.append(sum(checks.dir_bytes(os.path.join(target_base, t))[1]
                             for t in HISTORY_TABLES))
        if run.args.max_passes and len(passes) >= run.args.max_passes:
            break
        if time.perf_counter() - t_start >= run.args.seconds:
            break
    tracer.stop()
    run.phase("timed_s", t_start)

    t0 = time.perf_counter()
    con = checks.duck_views(data, [])
    bad = {}
    recomputed = []
    for t in HISTORY_TABLES:
        source_path = os.path.join(data, f"{t}.parquet")
        spec = check_spec(t, source_path)
        problems = checks.check_landed(
            con, source_path, os.path.join(target_base, t), spec, UPDATEDBY, runid)
        if problems:
            bad[t] = problems
        if checks.hash_recomputable(spec):
            recomputed.append(t)
    con.close()
    run.phase("check_s", t0)
    failed = sum((len(passes) if t in bad else raised[t]) for t in HISTORY_TABLES)
    return {
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "problems": bad,
        "raised": dict(raised),
        "passes": passes,
        "samples": samples,
        "rows_per_pass": rows,
        "row_hash_recomputed": recomputed,
        "out_mb_per_pass": [b / MB for b in out_bytes],
        "setup_extra_s": 0.0,
    }


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # a terminated run still ends its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        env = dict(os.environ, PYTHONHASHSEED=HASH_SEED)
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:], env)
    sys.path[:0] = [HERE, ROOT]
    import aws_pandas_etl_spark  # noqa: F401  -- fails fast outside a checkout

    from gen import etl_source, star_tables
    from probes import host_state, vm_hwm_mb

    run = Run(args)
    try:
        run.isolate()
        run.env.update({"workload": args.workload, "seed": args.seed,
                        "seconds": args.seconds, "trace": args.trace,
                        "host_start": host_state()})
        t0 = time.perf_counter()
        inputs = star_tables(run.data, run.conf["sf"])
        if run.conf["etl_rows"]:
            etl_source(run.data, run.conf["etl_rows"], args.seed)
            inputs["etl_source"] = run.conf["etl_rows"]
        run.env["inputs"] = {"sf": run.conf["sf"], "rows": inputs,
                             "generate_s": round(time.perf_counter() - t0, 3)}
        t0 = time.perf_counter()
        run.setup()
        run.phase("setup_rounds_s", t0)
        body = run_registry if args.workload.startswith("registry") else run_historyload
        res = body(run)
        rss = vm_hwm_mb(run.probe.pid)
    finally:
        t0 = time.perf_counter()
        run.tracer.stop()
        run.stop()
        run.phase("teardown_s", t0)
        t0 = time.perf_counter()
        shutil.rmtree(run.dir, ignore_errors=True)
        run.phase("cleanup_s", t0)
    run.env["host_end"] = host_state()

    samples = res["samples"] or [float("nan")]
    if args.trace:
        run.layer["jvm.peak_rss_mb"] = rss
        metrics = run.layer_metrics()
        trace_dir = os.path.join(ROOT, ".benchrun", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.json"),
                  "w") as fh:
            json.dump({"env": run.env, "spans": run.tracer.dump(),
                       "per_pass": run.per_pass}, fh)
    else:
        values = {
            "setup_s": statistics.median(run.setup_rounds) + res["setup_extra_s"],
            "pass_s": statistics.median(res["passes"]),
            "op_p50_s": statistics.median(samples),
            "op_p90_s": _quantile(samples, 0.9),
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    detail = {k: res[k] for k in res
              if k not in ("samples", "correct", "attempted", "failed")}
    detail["op_samples"] = len(res["samples"])
    detail["jvm_peak_rss_mb"] = rss
    print(json.dumps({"env": run.env, "detail": detail}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
