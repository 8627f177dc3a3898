#!/usr/bin/env python3
"""Layered benchmark of the engine: one named workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from ``--seed``,
sets Spark up ``setups`` times (``setup_s`` is their median), makes one
untimed pass that checks every output and ``warmup_passes`` more while the
JIT settles (both counts per workload in ``workloads.json``), then times
whole passes over the workload's ops, at least ``MIN_PASSES`` of them and
until ``--seconds`` have elapsed. The
last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``, with ``--trace 1`` the per-layer ones. The line before
it gives the run context. ``perfbench/workloads.json`` freezes each
workload's inputs and op list and maps each layer metric to the
end-to-end metric it should move.

Everything the run writes goes to a fresh directory under
``.perfbench_tmp/`` (generated tables, Spark local dirs and warehouse,
temp files, weather destination), removed at exit; a traced run leaves its
spans in ``.perfbench_tmp/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from spans import Tracer, cached_bytes, job_group_metrics, query_phases  # noqa: E402

MIN_PASSES = 3  # timed passes per run, however long they take
DRIVER_MEM = "1g"  # ample for the generated inputs, small on a shared host


T0 = time.perf_counter()


def phase(what: str) -> None:
    """Progress on stderr: where the run's time goes."""
    print(f"[{time.perf_counter() - T0:7.2f}s] {what}", file=sys.stderr, flush=True)


def tail(samples: list[float]) -> float:
    """The sample at the highest percentile with at least ten samples
    beyond it (nearest rank), or the median when that percentile would be
    below it (21 samples or fewer)."""
    s = sorted(samples)
    return max(statistics.median(s), s[len(s) - 11] if len(s) > 10 else s[0])


def timed(fn) -> tuple[float, str | None]:
    """Run ``fn``; return its wall time and, if it raised, the error. A
    failing op is counted by the caller, never propagated."""
    t0 = time.perf_counter()
    try:
        fn()
    except Exception as exc:  # noqa: BLE001 -- the run must go on
        return time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"[:300]
    return time.perf_counter() - t0, None


class Run:
    """One benchmark process: its directory, Spark session and tallies."""

    def __init__(self, spec: dict, args, run_dir: str):
        self.spec = spec
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.dir = run_dir
        self.spark = None
        self.aqe = False
        self.setup_s: list[float] = []
        self.op_s: list[float] = []
        self.pass_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}

    def start_session(self, working_set_bytes: int, warm=None) -> None:
        """One set-up: session, AQE and shuffle tuning, optional warm cache."""
        from weather_data_data_pipeline_spark.session import (
            get_spark,
            tune_for_working_set,
        )
        from weather_data_data_pipeline_spark.sources.tables import clear_cache

        if self.spark is not None:
            clear_cache()
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "spark-warehouse"),
            # a fixed-size heap keeps the JVM's resident size repeatable
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.aqe = tune_for_working_set(self.spark, working_set_bytes)
        if warm is not None:
            with self.tracer.span("sources.warm_cache"):
                warm(self.spark)
        self.setup_s.append(time.perf_counter() - t0)

    def setup(self, working_set_bytes: int, warm=None) -> None:
        phase("setup")
        for _ in range(self.spec["workloads"][self.workload]["setups"]):
            self.start_session(working_set_bytes, warm)
        self.tracer.install_py4j_counter(self.spark)
        if warm is not None:
            self.tracer.add("sources.cached_bytes", cached_bytes(self.spark))

    def record(self, name: str, seconds: float, error: str | None) -> None:
        """Count one op execution; every execution of an op that ever
        failed in this run counts as failed."""
        self.attempted += 1
        self.op_s.append(seconds)
        if error is not None:
            self.errors.setdefault(name, error)
        if name in self.errors:
            self.failed += 1

    def warm_up(self, check_pass, one_pass) -> None:
        """The checking pass, then ``warmup_passes`` passes while the JIT
        settles; tracing off, no samples kept. Pass times keep falling for
        several passes while the JIT compiles (bench.py runs three untimed
        warm-ups), longest on curation_builder, whose builders send over a
        thousand py4j calls per pass; timing that slope would make the
        median follow how far the JIT had got."""
        phase("check pass")
        self.tracer.enabled = False
        check_pass(-1)
        for k in range(self.spec["workloads"][self.workload]["warmup_passes"]):
            phase(f"warm-up pass {k} took {one_pass(-2 - k):.2f}s")
        self.op_s.clear()
        phase("timed passes")

    def timed_passes(self, one_pass) -> None:
        """Whole passes until the time is up. A traced run alternates
        untraced and traced passes, so it measures its own overhead."""
        deadline = time.perf_counter() + self.seconds
        k = 0
        while (len(self.pass_s) + len(self.traced_pass_s) < MIN_PASSES
               or time.perf_counter() < deadline):
            self.tracer.enabled = self.traced and k % 2 == 1
            wall = one_pass(k)
            phase(f"pass {k} took {wall:.2f}s")
            (self.traced_pass_s if self.tracer.enabled else self.pass_s).append(wall)
            k += 1
        if self.traced and not self.traced_pass_s:
            self.tracer.enabled = True
            self.traced_pass_s.append(one_pass(k))
        self.tracer.enabled = self.traced

    def stop(self) -> float:
        """Stop Spark and its JVM, wait for the JVM to exit, and return the
        peak RSS (MB) of this process plus the JVM."""
        phase("stop")
        rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if self.spark is None:
            return rss_kb / 1024
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        with open(f"/proc/{proc.pid}/status") as f:
            rss_kb += next(
                int(line.split()[1]) for line in f if line.startswith("VmHWM:")
            )
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        return rss_kb / 1024


# --- registry workloads ----------------------------------------------------


def registry_workload(run: Run) -> float:
    """Time the workload's frozen registry ops, each written to a noop
    sink. Returns result rows per second of a pass."""
    import bench
    from weather_data_data_pipeline_spark import registry
    from weather_data_data_pipeline_spark.sources import tables

    import check

    ops = run.spec["workloads"][run.workload]["ops"]
    data = os.path.join(run.dir, "data")
    gen.write_tables(gen.make_tables(run.seed), data)
    working_set = sum(
        os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in tables.TABLES
    )

    def warm(spark):  # the curation rows read documents only
        tables.warm_cache(spark, data, ("documents",), partitions=tables.DOC_FANOUT)

    run.setup(working_set, warm)
    spark = run.spark
    keep = bench.persistent_ids(spark)
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")

    def width(name: str) -> None:
        # the per-row static shuffle width bench.py applies when AQE is off
        tag = next((t for t in registry.get_query(name).tags
                    if t.startswith("shuffle")), None)
        parts = tag[len("shuffle"):] if tag and not run.aqe else base_parts
        spark.conf.set("spark.sql.shuffle.partitions", parts)

    oracles = {n: q for n, q in registry.oracle_sql().items() if n in ops}
    out_rows: dict[str, int] = {}

    def verify(name: str, expected) -> None:
        fn = registry.get_query(name).fn
        df = fn(spark, data)
        rows = df.collect()
        out_rows[name] = len(rows)
        if name in oracles:
            err = check.oracle_mismatch(df.schema, rows, expected.result()[name])
        else:  # rows-only: no oracle, so the result must repeat exactly
            again = fn(spark, data).collect()
            err = (
                None
                if check.digest(rows, df.columns) == check.digest(again, df.columns)
                else "rows-only result differs between two executions"
            )
        if err:
            raise AssertionError(err)

    def check_pass(k: int) -> float:
        # DuckDB computes the oracles in a thread while Spark warms up
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(
                check.oracle_results, data, tables.TABLES, oracles
            )
            for name in ops:
                width(name)
                secs, err = timed(lambda: verify(name, expected))
                print(f"check {name} {secs:.2f}s {err or 'ok'}", file=sys.stderr)
                run.record(name, secs, err)
                bench.release_transients(spark, keep)
        return 0.0

    order = random.Random(run.seed)

    def one_pass(k: int) -> float:
        names = list(ops)
        order.shuffle(names)
        wall = 0.0
        for name in names:
            width(name)
            fn = registry.get_query(name).fn
            if run.tracer.enabled:
                secs, err = timed(lambda: traced_op(run, name, fn, data, k))
                run.tracer.add("exec.output_rows", out_rows.get(name, 0))
            else:
                secs, err = timed(
                    lambda: fn(spark, data).write.format("noop").mode("overwrite").save()
                )
            run.record(name, secs, err)
            print(f"  {name} {secs:.2f}s {err or 'ok'}", file=sys.stderr)
            wall += secs
            bench.release_transients(spark, keep)
        return wall

    run.warm_up(check_pass, one_pass)
    run.timed_passes(one_pass)
    return sum(out_rows.values()) / statistics.median(run.pass_s)


def traced_op(run: Run, name: str, fn, data: str, k: int) -> None:
    """One op with a span per layer: builder, Catalyst, execution."""
    import bench

    spark, t = run.spark, run.tracer
    sc = spark.sparkContext
    build_group, exec_group = f"b-{name}-{k}", f"x-{name}-{k}"
    rdds = len(bench.persistent_ids(spark))
    with t.span("op", f"{name}#{k}"):
        sc.setJobGroup(build_group, name)
        sent = t.py4j_commands
        with t.span("plans.build") as build:
            df = fn(spark, data)
        t.add("plans.py4j_calls", t.py4j_commands - sent)
        sc.setJobGroup(exec_group, name)
        with t.span("catalyst"):
            phases = query_phases(df)
        with t.span("exec") as execute:
            df.write.format("noop").mode("overwrite").save()
        sc.setJobGroup(None, None)
    t.add("plans.materialized_rdds", len(bench.persistent_ids(spark)) - rdds)
    for phase, secs in phases.items():
        t.add(f"catalyst.{phase}_s", secs)
    b = job_group_metrics(spark, build_group)
    t.add("plans.build_jobs", b.get("jobs", 0))
    t.add("plans.build_job_s", b.get("job_s", 0.0))
    x = job_group_metrics(spark, exec_group)
    for m in ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "gc_s"):
        t.add(f"exec.{m}", x.get(m, 0))
    t.counts["exec.task_skew"] = max(
        t.counts.get("exec.task_skew", 1.0), b["task_skew"], x["task_skew"]
    )
    for m in ("scan_tasks", "input_bytes"):
        t.add(f"sources.{m}", b.get(m, 0) + x.get(m, 0))
    if name in run.spec["split_rows"]:
        t.add(f"row.{name}.build_s", build["end"] - build["start"])
        t.add(f"row.{name}.exec_s", execute["end"] - execute["start"])


# --- weather ETL -----------------------------------------------------------


class TracedWeather:
    """For one batch, wrap the ``pipeline.weather`` functions that
    ``run_full_load`` calls in spans, and give the append its own job
    group so its write can be read from the status store."""

    SPANS = {
        "payloads_to_df": "weather.ingest",
        "flatten_forecast": "weather.flatten",
        "transform_weather": "weather.transform",
        "calculate_avg_temperature": "weather.report_build",
        "calculate_avg_humidity": "weather.report_build",
    }

    def __init__(self, run: Run, module, tag: str):
        self.run, self.module = run, module
        self.groups = (f"w-{tag}", f"a-{tag}")
        self.saved = {}

    def __enter__(self):
        t, group = self.run.tracer, self.groups[1]
        self.run.spark.sparkContext.setJobGroup(self.groups[0], "batch")
        for fname, span in self.SPANS.items():
            self.saved[fname] = orig = getattr(self.module, fname)

            def wrapped(*a, _orig=orig, _span=span, **kw):
                with t.span(_span):
                    return _orig(*a, **kw)

            setattr(self.module, fname, wrapped)
        self.saved["append_idempotent"] = append = self.module.append_idempotent

        def traced_append(new_rows, dest_path, spark):
            spark.sparkContext.setJobGroup(group, "append")
            with t.span("weather.append"):
                append(new_rows, dest_path, spark)

        self.module.append_idempotent = traced_append
        return self

    def __exit__(self, *exc):
        for fname, orig in self.saved.items():
            setattr(self.module, fname, orig)
        t, spark = self.run.tracer, self.run.spark
        spark.sparkContext.setJobGroup(None, None)
        batch, append = (job_group_metrics(spark, g) for g in self.groups)
        t.add("weather.rows_appended", append.get("output_records", 0))
        t.add("sink.bytes_written", append.get("output_bytes", 0))
        for m in ("scan_tasks", "input_bytes", "tasks", "jobs",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s"):
            layer = "sources" if m in ("scan_tasks", "input_bytes") else "exec"
            t.add(f"{layer}.{m}", batch.get(m, 0) + append.get(m, 0))
        t.counts["exec.task_skew"] = max(
            t.counts.get("exec.task_skew", 1.0),
            batch["task_skew"], append["task_skew"],
        )
        return False


def count_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def weather_workload(run: Run) -> float:
    """Each pass: a full load into an empty destination, hourly batches
    whose forecast window moves one three-hourly step each, and an
    identical re-run of the last batch. Returns forecast rows offered per
    second of a pass."""
    from pyspark.sql import functions as F

    from weather_data_data_pipeline_spark.pipeline import weather as W

    import check

    cfg = run.spec["workloads"]["weather_etl"]
    n_cities, batches = cfg["cities"], cfg["hourly_batches"]
    cities = gen.make_cities(run.seed, n_cities)
    forecasts = gen.make_forecasts(run.seed, n_cities, gen.FORECAST_STEPS + batches)
    steps = [*range(batches + 1), batches]  # full load, hourly, re-run
    payloads = {s: gen.make_payloads(cities, forecasts, s) for s in set(steps)}
    temps = forecasts["temp"].tolist()
    weekly = [check.expected_weekly_avg(cities, temps, s) for s in steps]
    keys = n_cities * (gen.FORECAST_STEPS + batches)
    offered = n_cities * gen.FORECAST_STEPS

    run.setup(len(json.dumps(payloads[0])))
    spark = run.spark
    job_ts = F.lit("2024-01-01 00:00:00").cast("timestamp")

    def load(s: int, dest: str) -> None:
        W.run_full_load(spark, payloads[s], dest, "2023-12-29", "2023-12-31",
                        job_ts=job_ts)

    def verify(dest: str, before_rerun: int) -> None:
        total = spark.read.parquet(os.path.join(dest, "weather_report_data")).count()
        if total != keys:
            raise AssertionError(
                f"destination holds {total} rows; the generator made {keys} keys"
            )
        if total != before_rerun:
            raise AssertionError(f"identical re-run appended {total - before_rerun} rows")
        report = spark.read.parquet(
            os.path.join(dest, "weekly_avg_temp_report_data")
        ).collect()
        err = check.weekly_avg_mismatch(weekly, report)
        if err:
            raise AssertionError(err)

    def one_pass(k: int) -> float:
        dest = os.path.join(run.dir, "weather", f"pass{k}")
        fact_dir = os.path.join(dest, "weather_report_data")
        failed_before = run.failed
        wall = 0.0
        before_rerun = -1
        for i, s in enumerate(steps):
            if i == len(steps) - 1 and os.path.isdir(fact_dir):
                before_rerun = spark.read.parquet(fact_dir).count()
            name = f"batch{i}"
            if run.tracer.enabled:
                files = count_files(fact_dir)
                with TracedWeather(run, W, f"{k}-{i}"), run.tracer.span("op", name):
                    secs, err = timed(lambda: load(s, dest))
                run.tracer.add("sink.files_written", count_files(fact_dir) - files)
                run.tracer.add("weather.rows_offered", offered)
            else:
                secs, err = timed(lambda: load(s, dest))
            run.record(name, secs, err)
            print(f"  {name} {secs:.2f}s {err or 'ok'}", file=sys.stderr)
            wall += secs
        _, err = timed(lambda: verify(dest, before_rerun))  # untimed check
        if err:
            run.errors.setdefault("weather_check", err)
            run.failed = failed_before + len(steps)  # the whole pass failed
        shutil.rmtree(dest, ignore_errors=True)
        return wall

    run.warm_up(one_pass, one_pass)
    run.timed_passes(one_pass)
    return offered * len(steps) / statistics.median(run.pass_s)


# --- reporting -------------------------------------------------------------


def context(args) -> dict:
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "weather_data_data_pipeline_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    src.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True)
        commit = out.stdout.strip() or None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "commit": commit,
        "package_sha256": src.hexdigest()[:16],
    }


def layer_metrics(run: Run, names: list[str]) -> dict[str, float]:
    """Per-layer figures: set-up layers per set-up, the rest per traced
    pass (ratios and the skew maximum as they are)."""
    c = run.tracer.counts
    per_pass = max(1, len(run.traced_pass_s))
    rows_in = c.get("weather.rows_offered", 0.0)
    rows_out = c.get("weather.rows_appended", 0.0)
    special = {
        "session.start_s": c.get("session.start_s", 0.0) / len(run.setup_s),
        "sources.warm_cache_s": c.get("sources.warm_cache_s", 0.0) / len(run.setup_s),
        "sources.cached_bytes": c.get("sources.cached_bytes", 0.0),
        "exec.s": c.get("exec_s", 0.0) / per_pass,
        "exec.task_skew": c.get("exec.task_skew", 1.0),
        "weather.reports_s": (
            c.get("op_self_s", 0.0) / per_pass if rows_in else 0.0
        ),
        "weather.append_ratio": rows_out / rows_in if rows_in else 0.0,
        "sink.bytes_per_row": (
            c.get("sink.bytes_written", 0.0) / rows_out if rows_out else 0.0
        ),
        "trace.overhead_s": (
            statistics.median(run.traced_pass_s) - statistics.median(run.pass_s)
        ),
    }
    return {
        m: special[m] if m in special else c.get(m, 0.0) / per_pass for m in names
    }


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "weather_data_data_pipeline_spark")):
        print(f"no engine package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench_def = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    run = Run(spec, args, run_dir)
    phase("generate inputs")
    try:
        if args.workload == "weather_etl":
            rows_per_s = weather_workload(run)
        else:
            rows_per_s = registry_workload(run)
    finally:
        peak_rss_mb = run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        kind = "per_layer"
        metrics = layer_metrics(run, [m["name"] for m in bench_def[kind]])
        os.makedirs(os.path.join(tmp_root, "traces"), exist_ok=True)
        run.tracer.write(os.path.join(
            tmp_root, "traces", f"{args.workload}-seed{args.seed}.jsonl"
        ))
    else:
        kind = "end_to_end"
        metrics = {
            "setup_s": statistics.median(run.setup_s),
            "wall_s": statistics.median(run.pass_s),
            "op_p50_s": statistics.median(run.op_s),
            "op_tail_s": tail(run.op_s),
            "rows_per_s": rows_per_s,
            "peak_rss_mb": peak_rss_mb,
        }
    units = {m["name"]: m["unit"] for m in bench_def[kind]}
    ctx = context(args)
    ctx.update(ops=len(run.op_s), passes=len(run.pass_s),
               failed_frac=run.failed / max(1, run.attempted), errors=run.errors)
    print("context " + json.dumps(ctx, sort_keys=True))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
