#!/usr/bin/env python3
"""The rtcdb_spark benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload curation_kernels --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout of the repo. One process, one client
thread (plus one RSS-sampling thread), a Spark session on
``local[$SPARK_GRAFT_CPUS]`` (all cores when unset).

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``curation_kernels``: a pass runs each registry query of the mix once,
  in a seeded order, over the seed-42 fixture parquet in
  ``perfbench/data`` (see ``reads.py``). Every result is checked against
  the query's DuckDB oracle.
- ``table_ingest``: a pass is one seeded write-then-read cycle over tables
  that start empty (see ``ingest.py``). Every read is checked against an
  in-memory model of what was written.

A run: set up the session, run the cold pass, record the covariates
(trivial-job and shuffle-job floors), run steady passes until ``--seconds``
have passed, then run the workload's untimed final checks. The last line
of stdout is the result: ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a report with the covariates, ``failed_frac`` and
the failed operations by name, the tail percentiles with their sample
counts, the per-operation medians and the ingest-only figures
(``write_p50_s``, ``write_tail_s``, ``ingest_rows_per_s``,
``bytes_stored_per_user_byte``). Traced runs also check the program's
known defects outside the workload (``known_defects``: each check's name
and its error, or null once it passes); they are reported there and not
counted in the result, whose operations all pass on this data.

End-to-end metrics (``--trace 0``):

- ``setup_s``: seconds from the start of this process until the session
  is ready: interpreter start, imports, the JVM launch in ``get_spark``,
  the registry import and one trivial job. A set-up costs a JVM launch,
  so a run takes it once.
- ``cold_pass_s``: the first pass, in the fresh session.
- ``pass_s``: median of the steady passes. A pass's time is the sum of its
  operations' times; the untimed output checks are not in it.
- ``read_p50_s``, ``read_tail_s``: latency of each read operation, pooled
  over the steady passes; the tail rule is ``harness.tail_percentile``.
- ``peak_rss_mb``: peak resident memory of this process and its
  descendants, summed as PSS so that pages forked workers share with
  their parent count once.

With ``--trace 1`` the steady passes alternate traced and untraced. Traced
passes keep a span per call, read Spark's status store at the same
boundaries and run the UDF perf profiler. The per-layer metrics are
per-pass means over the traced passes: the result line holds the layers
every workload calls, and the report line (``layers``) those only one
workload calls, and per operation its jobs, executor run time, Python
time and build time (``op_layers``). ``trace.overhead_s`` is the median
wall time of a traced pass minus that of an untraced pass, the status
store reads after each call included. Spans are written to
``perfbench/.work/traces/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curation_kernels", "table_ingest")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# the sf0.1 tables the known-defect check reads (see reads.py)
SF01_TABLES = ("documents",)
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", default="0.01", choices=("0.01", "0.001"),
        help="fixture scale; 0.001 is for the smoke test",
    )
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def check_checkout(data_dir: str) -> None:
    """Refuse to run outside a checkout that holds the program and the
    fixtures: the benchmark builds nothing and measures what is here."""
    needed = [
        os.path.join(ROOT, "rtcdb_spark", "__init__.py"),
        os.path.join(ROOT, "tests", "oracle.py"),
    ]
    needed += [os.path.join(data_dir, f"{t}.parquet") for t in TABLES]
    needed += [os.path.join(HERE, "data", "sf0.1", f"{t}.parquet") for t in SF01_TABLES]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        sys.exit(f"perfbench: not a checkout of the repo; missing {', '.join(missing)}")


def prepare_env(work_dir: str) -> None:
    """Keep every file Spark, its Python workers and the program write
    inside the run's work directory, and let the workers import
    ``rtcdb_spark`` whatever their working directory."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    env["SPARK_WAREHOUSE_DIR"] = os.path.join(work_dir, "warehouse")
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # get_spark's default heap (16g) is more than this fixture needs; a
    # fixed 2g heap (with -Xms2g above) keeps runs small and peak memory
    # comparable from run to run
    env["SPARK_DRIVER_MEMORY"] = "2g"
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (the start time
    has a 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session():
    """``get_spark``, the registry import and one trivial job, timed;
    ``setup_s`` counts from the start of the process."""
    t0 = time.perf_counter()
    from rtcdb_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    import rtcdb_spark.queries  # noqa: F401

    t2 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    return spark, {"get_spark_s": t1 - t0, "import_s": t2 - t1, "setup_s": process_age_s()}


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.harness import tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = started
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def make_workload(name: str, spark, rec, data_dir: str, work_dir: str, seed: int):
    if name == "table_ingest":
        from perfbench.ingest import TableIngest

        return TableIngest(spark, rec, work_dir, seed)
    from perfbench.reads import CurationKernels

    return CurationKernels(spark, rec, data_dir, os.path.join(HERE, "data", "sf0.1"), seed)


def covariates(spark, args) -> dict:
    import duckdb
    import pyspark

    from perfbench.harness import floor_probe

    trivial, shuffle = floor_probe(spark)
    return {
        "trivial_job_floor_s": trivial,
        "shuffle_job_floor_s": shuffle,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
        "seed": args.seed,
        "sf": args.sf,
    }


def run_passes(spark, wl, rec, args, phases: dict):
    """The cold pass, then steady passes for ``args.seconds``; with
    tracing, steady passes alternate traced and untraced, at least one
    of each. Each steady pass comes with its wall time, which includes
    the untimed output checks and, when traced, the status-store reads.
    ``phases`` gets the wall time of each step."""
    t = time.perf_counter()
    cold = wl.run_pass()
    phases["cold_pass"], t = time.perf_counter() - t, time.perf_counter()
    cov = covariates(spark, args)
    phases["covariates"], t = time.perf_counter() - t, time.perf_counter()
    steady: list[tuple[object, bool, float]] = []
    while True:
        kinds = {traced for _p, traced, _w in steady}
        enough = kinds == ({True, False} if args.trace else {False})
        if enough and time.perf_counter() - t >= args.seconds:
            break
        traced = bool(args.trace) and len(steady) % 2 == 0
        rec.tracing = traced
        if traced:
            spark.conf.set(PROFILER_CONF, "perf")
        else:
            spark.conf.unset(PROFILER_CONF)
        t_pass = time.perf_counter()
        p = wl.run_pass()
        steady.append((p, traced, time.perf_counter() - t_pass))
    rec.tracing = False
    spark.conf.unset(PROFILER_CONF)
    phases["steady"], t = time.perf_counter() - t, time.perf_counter()
    checks = wl.finish()
    known = wl.known_defects() if args.trace else []
    phases["checks"] = time.perf_counter() - t
    return cold, steady, checks, known, cov


def main(argv=None) -> int:
    args = parse_args(argv)
    data_dir = os.path.join(HERE, "data", f"sf{args.sf}")
    check_checkout(data_dir)
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    phases: dict[str, float] = {}
    try:
        prepare_env(work_dir)
        from perfbench import report
        from perfbench.harness import Recorder, RssSampler, SparkProbe, cpu_steal_ticks

        steal0 = cpu_steal_ticks()
        with RssSampler() as rss:
            spark, setup = start_session()
            phases["setup"] = setup["setup_s"]
            try:
                rec = Recorder(SparkProbe(spark))
                t = time.perf_counter()
                wl = make_workload(args.workload, spark, rec, data_dir, work_dir, args.seed)
                phases["prepare"] = time.perf_counter() - t
                cold, steady, checks, known, cov = run_passes(spark, wl, rec, args, phases)
                stored_bytes = wl.stored_bytes()
            finally:
                t = time.perf_counter()
                shutdown(spark)
                phases["shutdown"] = time.perf_counter() - t
        result, info = report.build(
            args, setup, cold, steady, checks, cov, rec, rss.peak_bytes, stored_bytes
        )
        info["phases_s"] = phases
        steal1 = cpu_steal_ticks()
        info["covariates"]["cpu_steal_frac"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
        if args.trace:
            info["known_defects"] = {op.name: op.error for op in known}
            info["trace_file"] = report.write_spans(HERE, args, rec)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
